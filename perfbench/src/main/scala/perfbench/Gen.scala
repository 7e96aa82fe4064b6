package perfbench

import java.sql.Timestamp

/** One generated change event, in the `CdcPipeline.eventsFileSchema` shape. */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)

/** The open-loop traffic of a live workload, generated up front from a seed.
  *
  * Keys are Zipf-skewed over the documents the target was seeded with. The
  * `event_type` mix follows the fixture's CDC mapping: 20 % `signup` (insert
  * of a new key), 20 % `error` (delete, dropped by the pipeline), 60 %
  * updates. Event times run up to `MaxSkewMs` behind their arrival order,
  * which stays inside the pipeline's 1 h watermark; one document's changes
  * arrive in the order of their times, as a change stream delivers them.
  * Redelivery is a change-stream resume: about 2 % of events arrive again,
  * unchanged and in their order, as the replay of the last few drops that
  * rides in a later drop. */
final class Gen(seed: Long, val nDocs: Int, val drops: Int, val eventsPerDrop: Int) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)
  private val zipf = new Zipf(nDocs, ZipfExponent)

  /** Seed documents: one `signup` per key, older than every live event. */
  def seedDoc(key: Long): Event =
    Event(key, new Timestamp(SeedTsMs + key % 1000), key, "signup",
      (key % 997 + 1) + 0.25, s"""{"k": ${key % 100}}""")

  /** Live events per drop, redeliveries included. */
  val dropEvents: Array[Vector[Event]] = {
    val out = Array.fill(drops)(Vector.newBuilder[Event])
    val fresh = Array.fill(drops)(Vector.newBuilder[Event])
    val lastTs = scala.collection.mutable.HashMap[Long, Long]()
    var nextId = nDocs.toLong
    var nextKey = nDocs.toLong
    for (d <- 0 until drops) {
      if (d > 0 && rnd.nextDouble() < ResumeRate) {
        val from = math.max(0, d - 1 - rnd.nextInt(ResumeMaxDrops))
        (from until d).foreach(r => out(d) ++= fresh(r).result())
      }
      for (i <- 0 until eventsPerDrop) {
        val seq = d.toLong * eventsPerDrop + i
        val u = rnd.nextDouble()
        val (kind, key) =
          if (u < 0.2) { nextKey += 1; ("signup", nextKey - 1) }
          else if (u < 0.4) ("error", zipf.sample(rnd))
          else (UpdateTypes(rnd.nextInt(UpdateTypes.length)), zipf.sample(rnd))
        val skewed = LiveTsMs + seq * 1000 / Live.RatePerS - rnd.nextLong(MaxSkewMs)
        val ts = lastTs.get(key).fold(skewed)(t => math.max(skewed, t + 1))
        lastTs(key) = ts
        val value = (rnd.nextInt(99999) + 1) / 100.0
        val e = Event(nextId, new Timestamp(ts), key, kind, value,
          s"""{"k": ${rnd.nextInt(100)}}""")
        nextId += 1
        out(d) += e
        fresh(d) += e
      }
    }
    out.map(_.result())
  }

  def liveEvents: Int = dropEvents.map(_.size).sum

  /** Last-write-wins state over the seed documents and every non-delete
    * live event, keyed by `(ts, event_id)`: key → winning event. */
  def expectedState(touched: Iterable[Event]): Map[Long, Event] = {
    val m = scala.collection.mutable.HashMap[Long, Event]()
    touched.foreach { e =>
      if (e.event_type != "error") {
        val cur = m.getOrElse(e.user_id,
          if (e.user_id < nDocs) seedDoc(e.user_id) else null)
        if (cur == null || wins(e, cur)) m(e.user_id) = e
      }
    }
    m.toMap
  }
}

object Gen {
  val ZipfExponent = 1.0
  /** A resume in one drop of 100 replays 1–3 drops: about 2 % of events. */
  val ResumeRate = 0.01
  val ResumeMaxDrops = 3
  val MaxSkewMs: Long = 30L * 60 * 1000
  val UpdateTypes: Array[String] = Array("click", "purchase", "view")
  val SeedTsMs: Long = java.time.Instant.parse("2024-05-01T00:00:00Z").toEpochMilli
  val LiveTsMs: Long = java.time.Instant.parse("2024-06-01T00:00:00Z").toEpochMilli

  def wins(a: Event, b: Event): Boolean =
    a.ts.getTime > b.ts.getTime || (a.ts.getTime == b.ts.getTime && a.event_id > b.event_id)
}

/** Zipf sampler over `n` ranks by inverse-CDF binary search. Ranks map to
  * keys through a fixed odd-multiplier bijection, so hot keys are spread
  * over the key space instead of sitting at its start. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
    i = 0
    while (i < n) { c(i) /= acc; i += 1 }
    c
  }

  def sample(rnd: java.util.SplittableRandom): Long = {
    val u = rnd.nextDouble()
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    ((lo.toLong * 2654435761L) % n + n) % n
  }
}
