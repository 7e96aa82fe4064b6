package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming._

/** What a workload hands back to [[Main]]. `endToEnd` uses the names in
  * BENCHMARK.json; `summary` holds the workload's own metric names. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         endToEnd: Map[String, Double], layers: Map[String, Double],
                         summary: Seq[(String, Double, String)], notes: Seq[String])

/** The two live workloads: an open-loop generator publishes pre-staged drops
  * into the source directory while `CdcPipeline.start(availableNow = false)`
  * replicates them, with either one closed-loop reader on the live target
  * (cdc_ingest) or four events monitors on the same source (monitor_fanout). */
object Live {

  /** The processing-time trigger interval of graft's continuous streams. */
  val TriggerUs = 5000000L

  /** Open-loop traffic: the reference's peak rate, one drop per tenth of
    * the trigger interval. */
  val RatePerS = 600
  val DropIntervalUs = 100000L

  /** A point lookup starts no later than this before a trigger boundary. */
  val ReadGuardUs = 1000000L

  /** `seconds` of measured drops follow one trigger interval of warm-up
    * drops: the first micro-batch of a freshly started query is slower, and
    * it would otherwise set a third of a short run's figures. */
  final case class Config(docs: Int, seconds: Double, reader: Boolean, monitors: Boolean) {
    val warmupDrops: Int = (TriggerUs / DropIntervalUs).toInt
    val drops: Int = warmupDrops + math.max(1, math.round(seconds * 1e6 / DropIntervalUs).toInt)
    val eventsPerDrop: Int = (RatePerS * DropIntervalUs / 1000000L).toInt
  }

  /** An events monitor: how to start it and how to read its report. */
  final case class Monitor(name: String,
                           start: (SparkSession, String, String, String, Boolean) => StreamingQuery,
                           report: (SparkSession, String) => DataFrame)

  val monitors: Seq[Monitor] = Seq(
    Monitor("benford", BenfordStream.start(_, _, _, _, _),
      (s, t) => BenfordStream.report(BenfordStream.state(s, t))),
    Monitor("topk", TopkStream.start(_, _, _, _, _),
      (s, t) => TopkStream.report(TopkStream.state(s, t))),
    Monitor("scd2", Scd2Stream.start(_, _, _, _, _),
      (s, t) => Scd2Stream.report(Scd2Stream.state(s, t))),
    Monitor("ldiversity", LDiversityStream.start(_, _, _, _, _),
      (s, t) => LDiversityStream.report(LDiversityStream.state(s, t))))

  /** Directories of one set-up. Target and checkpoint dirs come per query. */
  final class Env(root: File) {
    val source = new File(root, "source")
    val stage = new File(root, "stage")
    def target(q: String) = new File(root, s"target/$q").getPath
    def ckpt(q: String) = new File(root, s"ckpt/$q").getPath
    def delete(): Unit = Main.deleteTree(root)
  }

  /** Set-up: stage every drop, seed the source with one `signup` per
    * document, and drain it through the pipeline and the monitors, all
    * started together with `availableNow = true`, into the checkpoints the
    * live run continues. */
  def setUp(spark: SparkSession, gen: Gen, cfg: Config, root: File): Env = {
    import spark.implicits._
    val env = new Env(root)
    Main.deleteTree(root)
    val rows = gen.dropEvents.zipWithIndex.toSeq.flatMap { case (es, d) => es.map(e => (d, e)) }
    rows.toDF("drop", "e").select(col("drop"), col("e.*"))
      .repartition(Main.cpus, col("drop"))
      .write.partitionBy("drop").parquet(env.stage.getPath)
    val seedStage = new File(root, "seed-stage")
    spark.range(gen.nDocs).select(
      col("id").as("event_id"),
      timestamp_millis(lit(Gen.SeedTsMs) + col("id") % 1000).as("ts"),
      col("id").as("user_id"), lit("signup").as("event_type"),
      ((col("id") % 997 + 1) + 0.25).cast("double").as("value"),
      concat(lit("{\"k\": "), (col("id") % 100).cast("string"), lit("}")).as("props"))
      .repartition(Main.cpus).write.parquet(seedStage.getPath)
    env.source.mkdirs()
    parquetFiles(seedStage).zipWithIndex.foreach { case (f, i) =>
      Files.move(f.toPath, new File(env.source, f"seed-$i%03d.parquet").toPath)
    }
    Main.deleteTree(seedStage)
    val seeding = CdcPipeline.start(spark, env.source.getPath, env.target("replica"),
      env.ckpt("replica")) +: (if (cfg.monitors) monitors.map { m =>
        m.start(spark, env.source.getPath, env.target(m.name), env.ckpt(m.name), true)
      } else Nil)
    seeding.foreach(_.awaitTermination())
    env
  }

  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  def dropName(d: Int): String = f"drop-$d%05d.parquet"

  /** Checkpoint reading: the file source's log and `offsets/<id>` give
    * file → batch; the write times of `offsets/<id>` and `commits/<id>` give
    * batch start and end. */
  object Ckpt {
    private val PathRe = "\"path\":\"([^\"]+)\"".r
    private val BatchRe = "\"batchId\":(\\d+)".r
    private val LogOffsetRe = "\"logOffset\":(\\d+)".r

    private def lines(dir: File): Seq[(String, Seq[String])] =
      Option(dir.listFiles()).toSeq.flatten
        .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp"))
        .flatMap { f =>
          try Some(f.getName -> Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString))
          catch { case NonFatal(_) => None } // compacted away while listing
        }

    /** File → query batch. The source log numbers its own batches, and a
      * query batch that reads no new file (a stateful query's no-data
      * batch) does not advance it, so a source batch maps to the first
      * query batch whose `offsets/<id>` ends at or past it. */
    def fileBatches(ck: String): Map[String, Long] = {
      val ends = lines(new File(ck, "offsets")).flatMap { case (id, ls) =>
        ls.flatMap(LogOffsetRe.findFirstMatchIn).headOption.map(m => id.toLong -> m.group(1).toLong)
      }.sortBy(_._1)
      lines(new File(ck, "sources/0")).flatMap(_._2).flatMap { l =>
        for { p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l)
              (id, _) <- ends.find(_._2 >= b.group(1).toLong) }
          yield p.group(1).split('/').last -> id
      }.toMap
    }

    private def mtimeUs(f: File): Option[Long] =
      if (f.exists()) Some(Files.getLastModifiedTime(f.toPath)
        .to(java.util.concurrent.TimeUnit.MICROSECONDS)) else None

    def commitUs(ck: String, id: Long): Option[Long] = mtimeUs(new File(ck, s"commits/$id"))
    def offsetUs(ck: String, id: Long): Option[Long] = mtimeUs(new File(ck, s"offsets/$id"))

    /** When the trigger that ran batch `id` fired: on the last trigger
      * boundary before its `offsets/<id>` write, or, when the previous batch
      * ran past that boundary, as soon as that batch committed. */
    def triggerUs(ck: String, id: Long): Option[Long] = offsetUs(ck, id).map { o =>
      val boundary = o / TriggerUs * TriggerUs
      commitUs(ck, id - 1).fold(boundary)(math.max(boundary, _))
    }
  }

  /** Per drop: the commit time of the batch holding it, when committed. */
  def dropCommits(ck: String, drops: Int): Array[Option[(Long, Long)]] = {
    val fb = Ckpt.fileBatches(ck)
    Array.tabulate(drops) { d =>
      fb.get(dropName(d)).flatMap(b => Ckpt.commitUs(ck, b).map(b -> _))
    }
  }

  def run(spark: SparkSession, seed: Long, cfg: Config, work: File,
          tracer: Option[Tracer]): Outcome = {
    val t0 = Stats.nowS
    val gen = new Gen(seed, cfg.docs, cfg.drops, cfg.eventsPerDrop)
    val env = setUp(spark, gen, cfg, new File(work, "live"))
    val setupS = Stats.nowS - t0
    val queryNames = "replica" +: (if (cfg.monitors) monitors.map(_.name) else Nil)

    val replica = CdcPipeline.start(spark, env.source.getPath, env.target("replica"),
      env.ckpt("replica"), availableNow = false)
    val streams = replica +: (if (cfg.monitors) monitors.map { m =>
      m.start(spark, env.source.getPath, env.target(m.name), env.ckpt(m.name), false)
    } else Nil)

    // Traced runs sample each committed replica version's size on disk.
    val versionBytes = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val sizeListener = tracer.map { _ =>
      val l = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.id == replica.id && e.progress.numInputRows > 0)
            versionBytes.put(e.progress.batchId,
              Main.treeBytes(new File(env.target("replica") + s".v${e.progress.batchId}")))
      }
      spark.streams.addListener(l); l
    }
    val qName = streams.map(_.id.toString).zip(queryNames).toMap

    // Open-loop publisher: drop d is due at dueUs(d) and is published by an
    // atomic rename of its pre-staged file. Warm-up drops go out at once,
    // spread up to a boundary of the pipelines' 5 s processing-time trigger
    // (triggers fire on multiples of the interval since the epoch); measured
    // drops start just after it, one per drop interval, so every run splits
    // them into the same micro-batches and the schedule's phase against the
    // trigger clock does not move the figures.
    val warmStartUs = Clock.epochUs() + 300000L
    val boundaryUs = ((warmStartUs + 2000000L) / TriggerUs + 1) * TriggerUs
    val dueUs = Array.tabulate(cfg.drops) { d =>
      if (d < cfg.warmupDrops) warmStartUs + d * (boundaryUs - warmStartUs) / cfg.warmupDrops
      else boundaryUs + DropIntervalUs / 2 + (d - cfg.warmupDrops) * DropIntervalUs
    }
    val lateUs = new Array[Long](cfg.drops)
    val staged = Array.tabulate(cfg.drops)(d => parquetFiles(new File(env.stage, s"drop=$d")).head)
    @volatile var stopReader = false
    val publisher = new Thread(() => {
      for (d <- 0 until cfg.drops) {
        val wait = dueUs(d) - Clock.epochUs()
        if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
        Files.move(staged(d).toPath, new File(env.source, dropName(d)).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        lateUs(d) = Clock.epochUs() - dueUs(d)
      }
    }, "perfbench-publisher")

    // Closed-loop reader: point lookups on the live target, between commits.
    // StateCommit deletes the superseded version as soon as the next commit
    // lands, so a scan that spans a commit fails with FILE_NOT_EXIST; a
    // lookup therefore starts only while no trigger runs and at least
    // ReadGuardUs before the next trigger boundary.
    final case class Read(startUs: Long, endUs: Long, ok: Boolean, files: Int)
    val reads = ArrayBuffer[Read]()
    val readErrors = ArrayBuffer[String]()
    def betweenCommits: Boolean = {
      val now = Clock.epochUs()
      !replica.status.isTriggerActive && (now / TriggerUs + 1) * TriggerUs - now >= ReadGuardUs
    }
    val reader = new Thread(() => {
      val rnd = new java.util.SplittableRandom(seed * 31 + 7)
      val zipf = new Zipf(cfg.docs, Gen.ZipfExponent)
      val sc = spark.sparkContext
      while (!stopReader) if (!betweenCommits) Thread.sleep(5) else {
        val key = zipf.sample(rnd)
        val files = if (tracer.isDefined) liveFiles(env.target("replica")) else 0
        val id = tracer.map(_.nextId("read")).getOrElse("")
        tracer.foreach(t => sc.setLocalProperty(t.SpanKey, id))
        val t0 = Clock.epochUs()
        val ok =
          try { CdcPipeline.state(spark, env.target("replica")).filter(col("user_id") === key).collect(); true }
          catch { case NonFatal(e) => readErrors += firstLine(e); false }
        val t1 = Clock.epochUs()
        tracer.foreach(_.record(Span(id, "", "read", t0, t1)))
        reads += Read(t0, t1, ok, files)
      }
    }, "perfbench-reader")

    val measureT0 = Stats.nowS
    publisher.start()
    if (cfg.reader) reader.start()
    publisher.join()
    val deadlineUs = dueUs.last + 60000000L
    val files = (0 until cfg.drops).map(dropName).toSet
    def committedEverywhere: Boolean = queryNames.forall { q =>
      val ck = env.ckpt(q)
      val fb = Ckpt.fileBatches(ck)
      files.forall(f => fb.get(f).exists(b => Ckpt.commitUs(ck, b).isDefined))
    }
    while (!committedEverywhere && Clock.epochUs() < deadlineUs && streams.forall(_.isActive))
      Thread.sleep(100)
    stopReader = true
    if (cfg.reader) reader.join()
    val windowS = Stats.nowS - measureT0
    val streamErrors = streams.flatMap(_.exception.map(e => firstLine(e)))
    streams.foreach(_.stop())
    sizeListener.foreach(spark.streams.removeListener)

    // End-to-end latencies, from the checkpoints alone.
    val commits = queryNames.map(q => q -> dropCommits(env.ckpt(q), cfg.drops)).toMap
    val uncommitted = (0 until cfg.drops).filter(d => queryNames.exists(q => commits(q)(d).isEmpty)).toSet
    val committed = (cfg.warmupDrops until cfg.drops).filterNot(uncommitted)
    val commitLat = committed.map(d => (commits("replica")(d).get._2 - dueUs(d)) / 1e6)
    // The same without the wait for the trigger, which the schedule fixes:
    // from the trigger that picked the drop up to the commit. Printed, not
    // declared: it spreads more from run to run than the largest bound.
    def processUs(q: String, d: Int): Long = {
      val (b, c) = commits(q)(d).get
      c - Ckpt.triggerUs(env.ckpt(q), b).get
    }
    val processLat = committed.map(d => processUs("replica", d) / 1e6)
    val dropsInBatch = committed.groupBy(d => commits("replica")(d).get._1)
    val liveBatches = dropsInBatch.keys.toSeq.sorted
    val batchDurS = liveBatches.map { b =>
      (Ckpt.commitUs(env.ckpt("replica"), b).get - Ckpt.offsetUs(env.ckpt("replica"), b).get) / 1e6
    }
    val eventsCommitted = committed.map(d => gen.dropEvents(d).size).sum
    val capacity = eventsCommitted / batchDurS.sum
    val monitorLat = if (cfg.monitors) committed.map(d =>
      (monitors.map(m => commits(m.name)(d).get._2).max - dueUs(d)) / 1e6) else Nil
    val monitorProcessLat = if (cfg.monitors) committed.map(d =>
      monitors.map(m => processUs(m.name, d)).max / 1e6) else Nil

    // Correctness: replication against last-write-wins over all events.
    val repl = checkReplica(spark, gen, env.target("replica"))
    val failedDrops = (uncommitted ++ repl.lostDrops).size
    val monitorChecks = if (cfg.monitors) checkMonitors(spark, env, new File(work, "replay")) else Nil
    val failedReads = reads.count(!_.ok)
    val attempted = cfg.drops + reads.size + monitorChecks.size + 1
    val failed = failedDrops + failedReads + monitorChecks.count(_._2.nonEmpty) + (if (repl.totalsOk) 0 else 1)

    val okReads = reads.filter(r => r.ok && r.startUs >= dueUs(cfg.warmupDrops))
      .map(r => (r.endUs - r.startUs) / 1e6)
    val readLat = if (okReads.nonEmpty) okReads else Seq(Double.NaN)
    val late = lateUs.map(_ / 1e3)
    val summary = ArrayBuffer[(String, Double, String)](
      ("setup_s", setupS, "s"),
      ("commit_p50_s", Stats.pct(commitLat, 0.5), "s"),
      ("commit_p95_s", Stats.pct(commitLat, 0.95), "s"),
      ("trigger_commit_p50_s", Stats.pct(processLat, 0.5), "s"),
      ("trigger_commit_p95_s", Stats.pct(processLat, 0.95), "s"),
      ("capacity_eps", capacity, "events/s"))
    if (cfg.reader) summary ++= Seq(
      ("read_p50_s", Stats.pct(readLat, 0.5), "s"), ("read_p95_s", Stats.pct(readLat, 0.95), "s"))
    if (cfg.monitors) summary ++= Seq(
      ("monitor_p50_s", Stats.pct(monitorLat, 0.5), "s"),
      ("monitor_p95_s", Stats.pct(monitorLat, 0.95), "s"),
      ("trigger_monitor_p50_s", Stats.pct(monitorProcessLat, 0.5), "s"))
    summary += (("failed_frac", failed.toDouble / attempted, "ratio"))

    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_s" -> Stats.pct(commitLat, 0.5),
      "latency_p95_s" -> Stats.pct(commitLat, 0.95),
      "secondary_s" -> Stats.pct(if (cfg.reader) readLat else monitorLat, 0.5))

    val layers: Map[String, Double] = tracer.map { t =>
      val measured = queryNames.map(q => q -> committed.flatMap(d => commits(q)(d).map(_._1)).toSet).toMap
      val trig = t.triggerList.filter(tr => qName.get(tr.queryId).exists(measured(_)(tr.batchId)))
      val byQ = trig.groupBy(tr => qName(tr.queryId))
      val rep = byQ.getOrElse("replica", Nil)
      def p(xs: Seq[Trigger], k: String, q: Double) =
        if (xs.isEmpty) 0.0 else Stats.pct(xs.map(_.durations.getOrElse(k, 0L).toDouble), q)
      val ckVsProgress = rep.flatMap { tr =>
        for { c <- Ckpt.commitUs(env.ckpt("replica"), tr.batchId)
              o <- Ckpt.triggerUs(env.ckpt("replica"), tr.batchId) }
          yield math.abs((c - o) / 1e3 - tr.durations.getOrElse("triggerExecution", 0L))
      }
      val versions = Option(new File(env.target("replica")).getParentFile.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("replica.v"))
      val fanQ = byQ.filter(_._1 != "replica")
      val measuredS = (queryNames.flatMap(q => committed.flatMap(d => commits(q)(d).map(_._2))).max -
        boundaryUs) / 1e6
      Map(
        "stream.trigger_ms.p50" -> p(rep, "triggerExecution", 0.5),
        "stream.trigger_ms.p95" -> p(rep, "triggerExecution", 0.95),
        "stream.add_batch_ms.p50" -> p(rep, "addBatch", 0.5),
        "stream.planning_ms.p50" -> p(rep, "queryPlanning", 0.5),
        "stream.wal_ms.p50" -> p(rep, "walCommit", 0.5),
        "stream.latest_offset_ms.p50" -> p(rep, "latestOffset", 0.5),
        "stream.rows_read_per_event" -> rep.map(_.inputRows).sum.toDouble / eventsCommitted,
        "source.files_end" -> parquetFiles(env.source).size.toDouble,
        "state.bytes_written_per_event" ->
          liveBatches.map(b => versionBytes.getOrDefault(b, 0L)).sum.toDouble / eventsCommitted,
        "state.dir_bytes_end" -> versions.map(Main.treeBytes).sum.toDouble,
        "state.versions_end" -> versions.size.toDouble,
        "reader.failed" -> failedReads.toDouble,
        "reader.files_per_read" -> (if (reads.isEmpty) 0.0 else reads.map(_.files).sum.toDouble / reads.size),
        "fanout.trigger_ms.p50" -> (if (fanQ.isEmpty) 0.0 else fanQ.values.map(p(_, "triggerExecution", 0.5)).max),
        "fanout.rows_read_per_event" -> (if (fanQ.isEmpty) 0.0 else trig.map(_.inputRows).sum.toDouble / eventsCommitted),
        "fanout.busy_frac" -> (if (fanQ.isEmpty) 0.0 else
          trig.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3 / (queryNames.size * measuredS)),
        "gen.late_ms.p95" -> Stats.pct(late, 0.95),
        "check.ckpt_vs_progress_ms.p50" -> (if (ckVsProgress.isEmpty) 0.0 else Stats.median(ckVsProgress)),
        "trace.latency_p50_s" -> Stats.pct(commitLat, 0.5))
    }.getOrElse(Map.empty)

    // Each drop, from its due time to its replication commit, as a span.
    tracer.foreach { t =>
      committed.foreach { d =>
        t.record(Span(s"drop:$d", s"trigger:${replica.id}:${commits("replica")(d).get._1}",
          "drop_to_commit", dueUs(d), commits("replica")(d).get._2))
      }
    }

    val notes = ArrayBuffer[String](
      f"drops=${cfg.drops} events=${gen.liveEvents} batches=${liveBatches.size} " +
        f"reads=${reads.size} window_s=$windowS%.1f late_ms_p95=${Stats.pct(late, 0.95)}%.1f " +
        s"batch_s=${batchDurS.map(d => f"$d%.2f").mkString(",")} " +
        s"batch_events=${liveBatches.map(b => dropsInBatch(b).map(gen.dropEvents(_).size).sum).mkString(",")}")
    if (uncommitted.nonEmpty) notes += s"${uncommitted.size} drops left uncommitted"
    if (repl.wrongKeys > 0) notes += s"replica: ${repl.wrongKeys} keys differ from " +
      s"last-write-wins; ${repl.lostDrops.size} drops lost their winning write"
    if (!repl.totalsOk) notes += s"replica: ${repl.totalsNote}"
    monitorChecks.filter(_._2.nonEmpty).foreach { case (n, d) => notes += s"monitor $n: live report != replay: $d" }
    if (readErrors.nonEmpty) notes += s"reads failed: ${readErrors.size}, first: ${readErrors.head}"
    streamErrors.foreach(e => notes += s"stream error: $e")
    env.delete()
    Outcome(failed == 0 && streamErrors.isEmpty, attempted, failed, endToEnd, layers,
      summary.toSeq, notes.toSeq)
  }

  /** Parquet files in the committed version the live target currently names. */
  private def liveFiles(target: String): Int =
    try {
      val id = Files.readString(new File(target + ".applied").toPath).trim
      parquetFiles(new File(s"$target.v$id")).size
    } catch { case NonFatal(_) => 0 }

  final case class ReplicaCheck(wrongKeys: Int, lostDrops: Set[Int], totalsOk: Boolean,
                                totalsNote: String)

  /** The live target against last-write-wins by `(ts, event_id)` over the
    * seed documents and every non-delete event, computed here in plain
    * Scala: every touched key row by row, and the row count and
    * Σ(event_id − user_id) over the whole target. */
  def checkReplica(spark: SparkSession, gen: Gen, target: String): ReplicaCheck = {
    import spark.implicits._
    val events = gen.dropEvents.toSeq.flatten
    val expected = gen.expectedState(events)
    val touched = events.map(_.user_id).distinct
    val want: Map[Long, Long] = touched.map { k =>
      k -> expected.get(k).map(_.event_id).getOrElse(k)
    }.toMap
    val state = CdcPipeline.state(spark, target)
    val got: Map[Long, Long] = state.join(touched.toDF("user_id"), "user_id")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    val wrong = want.filter { case (k, v) => !got.get(k).contains(v) }.keys
    val firstDrop: Map[Long, Int] = gen.dropEvents.zipWithIndex.reverseIterator
      .flatMap { case (es, d) => es.map(_.event_id -> d) }.toMap
    val lost = wrong.flatMap(k => expected.get(k).flatMap(e => firstDrop.get(e.event_id))).toSet
    val newKeys = events.filter(_.user_id >= gen.nDocs).map(_.user_id).distinct.size
    val wantRows = gen.nDocs.toLong + newKeys
    val wantSum = want.map { case (k, v) => v - k }.sum
    val Row(rows: Long, delta: java.math.BigDecimal) =
      state.agg(count(lit(1)), sum((col("event_id") - col("user_id")).cast("decimal(38,0)"))).head()
    val totalsOk = rows == wantRows && Option(delta).map(_.longValueExact).getOrElse(0L) == wantSum
    ReplicaCheck(wrong.size, lost, totalsOk,
      s"rows $rows (want $wantRows), sum(event_id - user_id) $delta (want $wantSum)")
  }

  /** Each monitor's live report against the same monitor's `availableNow`
    * replay of the same source directory into a fresh target. The replays
    * run together. */
  def checkMonitors(spark: SparkSession, env: Env, replay: File): Seq[(String, String)] = {
    Main.deleteTree(replay)
    def fresh(m: Monitor, what: String) = new File(replay, s"$what/${m.name}").getPath
    monitors.map(m => m.start(spark, env.source.getPath, fresh(m, "target"), fresh(m, "ckpt"), true))
      .foreach(_.awaitTermination())
    def rows(m: Monitor, target: String) = m.report(spark, target).collect().map(_.toString).sorted.toSeq
    val out = monitors.map { m =>
      val (live, again) = (rows(m, env.target(m.name)), rows(m, fresh(m, "target")))
      m.name -> (if (live == again) "" else s"live has ${live.diff(again).take(3).mkString(" ")}, " +
        s"replay has ${again.diff(live).take(3).mkString(" ")}")
    }
    Main.deleteTree(replay)
    out
  }

  def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString.take(300)
}
