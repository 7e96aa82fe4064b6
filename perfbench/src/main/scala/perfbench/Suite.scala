package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch_suite workload: a fixed subset of `SparkEntry.queries`, each
  * run to completion by [[execute]], in a closed loop with one client. The first
  * pass runs in the fresh session (codegen compiles, shared-artifact fills,
  * eager index training) in an order the seed permutes, because shared
  * caches make cold costs depend on order; warm passes in the fixed suite
  * order follow for the run's seconds. */
object Suite {

  /** A query of the suite with its expected row count and, where the content
    * hash repeated when recorded, the hash. */
  final case class Expect(name: String, module: String, rows: Long, hash: Option[Long])

  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "CdcQueries" -> graft.queries.CdcQueries.queries,
    "ReconcileQueries" -> graft.queries.ReconcileQueries.queries,
    "RelQueries" -> graft.queries.RelQueries.queries,
    "ExtQueries" -> graft.queries.ExtQueries.queries,
    "StreamQueries" -> graft.queries.StreamQueries.queries)

  /** Operator families, by the query-name prefixes that drive them. */
  val families: Seq[(String, Seq[String])] = Seq(
    "Dedup" -> Seq("ext_dedup_"),
    "Knn" -> Seq("ext_sim_"),
    "Multimodal" -> Seq("ext_multimodal_", "stream_multimodal_"),
    "TrainPrep" -> Seq("ext_pack_", "ext_mix_", "ext_split_", "ext_curriculum",
      "ext_sample_", "ext_shuffle_", "ext_batch_"))

  def family(q: String): Option[String] =
    families.collectFirst { case (f, ps) if ps.exists(q.startsWith) => f }

  /** The suite: every `Stride`-th query of each module in name order. */
  val Stride = 14
  def subset: Seq[(String, String)] = modules.flatMap { case (m, qs) =>
    qs.keys.toSeq.sorted.zipWithIndex.collect { case (q, i) if i % Stride == Stride / 2 => (q, m) }
  }

  def readExpect(f: File): Seq[Expect] =
    scala.io.Source.fromFile(f, "UTF-8").getLines().filterNot(_.startsWith("#")).map { l =>
      val Array(n, m, r, h) = l.split('\t')
      Expect(n, m, r.toLong, if (h == "-") None else Some(h.toLong))
    }.toSeq

  private def fn(name: String) = graft.SparkEntry.queries(name)

  /** Run a query to completion: every row of its result is materialized
    * once, by one action that counts rows and sums their hashes (an
    * order-independent content hash). */
  def execute(df: DataFrame): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val (rows, hash) = (sc.longAccumulator, sc.longAccumulator)
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      var n, h = 0L
      it.foreach { r => n += 1; h += r.hashCode }
      rows.add(n); hash.add(h)
    }
    (rows.sum, hash.sum)
  }

  /** The fixed synthetic fixture (schemas of the repo's fixture tables, about
    * sf0.001 in size). It does not depend on the run's seed, so recorded
    * row counts and hashes hold for every seed. */
  def writeFixture(spark: SparkSession, dir: File): Unit = {
    def u(tag: String, c: Column*): Column =
      pmod(xxhash64((lit(tag) +: c): _*), lit(1000000L)).cast("double") / 1e6
    def pick(tag: String, xs: Seq[String], c: Column*): Column =
      element_at(array(xs.map(lit): _*), (pmod(xxhash64((lit(tag) +: c): _*), lit(xs.size.toLong)) + 1).cast("int"))
    def ntz(c: Column): Column = c.cast("timestamp_ntz")
    val id = col("id")
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
    val day0 = to_timestamp(lit("1995-01-01 00:00:00"))
    def days(d: Column): Column = timestamp_seconds(unix_timestamp(day0) + d * 86400L)

    write("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    write("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    val nCust = 150L
    write("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      (floor(u("cn", id) * 25)).cast("int").as("c_nationkey"),
      round(u("cb", id) * 10800 - 900, 2).as("c_acctbal"),
      pick("cs", Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"), id).as("c_mktsegment")))
    write("supplier", spark.range(10).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      (floor(u("sn", id) * 25)).cast("int").as("s_nationkey"),
      round(u("sb", id) * 10000, 2).as("s_acctbal")))
    val nPart = 200L
    write("part", spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick("pa", Seq("cold", "small", "large", "shiny", "red"), id),
        pick("pn", Seq("widget", "bolt", "gear", "valve", "spring"), id)).as("p_name"),
      concat(lit("Brand#"), (floor(u("pb", id) * 25) + 1).cast("string")).as("p_brand"),
      pick("pt", Seq("ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM"), id).as("p_type"),
      (floor(u("ps", id) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + id * 0.1, 2).as("p_retailprice")))
    val nOrd = 1500L
    write("orders", spark.range(nOrd).select(id.as("o_orderkey"),
      floor(u("oc", id) * nCust).cast("long").as("o_custkey"),
      pick("os", Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(u("op", id) * 400000 + 1000, 2).as("o_totalprice"),
      ntz(days(floor(u("od", id) * 2400))).as("o_orderdate"),
      pick("oo", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority")))
    write("lineitem", spark.range(6000L).select(
      floor(u("lo", id) * nOrd).cast("long").as("l_orderkey"),
      floor(u("lp", id) * nPart).cast("long").as("l_partkey"),
      floor(u("ls", id) * 10).cast("long").as("l_suppkey"),
      (floor(u("ll", id) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u("lq", id) * 50) + 1).cast("double").as("l_quantity"),
      round(u("le", id) * 100000 + 900, 2).as("l_extendedprice"),
      (floor(u("ld", id) * 11) / 100).as("l_discount"),
      (floor(u("lt", id) * 9) / 100).as("l_tax"),
      pick("lr", Seq("N", "A", "R"), id).as("l_returnflag"),
      pick("lx", Seq("O", "F"), id).as("l_linestatus"),
      ntz(days(floor(u("lh", id) * 2500) + 1)).as("l_shipdate")))
    val nEv = 1000L
    write("events", spark.range(nEv).select(id.as("event_id"),
      ntz(timestamp_seconds(unix_timestamp(to_timestamp(lit("2024-01-01 00:00:00"))) +
        id * 2580L + floor(u("et", id) * 600).cast("long"))).as("ts"),
      floor(u("eu", id) * 15).cast("long").as("user_id"),
      pick("ey", Seq("click", "purchase", "error", "signup", "view"), id).as("event_type"),
      round(u("ev", id) * 327.5 + 0.03, 2).as("value"),
      concat(lit("{\"k\": "), floor(u("ek", id) * 100).cast("long").cast("string"), lit("}")).as("props")))
    val vocab = Seq("the", "a", "fast", "slow", "key", "order", "sort", "table", "scan", "merge",
      "part", "window", "small", "big", "hash", "join", "batch", "stream", "spark", "dup", "group",
      "query", "row", "data", "filter", "customer", "line", "value", "agg", "column", "vector")
    val nDoc = 500L
    // One doc in ten copies an earlier doc's words and changes its last three.
    val src = when(u("dd", id) < 0.1 && id > 20, id - 1 - floor(u("dc", id) * 20).cast("long")).otherwise(id)
    val nWords = lit(20) + floor(u("dn", col("src")) * 70).cast("int")
    val docs = spark.range(nDoc).withColumn("src", src).withColumn("nw", nWords)
      .withColumn("text", array_join(transform(sequence(lit(1), col("nw")), i =>
        element_at(array(vocab.map(lit): _*), (pmod(xxhash64(
          when(i > col("nw") - 3 && col("src") =!= col("id"), col("id")).otherwise(col("src")), i),
          lit(vocab.size.toLong)) + 1).cast("int"))), " "))
    write("documents", docs.select(col("id").as("doc_id"), col("text"),
      pick("dl", Seq("en", "en", "en", "fr", "es", "zh", "de"), col("id")).as("lang"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars")))
    val label = floor(u("el", id) * 10).cast("int")
    write("embeddings", spark.range(nDoc).withColumn("label", label).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((u("ec", col("label"), j) - 0.5) * 0.5 + (u("en", id, j) - 0.5) * 0.2).cast("float")).as("embedding"),
      col("label")))
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, work: File,
          expectFile: File, tracer: Option[Tracer], only: Option[Int]): Outcome = {
    val fixture = new File(work, "fixture")
    val ts = Stats.nowS
    writeFixture(spark, fixture)
    spark.read.parquet(new File(fixture, "events.parquet").getPath).count()
    val setupS = Stats.nowS - ts
    val dir = fixture.getPath
    val expect = readExpect(expectFile)
    val suite = only.map(n => expect.take(n)).getOrElse(expect)
    val order = new scala.util.Random(seed).shuffle(suite)

    final case class Sample(q: Expect, pass: Int, constructS: Double, wallS: Double, ok: Boolean)
    val samples = ArrayBuffer[Sample]()
    val errors = ArrayBuffer[String]()
    def pass(p: Int): Unit = {
      val tag = if (p == 0) "first" else "warm"
      (if (p == 0) order else suite).foreach { q =>
        val t0 = Stats.nowS
        var tc = t0
        val ok =
          try {
            val df = tracer.fold(fn(q.name)(spark, dir))(_.span(s"construct.$tag")(fn(q.name)(spark, dir)))
            tc = Stats.nowS
            val (rows, hash) = tracer.fold(execute(df))(_.span(s"execute.$tag")(execute(df)))
            val ok = rows == q.rows && q.hash.forall(_ == hash)
            if (!ok) errors += s"${q.name} pass $p: rows $rows hash $hash, " +
              s"want ${q.rows} ${q.hash.getOrElse("-")}"
            ok
          } catch { case NonFatal(e) => errors += s"${q.name} pass $p: ${Live.firstLine(e)}"; false }
        samples += Sample(q, p, tc - t0, Stats.nowS - t0, ok)
      }
    }
    val snap0 = tracer.map(_.snapshot())
    val gc0 = Tracer.jvmGcMs()
    val t0 = Stats.nowS
    pass(0)
    val snap1 = tracer.map(_.snapshot())
    val t1 = Stats.nowS
    var p = 1
    while (p == 1 || Stats.nowS - t1 < seconds) { pass(p); p += 1 }
    val windowS = Stats.nowS - t0
    val snap2 = tracer.map(_.snapshot())
    val warmPasses = p - 1

    // A query fails when any of its executions throws or returns rows whose
    // count or hash differs from the recorded ones.
    val failedQ = samples.filterNot(_.ok).map(_.q.name).toSet
    val attempted = suite.size.toLong
    val failed = failedQ.size.toLong

    val first = samples.filter(_.pass == 0)
    val warm = samples.filter(_.pass > 0)
    val firstS = first.map(_.wallS).sum
    // Each query's warm time is its median over the warm passes.
    val warmQ = warm.groupBy(_.q.name).values.map(ss => Stats.median(ss.map(_.wallS))).toSeq
    val warmS = warmQ.sum
    val summary = Seq(
      ("setup_s", setupS, "s"),
      ("first_pass_s", firstS, "s"),
      ("warm_pass_s", warmS, "s"),
      ("query_p50_s", Stats.pct(warmQ, 0.5), "s"),
      ("query_p95_s", Stats.pct(warmQ, 0.95), "s"),
      ("failed_frac", failed.toDouble / attempted, "ratio"))
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_s" -> Stats.pct(warmQ, 0.5),
      "latency_p95_s" -> Stats.pct(warmQ, 0.95),
      "secondary_s" -> warmS)

    val layers: Map[String, Double] = tracer.map { t =>
      val (f, w) = (snap1.get - snap0.get, snap2.get - snap1.get)
      def perWarm(x: Double) = x / warmPasses
      val byModule = modules.map { case (m, _) =>
        s"queries.$m.warm_s" -> perWarm(warm.filter(_.q.module == m).map(_.wallS).sum) }
      val byFamily = families.map { case (fam, _) =>
        s"ops.$fam.warm_s" -> perWarm(warm.filter(s => family(s.q.name).contains(fam)).map(_.wallS).sum) }
      (Map(
        "queries.first_pass_s" -> firstS,
        "queries.construction_s.first" -> first.map(_.constructS).sum,
        "queries.construction_s.warm" -> perWarm(warm.map(_.constructS).sum),
        "queries.eager_jobs.first" -> t.jobsUnder("construct.first:").toDouble,
        "queries.eager_jobs.warm" -> perWarm(t.jobsUnder("construct.warm:").toDouble),
        "codegen.compile_s.first" -> f.compileMsSum / 1e3,
        "codegen.compile_s.warm" -> perWarm(w.compileMsSum / 1e3),
        "codegen.classes.first" -> f.classes.toDouble,
        "codegen.classes.warm" -> perWarm(w.classes.toDouble),
        "trace.latency_p50_s" -> Stats.pct(warm.map(_.wallS), 0.5)) ++ byModule ++ byFamily)
    }.getOrElse(Map.empty)

    val notes = ArrayBuffer(f"queries=${suite.size} warm_passes=$warmPasses window_s=$windowS%.1f " +
      f"jvm_gc_s=${(Tracer.jvmGcMs() - gc0) / 1e3}%.2f")
    if (failedQ.nonEmpty) notes += s"failed queries: ${failedQ.toSeq.sorted.mkString(" ")}"
    notes ++= errors.take(10)
    Outcome(failed == 0, attempted, failed, endToEnd, layers, summary, notes.toSeq)
  }

  /** Record the expected row counts and hashes at the current commit. A hash
    * is kept only when it repeats under two shuffle-partition counts. */
  def record(spark: SparkSession, work: File, out: File): Unit = {
    val fixture = new File(work, "fixture")
    Main.deleteTree(fixture)
    writeFixture(spark, fixture)
    val dir = fixture.getPath
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val lines = subset.map { case (q, m) =>
      val (rows, h1) = execute(fn(q)(spark, dir))
      spark.conf.set("spark.sql.shuffle.partitions", (parts.toInt * 2 + 1).toString)
      val (rows2, h2) = try execute(fn(q)(spark, dir))
        finally spark.conf.set("spark.sql.shuffle.partitions", parts)
      require(rows == rows2, s"$q: row count differs between runs ($rows, $rows2)")
      s"$q\t$m\t$rows\t${if (h1 == h2) h1.toString else "-"}"
    }
    java.nio.file.Files.writeString(out.toPath,
      "# query\tmodule\trows\thash (- = checked by row count only)\n" + lines.mkString("", "\n", "\n"))
  }
}
