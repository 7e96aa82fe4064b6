package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; `perfbench/run.py` builds the classpath and runs it.
  *
  *   perfbench.Main --workload <cdc_ingest|monitor_fanout|batch_suite>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --bench-dir <dir>
  *     [--smoke] [--record <file>]
  *
  * Prints one line per metric under the workload's own names, then, as the
  * last line, the JSON result: end-to-end metrics when untraced, per-layer
  * metrics when traced. */
object Main {

  /** End-to-end metrics, under the names BENCHMARK.json declares. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_s" -> "s", "latency_p95_s" -> "s",
    "secondary_s" -> "s")

  /** Per-layer metrics; a layer a workload does not exercise reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "stream.trigger_ms.p50" -> "ms", "stream.trigger_ms.p95" -> "ms",
    "stream.add_batch_ms.p50" -> "ms", "stream.planning_ms.p50" -> "ms",
    "stream.wal_ms.p50" -> "ms", "stream.latest_offset_ms.p50" -> "ms",
    "source.files_end" -> "count", "stream.rows_read_per_event" -> "ratio",
    "state.bytes_written_per_event" -> "B", "state.dir_bytes_end" -> "B",
    "state.versions_end" -> "count", "reader.failed" -> "count",
    "reader.files_per_read" -> "count", "fanout.trigger_ms.p50" -> "ms",
    "fanout.rows_read_per_event" -> "ratio", "fanout.busy_frac" -> "ratio",
    "queries.first_pass_s" -> "s",
    "queries.construction_s.first" -> "s", "queries.construction_s.warm" -> "s",
    "queries.eager_jobs.first" -> "count", "queries.eager_jobs.warm" -> "count",
    "queries.CdcQueries.warm_s" -> "s", "queries.ReconcileQueries.warm_s" -> "s",
    "queries.RelQueries.warm_s" -> "s", "queries.ExtQueries.warm_s" -> "s",
    "queries.StreamQueries.warm_s" -> "s",
    "ops.Dedup.warm_s" -> "s", "ops.Knn.warm_s" -> "s", "ops.Multimodal.warm_s" -> "s",
    "ops.TrainPrep.warm_s" -> "s",
    "codegen.compile_s.first" -> "s", "codegen.compile_s.warm" -> "s",
    "codegen.classes.first" -> "count", "codegen.classes.warm" -> "count",
    "engine.planning_s" -> "s", "engine.execution_s" -> "s",
    "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.busy_frac" -> "ratio",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB", "scan.input_mb" -> "MB",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "gen.late_ms.p95" -> "ms", "check.ckpt_vs_progress_ms.p50" -> "ms",
    "trace.latency_p50_s" -> "s", "trace.callback_s" -> "s")

  val workloads = Seq("cdc_ingest", "monitor_fanout", "batch_suite")

  @volatile var cpus: Int = 1

  def main(argv: Array[String]): Unit = {
    val flags = Set("--smoke")
    def parse(xs: List[String]): Map[String, String] = xs match {
      case f :: rest if flags(f) => parse(rest) + (f -> "1")
      case k :: v :: rest if k.startsWith("--") => parse(rest) + (k -> v)
      case Nil => Map.empty
      case other => usage(s"unexpected arguments: ${other.mkString(" ")}")
    }
    val a = parse(argv.toList)
    def arg(k: String) = a.getOrElse(k, usage(s"missing $k"))
    val work = new File(arg("--work")).getAbsoluteFile
    val benchDir = new File(arg("--bench-dir"))
    cpus = Runtime.getRuntime.availableProcessors()
    val smoke = a.contains("--smoke")

    val t0 = Stats.nowS
    val spark = session(work)
    val sessionS = Stats.nowS - t0
    val expectFile = new File(benchDir, "batch_suite.tsv")
    a.get("--record") match {
      case Some(out) =>
        Suite.record(spark, work, new File(out))
        spark.stop()
        return
      case None =>
    }

    val workload = arg("--workload")
    if (!workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val load0 = loadAvg()
    val w0 = Stats.nowS
    val snap0 = tracer.map(_.snapshot())
    val out = workload match {
      case "cdc_ingest" => Live.run(spark, seed,
        Live.Config(docs = if (smoke) 10000 else 1000000, seconds, reader = true, monitors = false),
        work, tracer)
      case "monitor_fanout" => Live.run(spark, seed,
        Live.Config(docs = 10000, seconds, reader = false, monitors = true), work, tracer)
      case "batch_suite" => Suite.run(spark, seed, seconds, work, expectFile, tracer,
        if (smoke) Some(4) else None)
    }
    val endToEnd = out.endToEnd + ("setup_s" -> (out.endToEnd("setup_s") + sessionS))
    val layers = tracer.map { t =>
      val eng = t.engineMetrics(t.snapshot() - snap0.get, Stats.nowS - w0, cpus)
      t.write(new File(work, s"trace-$workload.jsonl"))
      out.layers ++ eng
    }.getOrElse(Map.empty)

    println(f"[perfbench] $workload seed=$seed nproc=$cpus load_before=$load0%.2f " +
      f"load_after=${loadAvg()}%.2f session_s=$sessionS%.2f")
    out.summary.foreach { case (n, v, u) =>
      val shown = if (n == "setup_s") v + sessionS else v
      println(f"[perfbench] $workload $n = $shown%.4f $u")
    }
    out.notes.foreach(n => println(s"[perfbench] $workload note: $n"))
    println(s"[perfbench] $workload correct=${out.correct} attempted=${out.attempted} failed=${out.failed}")
    val metrics =
      if (trace) perLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      else endToEnd.toSeq.sortBy(m => Main.endToEnd.indexWhere(_._1 == m._1))
        .map { case (n, v) => (n, v, Main.endToEnd.find(_._1 == n).get._2) }
    spark.stop()
    println(Stats.resultLine(out.correct, out.attempted, out.failed, metrics))
  }

  def session(work: File): SparkSession = {
    val tmp = new File(work, "spark-local")
    tmp.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.exists()) f.length() else 0L

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}
