package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.{MicroBatchExecution, StreamExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `parent` names the span that caused it: a benchmark
  * span id, or `trigger:<queryId>:<batchId>` for the micro-batch a job ran in. */
final case class Span(id: String, parent: String, name: String, startUs: Long, endUs: Long)

/** One micro-batch as its `StreamingQueryProgress` reports it. */
final case class Trigger(queryId: String, batchId: Long, startUs: Long,
                         durations: Map[String, Long], inputRows: Long)

/** Counters of the engine under the benchmark's calls. */
final case class EngineSnapshot(cpuNs: Long, gcMs: Long, runMs: Long, tasks: Long,
                                stages: Long, jobs: Long, shuffleWriteBytes: Long,
                                spillBytes: Long, inputBytes: Long, planningNs: Long,
                                executionNs: Long, compileMsSum: Double, classes: Long,
                                jvmGcMs: Long) {
  def -(o: EngineSnapshot): EngineSnapshot = EngineSnapshot(cpuNs - o.cpuNs, gcMs - o.gcMs,
    runMs - o.runMs, tasks - o.tasks, stages - o.stages, jobs - o.jobs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, planningNs - o.planningNs, executionNs - o.executionNs,
    compileMsSum - o.compileMsSum, classes - o.classes, jvmGcMs - o.jvmGcMs)
}

/** The traced run's instruments: a SparkListener (tasks, stages, jobs), a
  * QueryExecutionListener (planning phases of each execution), a
  * StreamingQueryListener (per-trigger durations and input rows), Spark's
  * codegen metrics, the JVM's GC and heap beans, and the spans the benchmark
  * records around its own calls. Everything stays in memory until [[write]]. */
final class Tracer(spark: SparkSession) {
  val SpanKey = "perfbench.span"

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val ids = new AtomicLong(0)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val callbackNs = new LongAdder
  private val cpuNs, gcMs, runMs, tasks, stages, jobs, shuffleW, spill, input, planNs, execNs =
    new LongAdder
  private val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally callbackNs.add(System.nanoTime() - t)
  }

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        cpuNs.add(m.executorCpuTime); gcMs.add(m.jvmGCTime); runMs.add(m.executorRunTime)
        shuffleW.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.add(m.inputMetrics.bytesRead)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed(stages.increment())
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.increment()
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(SpanKey))).orElse(
        for {
          q <- p.flatMap(x => Option(x.getProperty(StreamExecution.QUERY_ID_KEY)))
          b <- p.flatMap(x => Option(x.getProperty(MicroBatchExecution.BATCH_ID_KEY)))
        } yield s"trigger:$q:$b").getOrElse("")
      jobsBySpan.computeIfAbsent(parent, _ => new LongAdder).increment()
      jobStarts.put(e.jobId, (e.time * 1000, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStarts.remove(e.jobId)).foreach { case (start, parent) =>
        spans.add(Span(s"job:${e.jobId}", parent, "spark.job", start, e.time * 1000))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      planNs.add(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      execNs.add(durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp)
      triggers.add(Trigger(p.id.toString, p.batchId,
        start.getEpochSecond * 1000000L + start.getNano / 1000,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  heapPools.foreach(_.resetPeakUsage())
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def nextId(prefix: String): String = s"$prefix:${ids.incrementAndGet()}"

  def record(s: Span): Unit = spans.add(s)

  /** Run `body` as a span; Spark jobs it starts on this thread name it as parent. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId(name)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    val t0 = Clock.epochUs()
    try body finally {
      spans.add(Span(id, "", name, t0, Clock.epochUs()))
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Jobs started under spans whose id starts with `prefix`. */
  def jobsUnder(prefix: String): Long =
    jobsBySpan.asScala.collect { case (k, v) if k.startsWith(prefix) => v.sum }.sum

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  def snapshot(): EngineSnapshot = {
    drain()
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    EngineSnapshot(cpuNs.sum, gcMs.sum, runMs.sum, tasks.sum, stages.sum, jobs.sum,
      shuffleW.sum, spill.sum, input.sum, planNs.sum, execNs.sum,
      ct.getSnapshot.getMean * ct.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount, Tracer.jvmGcMs())
  }

  def triggerList: Seq[Trigger] = { drain(); triggers.asScala.toSeq }

  /** Engine and JVM per-layer metrics over a window of `wallS` seconds. */
  def engineMetrics(d: EngineSnapshot, wallS: Double, cpus: Int): Map[String, Double] = Map(
    "engine.planning_s" -> d.planningNs / 1e9,
    "engine.execution_s" -> d.executionNs / 1e9,
    "exec.cpu_s" -> d.cpuNs / 1e9,
    "exec.gc_s" -> d.gcMs / 1e3,
    "exec.busy_frac" -> d.runMs / 1e3 / (wallS * cpus),
    "exec.jobs" -> d.jobs.toDouble,
    "exec.stages" -> d.stages.toDouble,
    "exec.tasks" -> d.tasks.toDouble,
    "exec.shuffle_write_mb" -> d.shuffleWriteBytes / 1048576.0,
    "exec.spill_mb" -> d.spillBytes / 1048576.0,
    "scan.input_mb" -> d.inputBytes / 1048576.0,
    "jvm.gc_s" -> d.jvmGcMs / 1e3,
    "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
    "trace.callback_s" -> callbackNs.sum / 1e9)

  /** Write every span, with its self time (its duration minus the part of it
    * its children cover), and every trigger as JSON lines. */
  def write(path: java.io.File): Unit = {
    drain()
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    def self(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s.endUs - s.startUs) - covered
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.sortBy(_.startUs).foreach { s =>
        w.println(s"""{"span":"${s.id}","parent":"${s.parent}","name":"${s.name}",""" +
          s""""start_us":${s.startUs},"end_us":${s.endUs},"self_us":${self(s)}}""")
      }
      triggers.asScala.toSeq.sortBy(_.startUs).foreach { t =>
        val d = t.durations.map { case (k, v) => s""""$k":$v""" }.mkString(",")
        w.println(s"""{"trigger":"trigger:${t.queryId}:${t.batchId}","start_us":${t.startUs},""" +
          s""""input_rows":${t.inputRows},"duration_ms":{$d}}""")
      }
    } finally w.close()
  }
}

object Tracer {
  def jvmGcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Wall clock in epoch microseconds, monotone within a run. Checkpoint file
  * times are epoch times, so latencies are taken on this clock. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def epochUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}
