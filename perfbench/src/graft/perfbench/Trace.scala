package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval; `parent` is the id of the span that caused it
  * (0 for a root). Spans of one query execution share `query`.
  */
final case class Span(id: Long, parent: Long, name: String, query: String,
                      startNs: Long, endNs: Long)

/** In-memory span store. The benchmark opens spans around its own calls
  * into the engine (query → build / plan / execute); the Spark listener
  * adds one child span per job under whichever span is open when the
  * job starts. The harness writes [[records]] out at the end of a run.
  */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val open = new AtomicReference[(Long, String)]((0L, ""))

  def current: (Long, String) = open.get

  def apply[T](name: String, query: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val prev = open.getAndSet((id, query))
    val t0 = System.nanoTime()
    try body finally {
      add(Span(id, prev._1, name, query, t0, System.nanoTime()))
      open.set(prev)
    }
  }

  def add(s: Span): Unit = buf.synchronized { buf += s }

  def child(parent: Long, name: String, query: String, startNs: Long, endNs: Long): Unit =
    add(Span(ids.incrementAndGet(), parent, name, query, startNs, endNs))

  def records: List[Map[String, Any]] = buf.synchronized(buf.toList).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}

/** Task, stage and job counters from a SparkListener. Callbacks run on
  * one listener-bus thread; the harness reads the fields only after a
  * drain, so plain fields guarded by the object lock suffice.
  */
final class TaskCounters(spans: Spans) extends SparkListener {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs = 0L
  var inRows, inBytes, shWrite, shRead, spill = 0L
  var peakExec = 0L
  var ckptJobs, ckptNs = 0L
  private val jobStart = mutable.Map.empty[Int, (Long, String, Long, String)]

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; cpuNs = 0; runMs = 0
    inRows = 0; inBytes = 0; shWrite = 0; shRead = 0; spill = 0; peakExec = 0
    ckptJobs = 0; ckptNs = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    // the job's call site, e.g. "localCheckpoint at GraphOps.scala:62",
    // is the name of its result stage
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val (parent, query) = spans.current
    jobStart(e.jobId) = (System.nanoTime(), site, parent, query)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, site, parent, query) =>
      val t1 = System.nanoTime()
      if (site.startsWith("localCheckpoint ")) { ckptJobs += 1; ckptNs += t1 - t0 }
      spans.child(parent, s"job: $site", query, t0, t1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      inRows += m.inputMetrics.recordsRead
      inBytes += m.inputMetrics.bytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExec = math.max(peakExec, m.peakExecutionMemory)
    }
  }
}

/** Micro-batch progress of every streaming query, from a
  * StreamingQueryListener.
  */
final class StreamCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  var batches = 0L
  var triggerMs, addBatchMs, commitMs = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]
  private val lastStateRows = mutable.Map.empty[java.util.UUID, Long]

  def stateRows: Long = synchronized(lastStateRows.values.sum)

  def reset(): Unit = synchronized {
    batches = 0; triggerMs = 0; addBatchMs = 0; commitMs = 0
    batchMs.clear(); lastStateRows.clear()
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches += 1
    triggerMs += d("triggerExecution")
    addBatchMs += d("addBatch")
    commitMs += d("walCommit") + d("commitOffsets")
    batchMs += d("triggerExecution")
    lastStateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
  }
}

/** Counts whole-stage and expression codegen fallbacks and sums Janino
  * compile time from Spark's own log lines; the compile count comes from
  * Spark's CodegenMetrics source.
  */
final class CodegenLog extends AbstractAppender("perfbench-codegen", null, null, true,
    Array.empty) {
  @volatile var fallbacks = 0L
  @volatile var compileMs = 0.0
  private val generated = """Code generated in ([0-9.]+) ms""".r.unanchored

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    if (msg.startsWith("Whole-stage codegen disabled") ||
        msg.contains("falling back to interpreter mode")) synchronized { fallbacks += 1 }
    else msg match {
      case generated(ms) => synchronized { compileMs += ms.toDouble }
      case _ =>
    }
  }

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val loggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator" -> Level.INFO,
    "org.apache.spark.sql.execution.WholeStageCodegenExec" -> Level.WARN,
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback" -> Level.WARN)

  /** Attach to the three loggers. The compile-time lines are INFO, so
    * that one logger stops forwarding to the console appender.
    */
  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    cfg.addAppender(this)
    loggers.foreach { case (name, level) =>
      val lc = new LoggerConfig(name, level, level != Level.INFO)
      lc.addAppender(this, level, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }
}

/** Heap and GC readings of this JVM. */
object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** VmHWM of this process in MB: the peak resident set so far. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** The listeners of a traced pass, attached to and detached from one
  * session so untraced passes in the same JVM run without them.
  */
final class Tracer(spark: SparkSession, val spans: Spans) {
  val tasks = new TaskCounters(spans)
  val streams = new StreamCounters

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.streams.removeListener(streams)
  }

  def reset(): Unit = { tasks.reset(); streams.reset() }
}
