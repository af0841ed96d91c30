package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.OverwriteByExpressionExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One execution of one query. Times are seconds; `error` is the
  * exception class and message of a failed execution.
  */
final case class Sample(query: String, pass: Int, kind: String, ok: Boolean,
                        buildS: Double, planS: Double, execS: Double, error: String) {
  def record: Map[String, Any] = Map("query" -> query, "pass" -> pass, "kind" -> kind,
    "ok" -> ok, "build_s" -> buildS, "plan_s" -> planS, "execute_s" -> execS, "error" -> error)
}

/** Checks, in the plan each noop write actually executed, that the
  * query's final total ORDER BY survived: the write's child must reach a
  * global Sort (or a TakeOrderedAndProject) through order-preserving
  * nodes, or end in a single-partition node whose output ordering Spark
  * itself reports as satisfying the query's top-level ordering (the case
  * where the planner removed a redundant Sort), or be a local relation
  * of at most one row. Results queue up in execution order.
  */
final class SortCheck extends QueryExecutionListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    SortCheck.writeChild(qe.executedPlan).foreach { child =>
      val required = qe.analyzed.collectFirst { case s: Sort => s.order }.getOrElse(Nil)
      seen.add(if (SortCheck.ordered(child, required)) "" else child.treeString)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Results since the last call: "" for a surviving Sort, else the plan. */
  def take(): List[String] = Iterator.continually(seen.poll()).takeWhile(_ != null).toList
}

object SortCheck {
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  def writeChild(p: SparkPlan): Option[SparkPlan] = unwrap(p) match {
    case w: OverwriteByExpressionExec => Some(w.query)
    case _ => None
  }

  def ordered(p: SparkPlan, required: Seq[SortOrder]): Boolean = unwrap(p) match {
    case s: SortExec => s.global
    case _: TakeOrderedAndProjectExec => true
    case l: LocalTableScanExec => l.rows.size <= 1
    case n @ (_: WholeStageCodegenExec | _: InputAdapter | _: ProjectExec | _: FilterExec |
              _: ColumnarToRowExec | _: LocalLimitExec | _: GlobalLimitExec)
        if ordered(n.children.head, required) => true
    case n => required.nonEmpty && n.outputPartitioning.numPartitions == 1 &&
      SortOrder.orderingSatisfies(n.outputOrdering, required)
  }
}

/** The benchmark's JVM side. One invocation runs one workload in a fresh
  * JVM: set-up (repeated), one cold pass (after each timed query, its
  * output is written, untimed, for the oracle check), then warm passes.
  * With `--trace 1` odd warm passes run with the listeners attached and
  * record per-layer counters; even ones give the untraced baseline.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *        --sf DIR --work DIR --cpus N
  */
object Harness {
  /** Set-up repetitions; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val t00 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t00) / 1e9}%.1f s")
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Panels.all(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val sf = opt("sf")
    val work = Paths.get(opt("work"))
    val cpus = opt("cpus").toInt
    val queries = SparkEntry.queries
    val names = wl.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    // ---- set-up, repeated: session build + staging in dependency order.
    // Staged relations are cached per (tag, data dir) for the JVM's
    // lifetime, so each repetition names the same directory by a
    // different path ("dir/./.") to build its own copy; the last
    // repetition uses the plain path and its session serves the passes.
    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { r =>
      if (spark != null) spark.stop()
      val dir = sf + "/." * (SetupReps - 1 - r)
      val t0 = System.nanoTime()
      spark = session(cpus, work)
      val t1 = System.nanoTime()
      val staged = wl.staging.map { tag =>
        val t = System.nanoTime()
        val df = Panels.staging(tag)(spark, dir)
        (tag, (System.nanoTime() - t) / 1e9, df)
      }
      ((t1 - t0) / 1e9, staged)
    }
    val sortCheck = new SortCheck
    spark.listenerManager.register(sortCheck)
    val stagingMb = setups.last._2.map { case (_, _, df) =>
      df.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    }.sum / 1048576.0
    phase("set-up done")

    val spans = new Spans
    val tracer = new Tracer(spark, spans)
    // after the first session: Spark configures log4j when it first logs
    val codegen = new CodegenLog
    if (trace) codegen.install()
    val outDir = work.resolve("oracle_out")
    val oracleFails = Seq.newBuilder[Sample]
    var gcNs = 0L

    /** Time one query. With `oracle`, the same DataFrame's rows are then
      * also written (untimed) for the DuckDB comparison: re-executing the
      * built plan instead of calling the query function again skips a
      * second build, which for the iterative and streaming queries is
      * most of their work.
      */
    def timed(name: String, pass: Int, kind: String, traced: Boolean,
              oracle: Boolean): Sample = {
      // collect the previous query's garbage (and let the ContextCleaner
      // drop its shuffle files) outside the timed region
      val g = System.nanoTime()
      System.gc()
      gcNs += System.nanoTime() - g
      def span[T](n: String)(body: => T): T = if (traced) spans(n, name)(body) else body
      val t0 = System.nanoTime()
      var t1, t2 = t0
      try span("query") {
        val df = span("build")(queries(name)(spark, sf))
        t1 = System.nanoTime()
        span("plan")(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        span("execute")(df.write.format("noop").mode("overwrite").save())
        val t3 = System.nanoTime()
        if (oracle) try {
          df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)
        } catch {
          case e: Throwable => oracleFails += Sample(name, pass, "oracle", ok = false, 0, 0, 0,
            s"${e.getClass.getName}: ${e.getMessage}")
        }
        Sample(name, pass, kind, ok = true, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, "")
      } catch {
        case e: Throwable =>
          Sample(name, pass, kind, ok = false, 0, 0, 0, s"${e.getClass.getName}: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }

    /** One pass over the panel in a seeded order; afterwards, outside
      * the timing, pair each successful execution with its Sort check.
      */
    def runPass(pass: Int, kind: String, traced: Boolean, oracle: Boolean = false): Seq[Sample] = {
      val order = new Random(seed * 7919 + pass).shuffle(names)
      val samples = order.map(n => timed(n, pass, kind, traced, oracle))
      ListenerDrain(spark.sparkContext)
      val checks = sortCheck.take()
      val okIdx = samples.indices.filter(i => samples(i).ok)
      if (checks.size != okIdx.size) samples.map(s => if (s.ok) s.copy(ok = false,
        error = s"sort check saw ${checks.size} writes for ${okIdx.size} queries") else s)
      else {
        val byIdx = okIdx.zip(checks).toMap
        samples.indices.map { i =>
          byIdx.get(i).filter(_.nonEmpty).fold(samples(i)) { plan =>
            samples(i).copy(ok = false, error = "final Sort dropped from the executed plan:\n" + plan)
          }
        }
      }
    }

    val compiles0 = codegen.compiles
    val cold = runPass(0, "cold", traced = false, oracle = true)
    phase("cold pass done")
    val oracleSql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }

    val warmPasses = math.max(2, math.round(seconds / wl.passS).toInt)
    val tracedLayers = Seq.newBuilder[Map[String, Any]]
    val warm = (1 to warmPasses).flatMap { p =>
      val traced = trace && p % 2 == 1
      if (traced) { tracer.reset(); tracer.attach(); Jvm.resetHeapPeak() }
      val gc0 = Jvm.gcMs
      val t0 = System.nanoTime()
      val samples = runPass(p, if (traced) "traced" else "warm", traced)
      val wall = (System.nanoTime() - t0) / 1e9
      val gcS = (Jvm.gcMs - gc0) / 1e3
      if (traced) {
        tracer.detach()
        tracedLayers += passLayers(tracer, samples, wall, gcS, cpus)
      }
      samples
    }
    phase(f"warm passes done; gc between queries ${gcNs / 1e9}%.1f s")

    val layers = Map(
      "expr.codegen_compiles" -> (codegen.compiles - compiles0),
      "expr.codegen_compile_s" -> codegen.compileMs / 1e3,
      "expr.codegen_fallbacks" -> codegen.fallbacks,
      "pipeline.codec_ms_per_audio_s" -> (if (trace) Some(CodecProbe(seed)) else None))

    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (trace) Files.write(work.resolve("spans.jsonl"),
      spans.records.map(json.writeValueAsString).mkString("\n").getBytes)
    val result = Map(
      "workload" -> wl.name, "seed" -> seed, "cpus" -> cpus, "trace" -> trace,
      "queries" -> names, "warm_passes" -> warmPasses,
      "setups" -> setups.map { case (s, st) =>
        Map("session_s" -> s, "staging" -> st.map(x => x._1 -> x._2).toMap) },
      "staging_mb" -> stagingMb,
      "samples" -> (cold ++ oracleFails.result() ++ warm).map(_.record),
      "oracle_sql" -> oracleSql,
      "layers" -> layers,
      "traced_passes" -> tracedLayers.result(),
      "peak_rss_mb" -> Jvm.peakRssMb)
    json.writeValue(work.resolve("result.json").toFile, result)
    sys.exit(0)
  }

  /** Per-layer counters of one traced pass. */
  private def passLayers(t: Tracer, samples: Seq[Sample], wall: Double, gcS: Double,
                         cpus: Int): Map[String, Any] = {
    val ok = samples.filter(_.ok)
    val c = t.tasks
    val s = t.streams
    val mb = 1048576.0
    val buildS = ok.map(_.buildS).sum
    val batchMs = s.batchMs.sorted
    Map(
      "driver.build_s" -> buildS,
      "driver.plan_s" -> ok.map(_.planS).sum,
      "driver.execute_s" -> ok.map(_.execS).sum,
      "driver.jobs" -> c.jobs, "driver.stages" -> c.stages, "driver.tasks" -> c.tasks,
      "ops.checkpoint_jobs" -> c.ckptJobs, "ops.checkpoint_s" -> c.ckptNs / 1e9,
      "scan.input_rows" -> c.inRows, "scan.input_mb" -> c.inBytes / mb,
      "exchange.shuffle_write_mb" -> c.shWrite / mb,
      "exchange.shuffle_read_mb" -> c.shRead / mb,
      "exchange.spill_mb" -> c.spill / mb,
      "exchange.peak_exec_mem_mb" -> c.peakExec / mb,
      "exec.cpu_s" -> c.cpuNs / 1e9, "exec.run_s" -> c.runMs / 1e3,
      "exec.cpu_util" -> c.cpuNs / 1e9 / (wall * cpus),
      "streaming.batches" -> s.batches,
      "streaming.batch_p50_ms" -> (if (batchMs.isEmpty) 0.0 else batchMs(batchMs.size / 2).toDouble),
      "streaming.trigger_s" -> s.triggerMs / 1e3,
      "streaming.addbatch_s" -> s.addBatchMs / 1e3,
      "streaming.commit_s" -> s.commitMs / 1e3,
      "streaming.state_rows" -> s.stateRows,
      "streaming.overhead_s" -> (if (s.batches == 0) 0.0 else buildS - s.triggerMs / 1e3),
      "jvm.gc_s" -> gcS,
      "jvm.heap_peak_mb" -> Jvm.heapPeakBytes / mb)
  }

  private def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Round-trips a seeded synthetic mono clip through the three JVM codecs
  * of `pipeline/` and returns milliseconds per second of audio (median
  * of three timed round-trips after one warm-up).
  */
object CodecProbe {
  import graft.pipeline._

  def apply(seed: Long): Double = {
    val sr = 48000
    val seconds = 1.0
    val rnd = new Random(seed)
    val tones = Seq.fill(3)((110 + rnd.nextDouble() * 880, 0.1 + rnd.nextDouble() * 0.2))
    val clip = Array.tabulate((sr * seconds).toInt) { i =>
      (tones.map { case (f, a) => a * math.sin(2 * math.Pi * f * i / sr) }.sum +
        0.02 * rnd.nextGaussian()).toFloat
    }
    def roundTrip(): Double = {
      val t0 = System.nanoTime()
      val aac = AacAudio.decodeAdts(AacEncoder.encode(sr, clip))._2.length
      val mp3 = Mp3Audio.decode(Mp3Encoder.encode(sr, clip))._2.length
      val ogg = VorbisAudio.decode(VorbisEncoder.encode(sr, clip)).samples.head.length
      val ms = (System.nanoTime() - t0) / 1e6
      require(Seq(aac, mp3, ogg).forall(_ >= clip.length / 2),
        s"codec round-trip lost audio: aac=$aac mp3=$mp3 vorbis=$ogg of ${clip.length}")
      ms
    }
    roundTrip()
    val ms = Seq.fill(3)(roundTrip()).sorted
    ms(1) / seconds
  }
}
