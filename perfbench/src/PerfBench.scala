package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, PipelineMain, SparkEntry}
import graft.pipeline.{PipelineConfig, Runner}

/** The load generator behind perfbench/run.py: one JVM, one closed-loop
  * client, driving the engine only through its public entry points
  * (`PipelineMain.stageGroups` under `Runner.run`, and
  * `SparkEntry.benchQueries`).
  *
  * It times iterations (cold first, two warm-ups, then the measured
  * window), optionally records spans and Spark jobs, and writes
  * everything raw to one JSON file. run.py turns that
  * into metrics and checks the outputs; all arithmetic on spans lives
  * there, where the benchmark's tests exercise it.
  *
  * Usage: perfbench.PerfBench <workload> <dataDir> <workDir> <seconds>
  *          <trace 0|1> <outJson> <launchEpochNanos> <ops_mix queries,...>
  *        perfbench.PerfBench --setup-only <launchEpochNanos>
  */
object PerfBench {

  /** DAG output directory -> the `SparkEntry.oracleSql` entry of the
    * operator its stage calls. */
  val DagOutputs: Seq[(String, String)] = Seq(
    "raw_customer" -> "p1_ingest_raw", "raw_orders" -> "p8_ingest_orders",
    "staging_customer" -> "p2_staging_customer",
    "staging_orders" -> "p3_staging_orders",
    "quality_report" -> "p4_quality_checks",
    "curated_user_scd2" -> "p5_scd2_user",
    "curated_customer" -> "p6_curated_join",
    "merged_orders" -> "p7_incremental_merge")

  /** Warm iterations run between the cold one and the measured window:
    * the first two warm iterations are still 10-30% slower (JIT, codegen
    * cache, heap sizing); later ones drift down by a few percent, which
    * the window's median absorbs. */
  val Warmups = 2
  /** The measured window runs at least this many iterations. */
  val MinMeasured = 3

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.silenceBoundedWindowWarning()
    spark
  }

  def epochNanos(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }

  def setupSeconds(launchNanos: Long): Double = (epochNanos() - launchNanos) / 1e9

  def main(args: Array[String]): Unit = {
    if (args(0) == "--setup-only") {
      session()
      println(f"setup_s ${setupSeconds(args(1).toLong)}%.6f")
      System.out.flush()
      // nothing to keep: skip the orderly shutdown, the caller deletes the
      // session's scratch directory
      Runtime.getRuntime.halt(0)
    } else {
      val Array(workload, dataDir, workDir, seconds, trace, out, launch, queries) = args
      val spark = session()
      val setup = setupSeconds(launch.toLong)
      try {
        val report = new PerfBench(spark, workload, dataDir, workDir, trace == "1",
          queries.split(",").toSeq).run(seconds.toDouble)
        Files.writeString(Paths.get(out), new ObjectMapper().registerModule(DefaultScalaModule)
          .writeValueAsString(report + ("setup_s" -> setup)))
      } finally spark.stop()
    }
  }
}

/** Spans and Spark jobs of a traced run, kept in memory until the end.
  * A span's body runs under job group `span-<id>`, which is how the
  * listener's jobs find their parent span. Span times are epoch
  * nanoseconds so they line up with the listener's epoch-millisecond job
  * times. */
final class Trace extends SparkListener {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        iter: Int, t0: Long, var t1: Long = 0L)
  private val ids = new AtomicLong(0L)
  private val offset = PerfBench.epochNanos() - System.nanoTime()
  def now(): Long = System.nanoTime() + offset

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = TrieMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = TrieMap.empty[Int, Int]
  @volatile var enabled = false
  @volatile var iter = 0

  def open(parent: Long, layer: String, name: String): Span = {
    val s = Span(ids.incrementAndGet(), parent, layer, name, iter, now())
    if (enabled) spans.add(s)
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    jobs.put(e.jobId, mutable.Map("job" -> e.jobId, "group" -> group,
      "start_ms" -> e.time, "tasks" -> 0L, "task_run_ms" -> 0L,
      "gc_ms" -> 0L, "shuffle_write_b" -> 0L, "spill_b" -> 0L, "output_b" -> 0L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(j => j.synchronized { j("end_ms") = e.time })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val m = e.taskMetrics
      def add(k: String, v: Long): Unit = j(k) = j(k).asInstanceOf[Long] + v
      j.synchronized {
        add("tasks", 1L)
        if (m != null) {
          add("task_run_ms", m.executorRunTime)
          add("gc_ms", m.jvmGCTime)
          add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
          add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
          add("output_b", m.outputMetrics.bytesWritten)
        }
      }
    }

  def spansJson: Seq[Map[String, Any]] = spans.asScala.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
    "iter" -> s.iter, "t0_ns" -> s.t0, "t1_ns" -> s.t1))

  def jobsJson: Seq[Map[String, Any]] =
    jobs.values.toSeq.map(_.toMap).sortBy(_("job").asInstanceOf[Int])
}

final class PerfBench(spark: SparkSession, workload: String, dataDir: String,
                      workDir: String, traced: Boolean, opsMix: Seq[String]) {
  import PerfBench._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val trace = new Trace
  private val sc = spark.sparkContext
  private val attempted = new AtomicLong(0L)
  private val failed = new AtomicLong(0L)

  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` as a child span of `parent`, under its own job group so
    * the listener can attribute the Spark jobs it launches. The group is
    * set inside the body: pipeline stages run on Runner's timeout thread. */
  private def span[T](parent: Long, layer: String, name: String)(body: => T): T = {
    val s = trace.open(parent, layer, name)
    if (trace.enabled) sc.setJobGroup(s"span-${s.id}", name)
    try body finally {
      s.t1 = trace.now()
      if (trace.enabled) sc.clearJobGroup()
    }
  }

  /** Wrap every stage body: count the attempt, time it as a span. */
  private def instrument(stages: Seq[Runner.Stage], iterSpan: Long): Seq[Runner.Stage] =
    stages.map(s => s.copy()(() => {
      attempted.incrementAndGet()
      try span(iterSpan, "stage", s.name)(s.run())
      catch { case e: Throwable => failed.incrementAndGet(); throw e }
    }))

  private val landing = s"$workDir/landing"
  private val config = PipelineConfig.default

  private def dagIteration(): Unit = {
    // the sensors wait for these markers and archive moves them away
    Files.createDirectories(Paths.get(landing))
    config.entities.foreach(e =>
      Files.writeString(Paths.get(landing, e.pattern), "placeholder\n"))
    val it = trace.open(0L, "iteration", workload)
    Runner.run(instrument(PipelineMain.stageGroups(spark, dataDir, s"$workDir/dag",
      landing, config).map(_._2), it.id))
    it.t1 = trace.now()
  }

  private lazy val mix = {
    val all = SparkEntry.benchQueries
    opsMix.map(n => n -> all(n))
  }

  /** One sweep of the mix. Warm sweeps discard results into the `noop`
    * sink; the cold sweep writes them as parquet for the oracle comparison,
    * as a scheduled run would write its outputs. */
  private def opsIteration(check: Boolean): Unit = {
    val it = trace.open(0L, "iteration", workload)
    mix.foreach { case (name, fn) =>
      attempted.incrementAndGet()
      try {
        val q = trace.open(it.id, "query", name)
        try {
          val df = span(q.id, "construct", name)(fn(spark, dataDir))
          span(q.id, "plan", name)(df.queryExecution.executedPlan)
          span(q.id, "execute", name)(
            if (check) df.write.mode("overwrite").parquet(s"$workDir/ops/$name")
            else df.write.format("noop").mode("overwrite").save())
        } finally q.t1 = trace.now()
      } catch {
        case e: Throwable =>
          failed.incrementAndGet()
          System.err.println(s"[perfbench] $name failed: $e")
      }
      // as Bench does: drop the query's localCheckpoint blocks now, so the
      // async cleaner does not reclaim them during the next query
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    it.t1 = trace.now()
  }

  private def iteration(kind: String): Unit = workload match {
    case "dag_sf1" => dagIteration()
    case "ops_mix" => opsIteration(kind == "cold")
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def timed(kind: String, tracedIter: Boolean, n: Int): Map[String, Any] = {
    trace.iter = n
    if (tracedIter) {
      sc.addSparkListener(trace)
      trace.enabled = true
    }
    val (a0, f0, cg0) = (attempted.get, failed.get, codegenCompiles)
    val t0 = System.nanoTime()
    iteration(kind)
    val wall = elapsed(t0)
    System.err.println(f"[perfbench] iteration $n $kind $wall%.3f s")
    if (tracedIter) {
      // outside the timed window: let the listener see every event
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(trace)
      trace.enabled = false
    }
    Map("n" -> n, "kind" -> kind, "traced" -> tracedIter, "wall_s" -> wall,
      "attempted" -> (attempted.get - a0), "failed" -> (failed.get - f0),
      "codegen_compiles" -> (codegenCompiles - cg0))
  }

  /** Output directory -> oracle SQL for every output the checks compare. */
  private def checkOutputs: Seq[(String, String)] = workload match {
    case "dag_sf1" =>
      DagOutputs.map { case (dir, q) => s"$workDir/dag/$dir" -> SparkEntry.oracleSql(q) }
    case _ => opsMix.map(q => s"$workDir/ops/$q" -> SparkEntry.oracleSql(q))
  }

  def run(seconds: Double): Map[String, Any] = {
    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    var n = 0
    def next(kind: String, tracedIter: Boolean): Double = {
      val r = timed(kind, tracedIter, n)
      n += 1
      iters += r
      r("wall_s").asInstanceOf[Double]
    }
    next("cold", false)
    (0 until Warmups).foreach(_ => next("warmup", false))
    // measured window: an iteration starts only if, taking as long as the
    // last one, it ends within the window, so a run never overruns it by
    // most of an iteration. A traced run alternates traced and untraced
    // iterations, so the difference of their medians is the tracing cost
    val t0 = System.nanoTime()
    var k = 0
    var last = 0.0
    while (k < MinMeasured || elapsed(t0) + last <= seconds) {
      last = next("measured", traced && k % 2 == 0)
      k += 1
    }
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map(
      "workload" -> workload, "iterations" -> iters.toSeq,
      "attempted" -> attempted.get, "failed" -> failed.get,
      "checks" -> checkOutputs.map { case (p, sql) => Map("path" -> p, "sql" -> sql) },
      "spans" -> trace.spansJson, "jobs" -> trace.jobsJson,
      "peak_rss_kb" -> Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L),
      "provenance" -> Map(
        "nproc" -> cores, "master" -> sc.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq))
  }
}
