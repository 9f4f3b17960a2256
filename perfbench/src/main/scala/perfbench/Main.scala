package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Similarity

/** Runs one workload in one process and writes its raw records (set-up
  * time, per-pass and per-execution timings, fingerprints, failures,
  * layer totals and spans) as JSON; `run.py` turns them into metrics.
  *
  * Load model: one client, closed loop — the workload's queries are
  * submitted back to back on `local[cores]`, each result consumed by the
  * noop sink (as `graft.Bench` does). The run is:
  *  1. the set-up, timed from process start: the session (extensions
  *     registered), the tables and one cold pass that writes every
  *     result as parquet for the oracle compare;
  *  2. untimed warm-up passes for `WarmupSeconds` (at least two);
  *  3. timed passes for `seconds` (at least three), with the canary
  *     job and a full GC between passes.
  * Every execution, set-up and warm-up included, fingerprints its result
  * (row count + order-insensitive hash of every column) through a
  * `Dataset.observe` on the consumed DataFrame, so the check rides the
  * timed execution instead of repeating it.
  * With tracing on, timed passes alternate traced and untraced, and the
  * traced ones record spans: pass → query → {operators build, plans
  * plan, spark run}, plus functions/sources probe spans at the end.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *             <out.json>
  */
object Main {

  /** Untimed passes between the set-up and the timed passes: after the
    * cold pass the JIT keeps compiling for several more, and pass time
    * falls by a quarter while it does. */
  private val WarmupSeconds = 15.0

  final case class Span(id: String, parent: String, name: String,
                        start: Long, end: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  private val t0Nanos = System.nanoTime()
  private def now(): Long = System.nanoTime() - t0Nanos

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // Bounded status-store retention: the default keeps 1000 SQL
      // executions and 100k tasks in heap, so the retained heap would
      // grow with the number of passes rather than with the program.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Heap in use after a full GC. The first GC lets Spark's
    * ContextCleaner see unreachable RDDs and drop their blocks; the
    * second, after it has had time to, collects what they held. */
  private def heapUsedMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsS, traceS, out) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val queries = Workloads(workload, s"$work/tables")

    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    var attempted = 0L
    val fingerprints = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, String]]()
    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()

    var spark: SparkSession = null
    var collector: Collector = null

    /** Records the failure with its cause chain (wrappers such as
      * Spark's awaitResult carry an empty message of their own) and
      * prints the stack trace to the log. */
    def fail(q: String, pass: String, e: Throwable): Unit = {
      val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
        .map(t => s"${t.getClass.getName}: " +
          Option(t.getMessage).getOrElse("").linesIterator.take(2).mkString(" "))
        .mkString(" <- ")
      System.err.println(s"[perfbench] $pass/$q failed: $msg")
      e.printStackTrace()
      failures += Map("query" -> q, "pass" -> pass, "message" -> msg)
    }

    def clearState(): Unit = {
      spark.catalog.clearCache()
      Similarity.clearIndexCaches()
    }

    val results = s"$work/results"
    /** The set-up pass writes each result for the oracle compare; the
      * other passes consume it with the noop sink. */
    def consume(df: DataFrame, q: Query, setup: Boolean): Unit =
      if (setup) df.write.mode("overwrite").parquet(s"$results/${q.name}")
      else df.write.format("noop").mode("overwrite").save()

    /** One execution of `q` in pass `pass`: build the DataFrame, attach
      * the fingerprint observation, consume it.
      * Returns its wall seconds, or None when it failed. `traced` adds
      * the plan span and per-span attribution. */
    def execute(q: Query, pass: String, traced: Boolean, setup: Boolean,
                layers: mutable.Map[String, Double]): Option[Double] = {
      val sc = spark.sparkContext
      val id = s"$pass/${q.name}"
      attempted += 1
      if (traced) collector.open(sc, id)
      val start = now()
      val r = try {
        sc.setJobGroup(s"$id/build", "build", interruptOnCancel = false)
        val (df, fp) = Telemetry.observed(q.body(spark, data))
        val built = now()
        var planned = built
        if (traced) {
          sc.setJobGroup(s"$id/plan", "plan", interruptOnCancel = false)
          df.queryExecution.executedPlan
          planned = now()
        }
        sc.setJobGroup(s"$id/run", "run", interruptOnCancel = false)
        consume(df, q, setup)
        val end = now()
        fingerprints.getOrElseUpdate(q.name, mutable.LinkedHashMap())(pass) = fp()
        if (traced) {
          spans += Span(id, pass, q.name, start, end)
          spans += Span(s"$id/build", id, "operators.build", start, built)
          spans += Span(s"$id/plan", id, "plans.plan", built, planned)
          spans += Span(s"$id/run", id, "spark.run", planned, end)
        }
        System.err.println(f"[perfbench] $id ${(end - start) / 1e9}%.3fs")
        Some((end - start) / 1e9)
      } catch {
        case e: Throwable => fail(q.name, pass, e); None
      } finally sc.clearJobGroup()
      if (traced) {
        collector.drain(sc, id)
        val build = collector.take(s"$id/build")
        val run = collector.take(s"$id/run")
        val all = collector.take(s"$id/")
        all.add(build)
        all.add(run)
        all.add(collector.takePlans())
        val spanOf = spans.filter(_.parent == id).map(s => s.name -> s).toMap
        def dur(n: String) = spanOf.get(n).map(s => (s.end - s.start) / 1e9)
          .getOrElse(0.0)
        def add(k: String, v: Double): Unit =
          layers(k) = layers.getOrElse(k, 0.0) + v
        val self = math.max(0.0, dur("operators.build") - build.jobMs / 1e3)
        add("operators.build_s", dur("operators.build"))
        add("operators.build_jobs", build.jobs.toDouble)
        add("operators.self_s", self)
        add("plans.plan_s", dur("plans.plan"))
        add("spark.run_s", dur("spark.run"))
        // The spans tile the query by construction; what the layers
        // account for is the operator self time, the plan span and the
        // time a job of the build or run span was active, timed by
        // Spark's own job events.
        add("trace.attributed_s",
          self + dur("plans.plan") + (build.jobMs + run.jobMs) / 1e3)
        add("trace.query_s", r.getOrElse(0.0))
        layers("operators.pinned_rdds") = math.max(
          layers.getOrElse("operators.pinned_rdds", 0.0),
          spark.sparkContext.getPersistentRDDs.size.toDouble)
        Telemetry.addWork(layers, all)
      }
      r
    }

    /** One pass over every query, back to back. Only the set-up pass
      * writes its results; only timed passes are recorded. */
    def pass(label: String, setup: Boolean, timed: Boolean,
             traced: Boolean): Unit = {
      clearState()
      val layers = mutable.LinkedHashMap[String, Double]()
      val steal = Host.stealWindow()
      val load1 = Host.load1()
      val cpu0 = cpuNanos()
      val jit0 = jitMs()
      val gc0 = gcMs()
      val start = now()
      val lat = queries.map(q => q.name -> execute(q, label, traced, setup, layers))
      val wall = (now() - start) / 1e9
      val cpu = (cpuNanos() - cpu0) / 1e9
      val jit = (jitMs() - jit0) / 1e3
      val gc = (gcMs() - gc0) / 1e3
      if (traced) spans += Span(label, "", "pass", start, now())
      collector.drain(spark.sparkContext, label)
      val readRows = collector.take(s"$label/").readRows +
        layers.getOrElse("sources.read_rows", 0.0)
      if (timed) {
        lat.foreach { case (n, t) =>
          t.foreach(v => execs += Map("query" -> n, "pass" -> label, "s" -> v))
        }
        val c0 = now()
        Workloads.canary(spark)
        val canary = (now() - c0) / 1e9
        passes += Map("pass" -> label, "traced" -> traced, "wall_s" -> wall,
          "cpu_s" -> cpu, "jit_s" -> jit, "gc_s" -> gc, "read_rows" -> readRows,
          "steal_frac" -> steal(), "load1" -> load1, "canary_s" -> canary,
          "retained_mb" -> heapUsedMb(), "layers" -> layers)
      }
    }

    // 1. Set-up, from process start: session, tables, one cold pass.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = session(cores, work)
    collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    if (trace) spark.listenerManager.register(collector)
    Tables.registerAll(spark, data)
    pass("setup", setup = true, timed = false, traced = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // 2. Warm-up passes, then the canary once before it is timed.
    val warmup = mutable.ArrayBuffer[Double]()
    while (warmup.size < 2 || warmup.sum < WarmupSeconds) {
      val a = now()
      pass(s"warmup${warmup.size}", setup = false, timed = false,
        traced = false)
      warmup += (now() - a) / 1e9
    }
    Workloads.canary(spark)

    // 3. Measured passes; traced runs alternate traced and untraced.
    val measureStart = now()
    val minPasses = if (trace) 4 else 3
    var i = 0
    while (i < minPasses || (now() - measureStart) / 1e9 < seconds) {
      pass(s"p$i", setup = false, timed = true, traced = trace && i % 2 == 1)
      i += 1
    }
    val measuredS = (now() - measureStart) / 1e9

    val written = queries.map { q =>
      q.name -> Map("path" -> s"$results/${q.name}", "oracle" -> q.oracle,
        "pass" -> "setup")
    }.toMap

    // Probes (traced runs only): a parquet scan and the native kernels.
    val probes = mutable.LinkedHashMap[String, Double]()
    if (trace) Telemetry.probe(spark, data, probes,
      (n, a, b) => spans += Span(n, "probe", n, a, b), () => now())

    val record = Map(
      "workload" -> workload, "cores" -> cores, "seconds" -> seconds,
      "measured_s" -> measuredS, "trace" -> trace,
      "queries" -> queries.map(_.name),
      "setup_s" -> setupS, "warmup_s" -> warmup, "passes" -> passes,
      "executions" -> execs,
      "fingerprints" -> fingerprints, "failures" -> failures,
      "attempted" -> attempted, "results" -> written, "probes" -> probes,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9)))
    System.err.println(s"[perfbench] done at ${now() / 1e9}s")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      Json(record).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
