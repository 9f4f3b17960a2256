package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of the Spark work attributed to one span (a job group). */
final class Work {
  var jobs, stages, tasks = 0L
  /** (start, end) ms of each job, from Spark's job events. */
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  var taskCpuNs, taskRunMs, schedDelayMs = 0L
  var spillBytes, peakExecMem = 0L
  var shuffleWrite, shuffleRead = 0L
  var readBytes, readRows, writeBytes, writeRows = 0L
  var scanMs = 0L
  var exchanges, codegenStages = 0L
  val skews = mutable.ArrayBuffer[Double]()

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobSpans ++= o.jobSpans
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs
    schedDelayMs += o.schedDelayMs
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    readBytes += o.readBytes; readRows += o.readRows
    writeBytes += o.writeBytes; writeRows += o.writeRows
    scanMs += o.scanMs; exchanges += o.exchanges
    codegenStages += o.codegenStages; skews ++= o.skews
  }

  /** Wall time in which at least one job ran. Jobs can overlap (broadcast
    * jobs run beside the job that needs them), so this is the length of
    * the union of the job intervals, not their sum. */
  def jobMs: Long = {
    var total, reach = 0L
    jobSpans.sortBy(_._1).foreach { case (a, b) =>
      if (b > reach) { total += b - math.max(a, reach); reach = b }
    }
    total
  }
}

/** Attributes jobs, stages and tasks to the job group that launched
  * them, through Spark's public listener interfaces. The benchmark sets
  * one job group per span, so a span's Spark work is `take(group)`.
  * Executed query plans (SQL scan time, exchange and codegen-stage
  * counts) are attributed by arrival order: a traced query starts with
  * `open`, which drops the plans of everything run before it (untraced
  * passes, set-up writes, canary jobs), so the plans `takePlans`
  * returns after its `drain` are its own. */
final class Collector extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val byGroup = mutable.HashMap[String, Work]()
  private val jobGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageTasks = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val plans = new ConcurrentLinkedQueue[SparkPlan]()
  @volatile private var lastDone = ""

  private def work(g: String): Work = byGroup.getOrElseUpdate(g, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    work(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.remove(e.jobId).getOrElse("")
    work(g).jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    if (g.startsWith(Collector.Marker)) { lastDone = g; notifyAll() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      val w = work(stageGroup.remove(id).getOrElse(""))
      w.stages += 1
      stageTasks.remove(id).filter(_.size >= 2).foreach { ds =>
        val s = ds.sorted
        val med = s(s.size / 2).toDouble
        if (med > 0) w.skews += s.last / med
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageGroup.getOrElse(e.stageId, ""))
    w.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    if (m != null) {
      w.taskCpuNs += m.executorCpuTime
      w.taskRunMs += m.executorRunTime
      w.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.readBytes += m.inputMetrics.bytesRead
      w.readRows += m.inputMetrics.recordsRead
      w.writeBytes += m.outputMetrics.bytesWritten
      w.writeRows += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = plans.add(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Remove and return the totals of every group whose name starts
    * with `prefix`. */
  def take(prefix: String): Work = synchronized {
    val out = new Work
    byGroup.keys.filter(_.startsWith(prefix)).toSeq.foreach { k =>
      out.add(byGroup.remove(k).get)
    }
    out
  }

  /** Scan time and plan shape of the plans executed since the last
    * call. */
  def takePlans(): Work = {
    val w = new Work
    var p = plans.poll()
    while (p != null) {
      collectWithSubqueries(p) {
        case s: FileSourceScanExec =>
          w.scanMs += s.metrics.get("scanTime").map(_.value).getOrElse(0L)
        case _: Exchange => w.exchanges += 1
        case _: WholeStageCodegenExec => w.codegenStages += 1
      }
      p = plans.poll()
    }
    w
  }

  /** Start attributing plans to query `id`: wait until every earlier
    * event has arrived, then drop the plans queued so far. */
  def open(sc: org.apache.spark.SparkContext, id: String): Unit = {
    drain(sc, s"$id/open")
    plans.clear()
  }

  /** Run a one-task marker job and wait until this listener has seen
    * it end. Listener events are delivered in order, so afterwards
    * every event of the work launched before it has arrived. */
  def drain(sc: org.apache.spark.SparkContext, id: String): Unit = {
    val g = Collector.Marker + id
    sc.setJobGroup(g, "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    synchronized {
      val deadline = System.nanoTime() + 30000000000L
      while (lastDone != g && System.nanoTime() < deadline) wait(100)
    }
    take(Collector.Marker)
    ()
  }
}

object Collector { val Marker = "marker:" }

/** Host counters from /proc: steal share of CPU time and load. */
object Host {
  private def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  def load1(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  }

  /** Start a window; the returned function gives the window's steal
    * share. */
  def stealWindow(): () => Double = {
    val (t0, s0) = try cpuJiffies() catch { case _: Exception => (0L, 0L) }
    () => {
      val (t1, s1) = try cpuJiffies() catch { case _: Exception => (0L, 0L) }
      if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0
    }
  }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  }.mkString("\"", "", "\"")
}

object Telemetry {
  private val MB = 1048576.0

  /** Add one span's Spark work to a pass's per-layer totals. */
  def addWork(layers: mutable.Map[String, Double], w: Work): Unit = {
    def add(k: String, v: Double): Unit =
      layers(k) = layers.getOrElse(k, 0.0) + v
    add("sources.scan_s", w.scanMs / 1e3)
    add("sources.read_mb", w.readBytes / MB)
    add("sources.read_rows", w.readRows.toDouble)
    add("sources.write_mb", w.writeBytes / MB)
    add("sources.write_rows", w.writeRows.toDouble)
    add("plans.exchanges", w.exchanges.toDouble)
    add("plans.codegen_stages", w.codegenStages.toDouble)
    add("spark.job_s", w.jobMs / 1e3)
    add("spark.jobs", w.jobs.toDouble)
    add("spark.stages", w.stages.toDouble)
    add("spark.tasks", w.tasks.toDouble)
    add("spark.task_cpu_s", w.taskCpuNs / 1e9)
    add("spark.task_run_s", w.taskRunMs / 1e3)
    add("spark.spill_mb", w.spillBytes / MB)
    add("spark.shuffle_write_mb", w.shuffleWrite / MB)
    add("spark.shuffle_read_mb", w.shuffleRead / MB)
    add("spark.sched_delay_s", w.schedDelayMs / 1e3)
    layers("spark.peak_exec_mem_mb") = math.max(
      layers.getOrElse("spark.peak_exec_mem_mb", 0.0), w.peakExecMem / MB)
    add("spark.skew_sum", w.skews.sum)
    add("spark.skew_n", w.skews.size.toDouble)
  }

  private def hashOf(df: DataFrame) =
    xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))

  /** Row count and order-insensitive hash over all columns (the
    * `graft.tools.Audit.force` form) as "rows:hash", by a separate
    * aggregate. */
  def fingerprint(df: DataFrame): String = {
    val row = df.select(hashOf(df).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head()
    s"${row.getLong(0)}:${if (row.isNullAt(1)) 0L else row.getLong(1)}"
  }

  /** `df` with the same fingerprint observed as its rows stream to
    * whatever action consumes it; call the function after the action. */
  def observed(df: DataFrame): (DataFrame, () => String) = {
    val o = Observation()
    val out = df.observe(o, count(lit(1)).as("n"), bit_xor(hashOf(df)).as("h"))
    (out, () => {
      val r = Await.result(o.future, 60.seconds)
      s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
    })
  }

  /** Rows the kernel probes run over: the corpus text, repeated up to
    * at least `ProbeRows` rows and held in memory. */
  val ProbeRows = 20000L

  /** Probes, median of three timings each, in ns per row:
    * `sources.probe_ns_row` forces a full scan of the lineitem parquet
    * table; `functions.<kernel>_ns_row` times one graft kernel projected
    * over the in-memory probe rows minus the same projection of the bare
    * text. */
  def probe(spark: SparkSession, data: String,
            out: mutable.Map[String, Double],
            span: (String, Long, Long) => Unit, now: () => Long): Unit = {
    def time(name: String, rows: Double, df: => DataFrame): Double = {
      val ts = (1 to 3).map { _ =>
        val a = now()
        fingerprint(df)
        val b = now()
        span(name, a, b)
        (b - a).toDouble
      }.sorted
      ts(1) / rows
    }
    val lineitem = graft.Tables.load(spark, data, "lineitem")
    val scanned = lineitem.count().toDouble
    out("sources.probe_ns_row") =
      time("sources.probe", scanned, graft.Tables.load(spark, data, "lineitem"))
    val docs = graft.Tables.load(spark, data, "documents").select("text")
    val n = docs.count()
    val reps = math.max(1L, (ProbeRows + n - 1) / n)
    val rows = spark.range(reps).crossJoin(docs).select("text")
      .localCheckpoint(true)
    val total = rows.count().toDouble
    time("functions.baseline", total, rows.selectExpr("text AS v"))
    val base = time("functions.baseline", total, rows.selectExpr("text AS v"))
    Workloads.functionProbes.foreach { case (k, e) =>
      out(s"functions.${k}_ns_row") =
        time(s"functions.$k", total, rows.selectExpr(s"$e AS v")) - base
    }
    rows.unpersist(blocking = true)
    ()
  }
}
