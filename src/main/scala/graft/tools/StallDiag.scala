package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Dev diagnostic for the episodic 10-20x single-execution stalls the
  * x100 probe tier shows (same op, same JVM, warm: 7s laps with
  * occasional 70-150s laps; strikes r6-base and current code alike).
  * Runs one dedup op in a lap loop and attributes each lap four ways:
  *   - task CPU vs task wall (executorRunTime vs executorCpuTime):
  *     a gap means tasks were descheduled mid-run — host steal or GC;
  *   - jvmGcTime: rules GC in or out directly;
  *   - host steal ticks from /proc/stat (field 8) across the lap:
  *     nonzero deltas are EXTERNAL cpu theft, invisible to the JVM;
  *   - scheduler gap: lap wall minus the span covered by task time,
  *     i.e. driver-side planning or job-submission stalls.
  * Usage: runMain graft.tools.StallDiag <docsDir> [op] [laps]
  */
object StallDiag {
  private def procStat(): Array[Long] = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    line.split("\\s+").drop(1).map(_.toLong)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val op = if (args.length > 1) args(1) else "minhash"
    val laps = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(conf = Seq(
      "spark.sql.codegen.cache.maxEntries" ->
        sys.env.getOrElse("GRAFT_CODEGEN_CACHE", "100")))
    val runMs = new LongAdder; val cpuNs = new LongAdder
    val gcMs = new LongAdder; val fetchNs = new LongAdder
    val deserMs = new LongAdder; val tasks = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime)
          gcMs.add(m.jvmGCTime)
          fetchNs.add(m.shuffleReadMetrics.fetchWaitTime)
          deserMs.add(m.executorDeserializeTime); tasks.add(1)
        }
      }
    })
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def body(): Long = op match {
      case "minhash" => Audit.force(
        graft.operators.Dedup.minhashDedup(docs, "doc_id", "text",
          threshold = 0.8))
      case "spans" => Audit.force(
        graft.operators.Dedup.dupSpanStats(docs, "doc_id", "text", k = 8))
      case other => sys.error(s"unknown op $other")
    }
    body() // settle
    // Per-lap collector-level attribution (r7 VERDICT #1: GC-log-
    // instrumented laps): collection COUNT and TIME per collector bean
    // across the lap, so a slow lap separates "many young collections"
    // (allocation churn) from "few long full/concurrent cycles" (heap
    // pressure / humongous churn). Pair with -Xlog:gc* via
    // SPARK_GRAFT_JAVA_OPTS for cause-level logs.
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcSnap(): Map[String, (Long, Long)] = {
      var m = Map.empty[String, (Long, Long)]
      gcBeans.forEach(b =>
        m += b.getName -> ((b.getCollectionCount, b.getCollectionTime)))
      m
    }
    for (lap <- 1 to laps) {
      Seq(runMs, cpuNs, gcMs, fetchNs, deserMs, tasks).foreach(_.reset())
      val g0 = gcSnap()
      val s0 = procStat(); val t0 = System.nanoTime()
      val n = body()
      val wall = (System.nanoTime() - t0) / 1e9
      val s1 = procStat()
      val dTot = (s1.zip(s0).map { case (a, b) => a - b }).sum.toDouble
      val dSteal = (s1(7) - s0(7)).toDouble // field 8: steal
      val dIdle = (s1(3) - s0(3)).toDouble
      // JIT state: code-cache pool usage + cumulative compilation time.
      // A full (or flushing) code cache forces interpreted/C1 execution
      // of generated whole-stage code — the 10x-CPU signature.
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory
        .getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(p => s"${p.getName.replace("CodeHeap '", "").replace("'", "")}=" +
          s"${p.getUsage.getUsed / (1 << 20)}/${p.getUsage.getMax / (1 << 20)}MB")
        .mkString(" ")
      val jit = java.lang.management.ManagementFactory
        .getCompilationMXBean.getTotalCompilationTime
      val g1 = gcSnap()
      val gcDelta = g1.map { case (k, (c, t)) =>
        val (c0, t0g) = g0.getOrElse(k, (0L, 0L))
        s"$k:${c - c0}x/${(t - t0g) / 1000.0}s"
      }.mkString(" ")
      println(f"[stall $op lap$lap] wall=$wall%.2fs rows=$n " +
        f"taskRun=${runMs.sum / 1e3}%.1fs taskCpu=${cpuNs.sum / 1e9}%.1fs " +
        f"gc=${gcMs.sum / 1e3}%.1fs fetchWait=${fetchNs.sum / 1e3}%.1fs " +
        f"deser=${deserMs.sum / 1e3}%.1fs tasks=${tasks.sum} " +
        f"hostSteal=${100 * dSteal / dTot}%.1f%% hostIdle=${100 * dIdle / dTot}%.1f%% " +
        f"jitTotal=${jit / 1000.0}%.1fs $pools gcBeans[$gcDelta]")
    }
    spark.stop()
  }
}
