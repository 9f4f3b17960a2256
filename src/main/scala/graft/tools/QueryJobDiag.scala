package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Throwaway dev diagnostic: run a registry query and attribute its
  * wall time to the individual Spark jobs it launches (count, per-job
  * duration) — separates "one expensive job" from "many fixed-cost
  * actions" when a query's sf0.1 time moves.
  * Usage: runMain graft.tools.QueryJobDiag <name> [sfDir] [reps] */
object QueryJobDiag {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Session.local()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption
          .map(si => si.name.take(60) + " <- " +
            si.details.linesIterator.toSeq
              .find(l => l.contains("graft") && !l.contains("tools."))
              .getOrElse("").trim.take(80))
          .getOrElse("?")
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (s, site) = starts.getOrDefault(je.jobId, (je.time, "?"))
        jobs.add((je.jobId, je.time - s, site))
      }
    })
    val fn = graft.SparkEntry.queries(name)
    for (i <- 0 until reps) {
      spark.catalog.clearCache()
      jobs.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async; settle before reading
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val tot = js.map(_._2).sum / 1e3
      println(f"[$name rep$i] rows=$n wall=$wall%.2fs jobs=${js.size} jobSum=$tot%.2fs")
      js.foreach { case (id, ms, site) => println(f"  j$id%-4d ${ms}%6dms  $site") }
    }
    spark.stop()
  }
}
