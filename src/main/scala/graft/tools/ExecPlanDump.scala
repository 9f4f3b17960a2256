package graft.tools

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the EXECUTED plans of every action a registry query triggers
  * (dev tool; the plan-artifact generator for queries whose terminal
  * frame is an eagerly-materialized checkpoint — their interesting
  * operators run inside the materializing actions, so a plain
  * `explain` of the returned frame shows only a flat LogicalRDD).
  * Also unwraps InMemoryRelations so persisted-stage plans are
  * visible. Usage: runMain graft.tools.ExecPlanDump <name> [sfDir] */
object ExecPlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        got.add((f, qe))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        got.add((f + " FAILED", qe))
    })
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.count()
    Thread.sleep(1000) // listener delivery is async
    import scala.jdk.CollectionConverters._
    println(s"########## $name — executed plans, in action order ##########")
    got.asScala.zipWithIndex.foreach { case ((f, qe), i) =>
      println(s"\n===== action $i [$f] =====")
      println(qe.executedPlan.toString)
      qe.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          println("----- cached relation plan -----")
          println(r.cachedPlan.toString)
      }
    }
    println(s"\n===== final frame plan =====")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
