package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The listener attributes to a traced query only the plans of that
  * query, whatever ran before it in the session. */
class CollectorSpec extends AnyFunSuite {

  test("canary and untraced passes add no plans to a traced query") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("ERROR")
      val c = new Collector
      sc.addSparkListener(c)
      spark.listenerManager.register(c)
      def untraced(): Unit =
        spark.range(1000).groupBy(col("id") % 7).count()
          .write.format("noop").mode("overwrite").save()
      def traced(id: String): Work = {
        c.open(sc, id)
        spark.range(1000).groupBy(col("id") % 3).count()
          .write.format("noop").mode("overwrite").save()
        c.drain(sc, id)
        c.takePlans()
      }

      val alone = traced("q0")
      assert(alone.exchanges == 1)
      assert(alone.codegenStages > 0)

      untraced()
      Workloads.canary(spark)
      untraced()
      val after = traced("q1")
      assert(after.exchanges == alone.exchanges)
      assert(after.codegenStages == alone.codegenStages)
    } finally spark.stop()
  }

  test("job time is the union of overlapping job intervals") {
    val w = new Work
    w.jobSpans ++= Seq((10L, 20L), (15L, 30L), (40L, 45L), (41L, 42L))
    assert(w.jobMs == 25L)
    assert(new Work().jobMs == 0L)
  }
}
