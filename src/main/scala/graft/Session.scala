package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a local graft session: Bench, Verify, the
  * tools and the test session all go through [[local]], so the engine
  * is measured, verified and tested under the same configuration. */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS` when set, else every core the
    * JVM may use. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions, the UI
    * off, [[graft.plans.GraftExtensions]], the UTC session time zone
    * and log level WARN. `conf` adds (static) settings on top. */
  def local(cpus: Int = defaultCpus, conf: Seq[(String, String)] = Nil)
      : SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
