package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.Snapshot

/** One benchmark query: the body the pass times and, when it has one,
  * the DuckDB SQL its result must equal on the same generated tables. */
final case class Query(name: String,
                       body: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

/** The two workloads. Every query but `q_cdc_merge` is a registry query
  * run through `SparkEntry.queries`; `q_cdc_merge` is the benchmark's
  * own, because it must write under the benchmark's work directory (the
  * registry's writer queries write to fixed paths outside it). */
object Workloads {

  private def registry(names: String*): Seq[Query] = names.map { n =>
    Query(n, SparkEntry.queries(n), SparkEntry.oracleSql.get(n))
  }

  def apply(workload: String, work: String): Seq[Query] = workload match {
    case "relational" =>
      registry("q26_shape", "q05_shape", "q25_shape")
    case "pipeline" => registry("q_dedup_cluster") :+ cdcMerge(work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def decimalSum(c: String) =
    sum(col(c).cast("decimal(18,2)")).cast("double")

  /** The writers of the `sources` layer: out-of-order CDC batches
    * merged one by one with `Snapshot.mergeVersioned`, so the highest
    * version must win per key. */
  def cdcMerge(work: String): Query =
    Query("q_cdc_merge", (s, dir) => {
      val path = s"$work/cdc"
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          lit(0L).as("version"))
        .write.mode("overwrite").parquet(path)
      val cdc = s.read.parquet(s"$dir/cdc.parquet")
      val batches = cdc.select("batch").distinct().collect()
        .map(_.getInt(0)).sorted
      batches.foreach { b =>
        Snapshot.mergeVersioned(s, path,
          cdc.filter(col("batch") === b).drop("batch"),
          key = "o_orderkey", version = "version")
      }
      s.read.parquet(path)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("version")).as("version_sum"),
          decimalSum("o_totalprice").as("total"))
    }, Some(
      """SELECT o_orderkey % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(version) AS BIGINT) AS version_sum,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT o_orderkey, arg_max(o_totalprice, version) AS o_totalprice,
        |  MAX(version) AS version
        | FROM (SELECT o_orderkey, o_totalprice, 0 AS version FROM orders
        |  UNION ALL SELECT o_orderkey, o_totalprice, version FROM cdc)
        | GROUP BY o_orderkey)
        |GROUP BY 1""".stripMargin))

  /** A fixed CPU-only job, independent of the workload's data: re-timed
    * between passes, its drift flags host noise. */
  def canary(s: SparkSession): Unit = {
    s.range(0L, 4000000L, 1L, s.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id) % 1000)").collect()
    ()
  }

  /** Native-kernel probes of the `functions` layer: each projects one
    * graft expression over the corpus text. */
  val functionProbes: Seq[(String, String)] = Seq(
    "shingles" -> "graft_token_shingles(split(lower(text), ' '), 3)",
    "minhash" -> "graft_minhash(split(lower(text), ' '), 64)",
    "simhash" -> "graft_simhash(split(lower(text), ' '), 4)",
    "winnow" -> "graft_winnow_fps(text, 24, 8)",
    "nfc" -> "graft_nfc(text)")
}
