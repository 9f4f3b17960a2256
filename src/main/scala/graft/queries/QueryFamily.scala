package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry family: its query bodies by name, and the DuckDB
  * oracle SQL for the names that have one. [[graft.SparkEntry]] joins
  * the families into the registry. */
trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
