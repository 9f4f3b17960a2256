package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{BasketQueries, CorpusQueries, DedupQueries,
  EncodeQueries, GraphQueries, LayoutQueries, LinalgQueries, MLQueries,
  ProfileQueries, QueryFamily, RelationalQueries, SampleQueries,
  SearchQueries, SeriesQueries, SimilarityQueries, SketchQueries,
  SourceQueries, StreamTextQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Q26 shape: the reference's flagship end-to-end test
    * (/root/reference/test/q26_test.jl:63-88).
    */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q26_shape")(spark, "/root/testdata/sf0.001")

  /** The registry: one entry per family of SURVEY.md §2 operators. */
  val families: Seq[QueryFamily] = Seq(
    RelationalQueries, SeriesQueries, TextQueries, DedupQueries,
    SimilarityQueries, MLQueries, StreamTextQueries, SourceQueries,
    SampleQueries, BasketQueries, LinalgQueries, SearchQueries,
    CorpusQueries, SketchQueries, LayoutQueries, GraphQueries,
    ProfileQueries, EncodeQueries)

  /** Union of the families' maps; a name two families define fails
    * here instead of one silently overwriting the other. */
  private def union[V](maps: Seq[Map[String, V]], what: String)
      : Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity)
      .collect { case (k, v) if v.size > 1 => k }
    require(dups.isEmpty, s"duplicate $what names: ${dups.mkString(",")}")
    maps.reduce(_ ++ _)
  }

  /** Every registry query by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    union(families.map(_.queries), "query")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = union(families.map(_.oracles), "oracle")
}
