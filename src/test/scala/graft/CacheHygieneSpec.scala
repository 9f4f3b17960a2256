package graft

/** Repeat-execution safety law (r7 VERDICT #2): NO registry query may
  * leave a CacheManager entry behind after it returns and its result
  * is consumed. A leaked entry is the storm class the pagerank/dedup
  * rounds fixed — a later identical execution's persist can plan-match
  * onto the half-dropped InMemoryRelation and intermittently pay a
  * 10–30× recompute through dead cache blocks — and the honesty class:
  * bench reps 2–3 silently reusing rep 1's cached result. Index state
  * and materialized results are local checkpoints (no CacheManager
  * key) and every staged persist must be released by its builder
  * before the operator returns.
  *
  * The sweep runs EVERY registry query against the sf0.001 fixture —
  * the same builders the driver's gate executes — and asserts the
  * CacheManager is empty after each. Process-level index memos hold
  * checkpoint blocks, not cache entries, so they do not trip the law;
  * they are released at the end so the suite leaves no pinned blocks.
  */
class CacheHygieneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every registry query leaves zero CacheManager entries behind") {
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    graft.operators.Similarity.clearIndexCaches()
    val leaked = scala.collection.mutable.ListBuffer[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      SparkEntry.queries(name)(spark, dir).count()
      if (!cm.isEmpty) {
        leaked += name
        spark.catalog.clearCache() // don't cascade one leak into all
      }
    }
    graft.operators.Similarity.clearIndexCaches()
    assert(leaked.isEmpty,
      s"queries leaving CacheManager entries: ${leaked.mkString(", ")}")
  }

  test("checkpointTracked frees only its own blocks, not a frame it first materialized") {
    // nearDupClusters' `star` shape: persisted lazily, first computed
    // inside the checkpoint of a frame derived from it. Freeing the
    // tracked round must leave star's cache registered.
    import org.apache.spark.sql.functions.col
    import graft.operators.Frames
    val sc = spark.sparkContext
    def persistent() = sc.getPersistentRDDs.keySet.toSet
    val star = spark.range(0, 1000).toDF("u")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val before = persistent()
    val (round, ids) =
      Frames.checkpointTracked(star.groupBy(col("u") % 7).count())
    val starCache = persistent() -- before -- ids
    assert(ids.size == 1, s"tracked $ids")
    assert(starCache.size == 1, s"star's cache RDD not left out of $ids")
    Frames.free(round, ids)
    assert(starCache.subsetOf(persistent()))
    assert(ids.intersect(persistent()).isEmpty)
    star.unpersist(true)
  }
}
