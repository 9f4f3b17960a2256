package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.DistanceEvalCounter
import graft.operators.{Dedup, Similarity}

/** Dev tool: the ANN-only three-point scaling probe
  * (`runMain graft.tools.AnnScaleAudit <out.json> <label>=<dir> ...`).
  *
  * The full-registry 10× audit (SURVEY §8.3) runs two corpus sizes —
  * enough to catch a step regression, but two points cannot
  * distinguish linear from quadratic growth; the r5 adaptive-IVF
  * build quadratic hid there precisely because its n² term was still
  * sub-second at sf1. Three points an order of magnitude apart make
  * the curvature visible in wall time, and the per-build
  * [[DistanceEvalCounter]] tally gives the noise-free work count
  * alongside (host steal on this VM swings wall time up to 3×; the
  * eval count doesn't move).
  *
  * Per scale dir (needs only `embeddings.parquet`): time a FRESH
  * hierarchical index build (uncached — `cachedHierIvfIndex` would
  * amortize exactly the thing under audit), the kNN-graph probe pass
  * over the whole corpus (`q_ann_knn`'s body), and SemDeDup
  * (`q_semantic_dedup`'s body). Each scale runs one untimed settle
  * pass first (Janino/JIT warm AT THAT SCALE — `graft.Bench`'s
  * discipline: join strategies and AQE plans differ with data size),
  * then the timed pass. */
object AnnScaleAudit {

  private def f(v: Double): String = Audit.fmt(v)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: AnnScaleAudit <out.json> <label>=<dir> [<label>=<dir> ...]")
    val out = args.head
    val scales = args.tail.map { a =>
      val Array(label, dir) = a.split("=", 2)
      (label, dir)
    }
    val spark = graft.Session.local()

    def one(dir: String, settle: Boolean)
        : (Long, Double, Long, Double, Double, Double, Double) = {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = e.count()
      if (settle) { // pay codegen/JIT once, outside every timed figure
        val idx0 = Similarity.buildHierIvfIndex(e, "vec_id", "embedding")
        idx0.base.assigned.count()
        Similarity.knnJoinHier(idx0, e, "vec_id", "embedding",
          k = 10, nprobe = 4, nsp = 4).count()
        Dedup.semanticDedup(idx0.base, "vec_id", threshold = 0.30).count()
        idx0.release()
        val tab0 = Similarity.buildHierIvfTableIndex(e, "vec_id", "embedding")
        Similarity.knnJoinHierTable(tab0, e, "vec_id", "embedding",
          k = 10, nprobe = 4, nsp = 4).count()
        tab0.release()
        System.gc()
      }
      DistanceEvalCounter.reset()
      val t0 = System.nanoTime()
      val idx = Similarity.buildHierIvfIndex(e, "vec_id", "embedding")
      idx.base.assigned.count() // build includes the assignment pass
      val buildSec = (System.nanoTime() - t0) / 1e9
      val buildEvals = DistanceEvalCounter.get
      val t1 = System.nanoTime()
      Similarity.knnJoinHier(idx, e, "vec_id", "embedding",
        k = 10, nprobe = 4, nsp = 4).count()
      val knnSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      Dedup.semanticDedup(idx.base, "vec_id", threshold = 0.30).count()
      val semSec = (System.nanoTime() - t2) / 1e9
      idx.release()
      // The beyond-MaxLiteralCells layout at the same scale: centroids
      // as a sup-partitioned DataFrame, pick via join + bounded heap.
      // Its constant is higher at toy scale (joins vs a codegen'd
      // literal kernel) — the audit records it so the crossover is a
      // measured fact, not a guess.
      val t3 = System.nanoTime()
      val tab = Similarity.buildHierIvfTableIndex(e, "vec_id", "embedding")
      tab.assigned.count()
      val tabBuildSec = (System.nanoTime() - t3) / 1e9
      val t4 = System.nanoTime()
      Similarity.knnJoinHierTable(tab, e, "vec_id", "embedding",
        k = 10, nprobe = 4, nsp = 4).count()
      val tabKnnSec = (System.nanoTime() - t4) / 1e9
      tab.release()
      e.unpersist(false)
      (n, buildSec, buildEvals, knnSec, semSec, tabBuildSec, tabKnnSec)
    }

    val rows = scales.map { case (label, dir) =>
      // Drop every cached relation from the previous scale: three
      // scales in one JVM otherwise accumulate enough heap that the
      // largest scale's hot join partition can OOM a task.
      spark.catalog.clearCache()
      System.gc()
      val (n, b, ev, kn, sd, tb, tk) = one(dir, settle = true)
      println(s"[ann-audit] $label n=$n build=${f(b)}s evals=$ev " +
        s"knn=${f(kn)}s semdedup=${f(sd)}s " +
        s"table_build=${f(tb)}s table_knn=${f(tk)}s")
      s"""{"label":"$label","n":$n,"build_sec":${f(b)},""" +
        s""""build_evals":$ev,"knn_sec":${f(kn)},""" +
        s""""semdedup_sec":${f(sd)},"table_build_sec":${f(tb)},""" +
        s""""table_knn_sec":${f(tk)}}"""
    }
    val json = s"""{"metric":"ann_scale","points":[${rows.mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
