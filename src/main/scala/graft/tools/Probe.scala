package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Session, SparkEntry}
import graft.operators.Similarity

/** The scale-probe tier: times registry queries on k× copies of a
  * fixture directory
  * (`runMain graft.tools.Probe <out.json> <baseDir> <workDir>
  * <k1,k2,...> <q1,q2,...> <table1,table2,...>` — e.g. `1,10,100`
  * from sf0.1). SURVEY §8 lists the query and table sets of each
  * committed `bench_*_scale.json`.
  *
  * Per k: [[ScaleUp]] writes the listed tables to `workDir/xk`, only
  * when a table's `_SUCCESS` marker is missing (an interrupted run
  * leaves partial dirs); k = 1 reads `baseDir` itself. Then one
  * untimed settle pass (codegen/JIT/AQE warm AT that scale — join
  * strategies flip with data size), and one cold timed
  * [[Audit.force]] per query, after clearing the cache and the ANN
  * index memos so nothing the settle pass built is reused. A point
  * records the first table's row count and, per query, seconds and
  * output rows: `{"label":"xk","<table1>_rows":n,"<q>":{"sec":s,
  * "rows":r},...}`. */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: Probe <out.json> <baseDir> " +
      "<workDir> <k1,k2,...> <q1,q2,...> <table1,table2,...>")
    def list(s: String): Seq[String] =
      s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val Array(out, baseDir, workDir, ks, qs, tables) = args
    val spark = Session.local()
    println(run(spark, out, baseDir, workDir, list(ks).map(_.toInt),
      list(qs), list(tables)))
    spark.stop()
  }

  /** Runs the probe, writes its JSON document to `out` and returns it. */
  def run(spark: SparkSession, out: String, baseDir: String,
          workDir: String, ks: Seq[Int], queries: Seq[String],
          tables: Seq[String]): String = {
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val points = ks.map { k =>
      val dir = if (k == 1) baseDir else s"$workDir/x$k"
      if (k != 1 && !tables.forall(t =>
          new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists()))
        ScaleUp.run(spark, baseDir, dir, k, tables.toSet)
      val m = spark.read.parquet(s"$dir/${tables.head}.parquet").count()
      queries.foreach(q => Audit.force(SparkEntry.queries(q)(spark, dir)))
      val stages = queries.map { q =>
        spark.catalog.clearCache()
        Similarity.clearIndexCaches()
        System.gc()
        val t0 = System.nanoTime()
        val n = Audit.force(SparkEntry.queries(q)(spark, dir))
        (q, (System.nanoTime() - t0) / 1e9, n)
      }
      println(s"[probe] x$k ${tables.head}=$m " + stages
        .map { case (q, sec, n) => s"$q=${Audit.fmt(sec)}s/$n" }.mkString(" "))
      (s"""{"label":"x$k","${tables.head}_rows":$m""" +: stages.map {
        case (q, sec, n) => s""""$q":{"sec":${Audit.fmt(sec)},"rows":$n}"""
      }).mkString(",") + "}"
    }
    val json = s"""{"metric":"scale_probe","points":[${points.mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    json
  }
}
