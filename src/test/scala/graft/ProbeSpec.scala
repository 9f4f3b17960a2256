package graft

/** The scale-probe runner: one point per k in the committed
  * `bench_*_scale.json` shape, and the k× fixture really is k disjoint
  * copies (a disjoint-copy query's output doubles exactly at k = 2). */
class ProbeSpec extends SparkSpec {

  test("Probe writes one point per k; disjoint-copy output doubles at x2") {
    val work = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val out = s"$work/probe.json"
    val json = graft.tools.Probe.run(spark, out, "/root/testdata/sf0.001",
      work, Seq(1, 2), Seq("q_components", "q1_agg"), Seq("lineitem"))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), "UTF-8") == json)

    val doc = spark.read.json(spark.createDataset(Seq(json))(
      org.apache.spark.sql.Encoders.STRING))
    val points = doc.selectExpr("explode(points) AS p").select("p.*")
      .orderBy("label").collect()
    assert(points.map(_.getAs[String]("label")).toSeq == Seq("x1", "x2"))
    def rows(i: Int, q: String) =
      points(i).getAs[org.apache.spark.sql.Row](q).getAs[Long]("rows")
    def lineitem(i: Int) = points(i).getAs[Long]("lineitem_rows")
    assert(lineitem(1) == 2 * lineitem(0))
    assert(rows(1, "q_components") == 2 * rows(0, "q_components"))
    assert(rows(1, "q1_agg") == rows(0, "q1_agg"))
    for (i <- 0 to 1; q <- Seq("q_components", "q1_agg"))
      assert(points(i).getAs[org.apache.spark.sql.Row](q)
        .getAs[Double]("sec") > 0.0)
  }
}
