package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single session per JVM (suites run in one forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4,
    Seq("spark.sql.warehouse.dir" -> "/tmp/graft_test_warehouse"))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
