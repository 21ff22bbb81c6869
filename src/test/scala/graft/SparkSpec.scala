package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local session per JVM (suites reuse it),
  * built with [[SessionConf.common]] so the specs run the plans and the I/O
  * path that Bench and Verify run. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SessionConf.common(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"
}
