package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for the suites (mirrors the driver's Verify
  * config: UTC, small shuffle partitions, no UI). */
trait TestSpark extends BeforeAndAfterAll { self: Suite =>

  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = TestSpark.session

  // suites run on threads that predate the shared session; make it their
  // active session, as a driver's worker threads inherit it, so Spark
  // code that reads SQLConf.get outside an action sees the session's
  // conf (among it the code generator sizing its class cache on first use)
  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSession.setActiveSession(spark)
  }

  override def afterAll(): Unit = super.afterAll()
}

object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
