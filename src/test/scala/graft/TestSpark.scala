package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
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

  /** What `collect` takes from each action `session` runs during `body`.
    * A flush job after `body` proves every earlier event was delivered
    * (the query listeners and the job listener share the bus's queue). */
  protected def withQueryExecutions[T](session: SparkSession)(
      collect: QueryExecution => Seq[T])(body: => Unit): Seq[T] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[T]
    val queries = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        collect(qe).foreach(seen.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val group = s"listener-flush-${java.util.UUID.randomUUID}"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
            .contains(group)) flushed.countDown()
    }
    val sc = session.sparkContext
    session.listenerManager.register(queries)
    sc.addSparkListener(jobs)
    try {
      body
      sc.setJobGroup(group, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(jobs)
      session.listenerManager.unregister(queries)
    }
  }
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
