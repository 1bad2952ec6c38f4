package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation. `kind` is "read", "write" or "other"; times are
  * System.nanoTime; `lifecycleNs` is the eager part of a query op (the
  * declared function call before its action). */
final case class OpResult(id: Int, name: String, kind: String, start: Long, end: Long,
    cpuNs: Long, lifecycleNs: Long = 0L, error: Option[String] = None) {
  def seconds: Double = (end - start) / 1e9
}

/** Context every workload runs in. `probe` is present only in the traced
  * run. */
final class Ctx(val spark: SparkSession, val fixtures: String, val work: java.nio.file.Path,
    val seed: Long, val seconds: Int, val probe: Option[Probe]) {
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Seconds since JVM start at each named set-up step, for the record. */
  val setupSteps = scala.collection.mutable.LinkedHashMap[String, Double]()
  def mark(step: String): Unit = setupSteps(step) = Workloads.setupSeconds()

  /** Tags every job submitted by this thread with the op id and, when
    * tracing, wraps `body` in the op's root span. */
  def op[T](id: Int, name: String)(body: Int => T): T = {
    spark.sparkContext.setLocalProperty(Probe.OpProperty, id.toString)
    try probe match {
      case Some(p) => p.span(s"op.$name", id)(body)
      case None => body(-1)
    } finally spark.sparkContext.setLocalProperty(Probe.OpProperty, null)
  }

  /** A child span under `parent` when tracing; plain call otherwise. */
  def span[T](name: String, op: Int, parent: Int)(body: => T): T = probe match {
    case Some(p) => p.span(name, op, parent)(_ => body)
    case None => body
  }
}

/** A correctness finding: the op that failed and why. */
final case class Mismatch(op: String, reason: String)
