package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: exactly (sfDir, outDir). An optional third arg
    // (comma-separated query names) narrows the run for local iteration.
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogHygiene.suppressKnownBenign() // see LogHygiene — artifact tails
    new java.io.File(outDir).mkdirs()
    // Queries dump concurrently (Spark's scheduler interleaves the tiny
    // jobs across cores; each write lands in its own directory).
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) => Future {
        val t0 = System.nanoTime()
        try {
          // Outputs are naive-UTC by contract: LTZ timestamps cast to NTZ
          // (identity at the session's UTC tz) so the dumped parquet reads
          // as plain TIMESTAMP in DuckDB — matching the oracle — no matter
          // what outputTimestampType a concurrently-running DeltaLite
          // write has temporarily set on the shared session.
          val res = fn(spark, sfDir)
          val out = res.schema.fields.foldLeft(res) { (d, f) =>
            if (f.dataType == org.apache.spark.sql.types.TimestampType)
              d.withColumn(f.name,
                org.apache.spark.sql.functions.col(f.name).cast("timestamp_ntz"))
            else d
          }
          out.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      } }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleSqlJson(SparkEntry.oracleSql, only))
    spark.stop()
  }

  /** `oracle_sql.json`: the oracle SQL of the queries this run dumped —
    * every entry when `only` is empty, else exactly the named ones, so a
    * subset run never asks the checker for outputs it did not write. */
  private[graft] def oracleSqlJson(oracle: Map[String, String],
      only: Set[String]): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracle.filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
