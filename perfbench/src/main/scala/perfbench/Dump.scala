package perfbench

import java.nio.file.Path
import graft.SparkEntry

/** Maintenance mode behind `tools/expected.py`: for every query of the
  * pool, runs it twice (declared function plus an action over
  * every column), fingerprints both answers and records the second run's
  * seconds as its warm solo time. Writes those readings and each query's
  * oracle SQL to `out`. */
object Dump {
  def run(spark: org.apache.spark.sql.SparkSession, fixtures: Path, out: Path): Unit = {
    val re = QueryLoad.batch(1).families.r
    val names = SparkEntry.queries.keys.filter(n => re.findFirstIn(n).isDefined).toSeq.sorted
    val oracle = SparkEntry.oracleSql
    val readings = names.map { n =>
      System.err.println(s"[dump] $n")
      val runs = (1 to 2).map { _ =>
        try {
          val t0 = Util.now()
          val df = SparkEntry.queries(n)(spark, fixtures.toString)
          df.write.format("noop").mode("overwrite").save()
          val s = Util.secs(t0)
          val fp = RowHash.of(df)
          Right((s, fp))
        } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      }
      n -> (runs match {
        case Seq(Right((_, a)), Right((s, b))) => Map("rows" -> a.rows, "hash" -> a.hash,
          "hash2" -> b.hash, "rows2" -> b.rows, "solo_s" -> s, "oracle" -> oracle.get(n))
        case other => Map("error" -> other.collect { case Left(e) => e }.mkString("; "))
      })
    }.toMap
    Util.writeFile(out, Util.json(readings))
  }
}
