package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import graft.SparkEntry

/** The concurrent query workload. A run's sample does the same work on
  * every seed: the pool is sorted by the warm solo seconds recorded in
  * `expected.json` and cut into as many shares of equal total solo time
  * as the run has ops, and the query in the middle of each share is its
  * representative. Under concurrency a query's latency depends on its
  * co-runners, and queries with equal solo times behave very differently
  * there (a BFS of many tiny jobs against one long kernel), so the run
  * takes the representatives themselves: seeded picks of equal solo time
  * spread ops/s by 29% over five seeds (IQR/median). The sample is
  * submitted longest first, so the schedule has the same shape on every
  * run. */
object QueryLoad {
  final case class Spec(name: String, families: String, clients: Int, opsPerSecond: Double)

  def batch(cores: Int): Spec = Spec("batch_concurrent", "^(g[0-9]+|l[234])_", cores, 0.4)

  /** FAIR pool of each client thread: every client gets its own pool, so
    * the scheduler shares the slots fairly between the concurrent
    * submitters. */
  def poolOf(client: Int): String = s"client-$client"

  /** The allocation file behind [[poolOf]]: one FAIR pool per client,
    * equal weights. */
  def allocationXml(clients: Int): String =
    (0 until clients).map { c =>
      s"""  <pool name="${poolOf(c)}">
         |    <schedulingMode>FAIR</schedulingMode>
         |    <weight>1</weight>
         |    <minShare>0</minShare>
         |  </pool>""".stripMargin
    }.mkString("<?xml version=\"1.0\"?>\n<allocations>\n", "\n", "\n</allocations>\n")

  /** Queries of the pool: declared, in the families, with an expected
    * fingerprint. Sorted by recorded solo seconds, then name. */
  def pool(spec: Spec, expected: Expected): Seq[String] = {
    val re = spec.families.r
    SparkEntry.queries.keys.filter(n => re.findFirstIn(n).isDefined)
      .filter(expected.queries.contains).toSeq
      .sortBy(n => (expected.queries(n).soloS, n))
  }

  /** The sample, in submission order. */
  def sample(spec: Spec, expected: Expected, seconds: Int): Seq[String] = {
    val p = pool(spec, expected)
    val solo = p.map(expected.queries(_).soloS)
    val k = math.max(spec.clients, math.round(seconds * spec.opsPerSecond).toInt)
    val ends = solo.scanLeft(0.0)(_ + _).tail
    val reps = (0 until k).map(i => p(ends.indexWhere(_ >= (i + 0.5) / k * solo.sum))).distinct
    reps.sortBy(n => -expected.queries(n).soloS)
  }

  /** One executed query: its timing and the frame it returned, kept to
    * check its answer after the timed region. */
  final case class Done(op: OpResult, df: Option[DataFrame])

  /** Runs one query op: the declared function (eager lifecycle), then a
    * noop-sink write of the returned frame, which computes every column
    * of every row. */
  def runOne(ctx: Ctx, id: Int, name: String): Done = ctx.op(id, name) { root =>
    val fn = SparkEntry.queries(name)
    val c0 = Env.processCpuNs(); val t0 = Util.now()
    try {
      val df = ctx.span("queries.fn", id, root)(fn(ctx.spark, ctx.fixtures))
      val t1 = Util.now()
      ctx.span("action.noop", id, root)(df.write.format("noop").mode("overwrite").save())
      val t2 = Util.now()
      // the declared frame's own analysis (its action planned a new plan)
      ctx.probe.foreach(_.recordPlan(df.queryExecution))
      Done(OpResult(id, name, "read", t0, t2, Env.processCpuNs() - c0, t1 - t0), Some(df))
    } catch {
      case e: Throwable =>
        val t2 = Util.now()
        Done(OpResult(id, name, "read", t0, t2, Env.processCpuNs() - c0, 0L,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))), None)
    }
  }

  /** Closed loop: `clients` threads, each submitting into its own FAIR
    * pool, take the next item until all are done. */
  def closedLoop[A, B](ctx: Ctx, clients: Int, items: Seq[A])(body: (Int, A) => B): Seq[B] = {
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[(Int, B)]()
    val threads = Executors.newFixedThreadPool(clients)
    (0 until clients).foreach { c =>
      threads.submit(new Runnable {
        def run(): Unit = {
          ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", poolOf(c))
          var i = next.getAndIncrement()
          while (i < items.size) {
            out.add(i -> body(i, items(i))); i = next.getAndIncrement()
          }
        }
      })
    }
    threads.shutdown()
    threads.awaitTermination(1, TimeUnit.DAYS)
    out.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  def run(ctx: Ctx, spec: Spec, ops: Seq[String], warm: Boolean = false): Seq[Done] =
    closedLoop(ctx, spec.clients, ops)((i, name) => runOne(ctx, if (warm) -1 else i, name))

  /** Fingerprints each frame a timed op returned (re-executing its final
    * plan, outside the timed region) and checks it against
    * `expected.json`: row count, hash, and for oracle answers the column
    * types under the oracle's rules. Failed ops are mismatches too. */
  def check(ctx: Ctx, spec: Spec, done: Seq[Done], expected: Expected): Seq[Mismatch] =
    closedLoop(ctx, spec.clients, done) { (_, d) =>
      (d.op.error, d.df) match {
        case (Some(e), _) => Some(Mismatch(d.op.name, s"op failed: $e"))
        case (None, Some(df)) =>
          val want = expected.queries(d.op.name)
          val got = RowHash.of(df)
          if (got.rows != want.rows) Some(Mismatch(d.op.name, s"rows ${got.rows} != expected ${want.rows}"))
          else if (want.hash.exists(_ != got.hash))
            Some(Mismatch(d.op.name, s"hash ${got.hash} != expected ${want.hash.get} (${want.source})"))
          else typeMismatch(df.schema, want.types).map(Mismatch(d.op.name, _))
        case _ => None
      }
    }.flatten

  /** DuckDB's logical name of a Spark column type, as the oracle reads
    * the engine's parquet output. */
  def logicalType(t: DataType): String = t match {
    case ByteType => "TINYINT"; case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"; case LongType => "BIGINT"
    case FloatType => "FLOAT"; case DoubleType => "DOUBLE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => other.simpleString.toUpperCase
  }

  private val IntWidths = Set("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT")
  private val Floaty = Set("FLOAT", "DOUBLE")

  /** The oracle's hard type failures (`tools/check.py`): another integer
    * width, a decimal against a float or integer or another decimal, a
    * float against an integer. `oracle` maps column name to DuckDB type;
    * empty for answers without an oracle. */
  def typeMismatch(schema: StructType, oracle: Map[String, String]): Option[String] =
    schema.fields.toSeq.sortBy(_.name).collectFirst(Function.unlift { f =>
      oracle.get(f.name).flatMap { a =>
        val b = logicalType(f.dataType)
        val (ad, bd) = (a.startsWith("DECIMAL"), b.startsWith("DECIMAL"))
        val hard = a != b && (IntWidths(a) && IntWidths(b) ||
          ad && (Floaty(b) || IntWidths(b)) || bd && (Floaty(a) || IntWidths(a)) ||
          ad && bd || Floaty(a) && IntWidths(b) || Floaty(b) && IntWidths(a))
        if (hard) Some(s"column ${f.name} type $b != oracle $a") else None
      }
    })
}
