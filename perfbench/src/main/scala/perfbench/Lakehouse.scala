package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.queries.Medallion.Pipeline
import graft.sources.{DeltaInterop, DeltaLite}
import graft.sources.DeltaLite.ColumnBound

/** The two table formats behind one interface, each call a public entry
  * point of the engine. */
sealed trait Format {
  def name: String
  def create(s: SparkSession, path: String, df: DataFrame): Long
  def append(s: SparkSession, path: String, df: DataFrame): Long
  def merge(s: SparkSession, path: String, df: DataFrame): Long
  def delete(s: SparkSession, path: String, from: Long, until: Long): Long
  def snapshotFiles(s: SparkSession, path: String, asOf: Option[Long]): Int
  def scan(s: SparkSession, path: String, bounds: Seq[ColumnBound]): DataFrame
  def read(s: SparkSession, path: String, asOf: Option[Long]): DataFrame
  def logDir(path: String): String
}

object GraftLog extends Format {
  val name = "graft_log"
  def create(s: SparkSession, p: String, df: DataFrame): Long = DeltaLite.create(s, p, df)
  def append(s: SparkSession, p: String, df: DataFrame): Long = DeltaLite.append(s, p, df)
  def merge(s: SparkSession, p: String, df: DataFrame): Long = DeltaLite.merge(s, p, df, Seq("k"))
  def delete(s: SparkSession, p: String, from: Long, until: Long): Long =
    DeltaLite.delete(s, p, col("k") >= from && col("k") < until)
  def snapshotFiles(s: SparkSession, p: String, asOf: Option[Long]): Int =
    DeltaLite.snapshot(p, asOf).files.size
  def scan(s: SparkSession, p: String, b: Seq[ColumnBound]): DataFrame = DeltaLite.scan(s, p, b)
  def read(s: SparkSession, p: String, asOf: Option[Long]): DataFrame = DeltaLite.read(s, p, asOf)
  def logDir(p: String): String = s"$p/_graft_log"
}

object DeltaLog extends Format {
  val name = "delta_log"
  def create(s: SparkSession, p: String, df: DataFrame): Long = DeltaInterop.exportToDelta(s, df, p)
  def append(s: SparkSession, p: String, df: DataFrame): Long = DeltaInterop.exportAppend(s, df, p)
  def merge(s: SparkSession, p: String, df: DataFrame): Long =
    DeltaInterop.exportMerge(s, p, df, Seq("k"))
  def delete(s: SparkSession, p: String, from: Long, until: Long): Long =
    DeltaInterop.exportDeleteWhere(s, p, s"k >= $from AND k < $until")
  def snapshotFiles(s: SparkSession, p: String, asOf: Option[Long]): Int =
    DeltaInterop.snapshot(s, p, asOf).files.size
  def scan(s: SparkSession, p: String, b: Seq[ColumnBound]): DataFrame = DeltaInterop.scan(s, p, b)
  def read(s: SparkSession, p: String, asOf: Option[Long]): DataFrame = DeltaInterop.read(s, p, asOf)
  def logDir(p: String): String = s"$p/_delta_log"
}

/** Per-format source-layer metrics, zero where a workload has no table. */
object Sources {
  val metricNames: Seq[String] = Seq("commit_s", "snapshot_s", "scan_plan_s",
    "files_kept_ratio", "log_versions", "checkpoints", "write_amp")
  val zero: Map[String, Double] = (for {
    f <- Seq(GraftLog, DeltaLog); m <- metricNames
  } yield s"sources.${f.name}.$m" -> 0.0).toMap
}

/** The lakehouse workload: a seeded stream of writes and reads against
  * one `_graft_log` table and one `_delta_log` table built from keyed
  * lineitem rows, plus one medallion pipeline run and a selective rerun.
  *
  * Correctness comes from an independent model: each format's table is
  * replayed per committed version as a plain Scala map from key to row,
  * fed by the same batches (built with plain Spark, no engine code).
  * Every read is compared with the model at the version it read, and
  * both final tables with the model's final state. */
object Lakehouse {
  val InitialRows = 10000L
  /** Files of the initial table, each a range of 500 keys. On the
    * `_delta_log` table a merge or delete puts a deletion vector on the
    * files it touches, and a lookup that meets one takes about twice as
    * long; small files keep the share of the key space behind deletion
    * vectors, and so of slow lookups, nearly the same whichever keys the
    * seed picks. */
  val InitialFiles = 20
  val Batch = 500L
  val DeleteSpan = 100L
  val RangeSpan = 250L
  val OpsPerSecond = 4.0

  sealed trait Op { def name: String; def kind: String }
  final case class Append(f: Format, from: Long, rows: Long = Batch) extends Op {
    def name = s"append.${f.name}"; def kind = "write" }
  final case class Merge(f: Format, overlapFrom: Long, freshFrom: Long) extends Op {
    def name = s"merge.${f.name}"; def kind = "write" }
  final case class Delete(f: Format, from: Long) extends Op {
    def name = s"delete.${f.name}"; def kind = "write" }
  final case class Lookup(f: Format, from: Long, until: Long) extends Op {
    def name = s"${if (until - from == 1) "point" else "range"}_lookup.${f.name}"; def kind = "read" }
  final case class TimeTravel(f: Format, back: Double) extends Op {
    def name = s"time_travel.${f.name}"; def kind = "read" }
  final case class Gold(f: Format) extends Op {
    def name = s"gold_agg.${f.name}"; def kind = "read" }
  case object PipelineRun extends Op { val name = "pipeline.run"; val kind = "other" }
  case object PipelineRerun extends Op { val name = "pipeline.rerun"; val kind = "other" }

  /** The untimed warm-up ops, the timed ops, and the end of the key range
    * they write. */
  final case class Plan(warmup: Seq[Op], timed: Seq[Op], keys: Long)

  /** The op stream. The warm-up is fixed: per table six small appends, a
    * merge, a delete and an append (versions 1 to 9, so each table's first
    * timed write commits version 10, a checkpoint), then a point and a range
    * lookup, a time-travel read into each half of the history and a gold
    * aggregate. The timed ops are seeded. Fresh
    * keys come from one counter, so the two formats never share a fresh key. */
  def plan(seed: Long, seconds: Int): Plan = {
    var next = InitialRows
    def fresh(n: Long): Long = { val k = next; next += n; k }
    val warm = Seq(GraftLog, DeltaLog).flatMap { f =>
      (1 to 6).map(_ => Append(f, fresh(50), 50)) ++
        Seq(Merge(f, 0, fresh(Batch / 2)), Delete(f, Batch), Append(f, fresh(Batch)),
          Lookup(f, 100, 101), Lookup(f, 100, 100 + RangeSpan), TimeTravel(f, 0.25),
          TimeTravel(f, 0.75), Gold(f))
    }
    // every run deals the same work (whole decks) in the same shape: blocks
    // of reads with, between them, one write of a fixed kind on each table
    // (append, merge, delete); the pipeline runs after the middle deck's
    // merges. The seed shuffles each block, picks the keys and versions,
    // which table writes first, and the block of each table's gold
    // aggregate. A table's time-travel reads alternate between a seeded
    // point in the older and in the newer half of its history.
    val rnd = new java.util.Random(seed * 7919L + 17)
    val shuffle = scala.util.Random.javaRandomToRandom(rnd)
    val decks = math.max(1, math.round(seconds * OpsPerSecond / DeckOps).toInt)
    val travels = mutable.Map[Format, Int]().withDefaultValue(0)
    def key(): Long = (rnd.nextDouble() * next).toLong
    def op(kind: Char, f: Format): Op = kind match {
      case 'A' => Append(f, fresh(Batch))
      case 'M' => Merge(f, (rnd.nextDouble() * (next - Batch / 2)).toLong, fresh(Batch / 2))
      case 'D' => Delete(f, key())
      case 'P' => val k = key(); Lookup(f, k, k + 1)
      case 'R' => val k = key(); Lookup(f, k, k + RangeSpan)
      case 'T' =>
        val half = travels(f) % 2; travels(f) += 1
        TimeTravel(f, (half + rnd.nextDouble()) / 2)
      case _ => Gold(f)
    }
    val tables = Seq(GraftLog, DeltaLog)
    val ops = mutable.ArrayBuffer[Op]()
    (0 until decks).foreach { d =>
      val goldBlock = tables.map(f => f -> rnd.nextInt(Blocks)).toMap
      (0 until Blocks).foreach { b =>
        val reads = tables.flatMap(f =>
          (BlockReads ++ (if (goldBlock(f) == b) "G" else "")).map(_ -> f))
        ops ++= shuffle.shuffle(reads).map { case (k, f) => op(k, f) }
        if (b < Writes.size) {
          ops ++= (if (rnd.nextBoolean()) tables else tables.reverse).map(op(Writes(b), _))
          if (d == decks / 2 && Writes(b) == 'M') { ops += PipelineRun; ops += PipelineRerun }
        }
      }
    }
    Plan(warm, ops.toSeq, next)
  }

  /** One deck: `Blocks` blocks of reads, each holding per table two Point
    * lookups, two Range lookups and one Time-travel read, plus one Gold
    * aggregate per table in a seeded block; after each of the first blocks
    * one write per table, an Append, a Merge and a Delete. The read
    * latencies of a table fall into clusters a factor of two or more apart
    * (a lookup that meets a deletion vector, a time travel that replays
    * more of the log), and which cluster a read lands in depends on the
    * writes before it. With the writes at fixed places and many reads, each
    * run has nearly the same share of reads in each cluster, and its median
    * does not jump from one cluster to the next by the draw of the seed. */
  private val Blocks = 4
  private val BlockReads = "PPRRT"
  private val Writes = "AMD"
  private val DeckOps = Blocks * 2 * BlockReads.length + 2 + 2 * Writes.length

  /** Rows the stream will ever write, with the schema: the first `until`
    * rows of the lineitem file (read with plain Spark; a limit takes the
    * file's splits in order), keyed by their position `k`. */
  final class Source(spark: SparkSession, fixtures: String, until: Long) {
    private val base = spark.read.parquet(s"$fixtures/lineitem.parquet")
    val schema: StructType = StructType(StructField("k", LongType, nullable = false) +: base.schema.fields)
    private val rows: Array[Row] = base.limit(until.toInt).collect()
      .zipWithIndex.map { case (r, k) => Row.fromSeq(k.toLong +: r.toSeq) }
    def slice(from: Long, until: Long): Seq[Row] =
      rows.slice(from.toInt, math.min(until, rows.length.toLong).toInt).toSeq
    /** Upsert batch: `Batch / 2` existing keys with a changed quantity and
      * price, plus `Batch / 2` fresh keys. */
    def mergeRows(overlapFrom: Long, freshFrom: Long): Seq[Row] =
      slice(overlapFrom, overlapFrom + Batch / 2).map { r =>
        val v = r.toSeq.toArray
        v(5) = r.getDouble(5) + 1.0
        v(6) = math.round(r.getDouble(6) * 101.0) / 100.0
        Row.fromSeq(v.toSeq)
      } ++ slice(freshFrom, freshFrom + Batch / 2)
    def frame(rs: Seq[Row]): DataFrame = spark.createDataFrame(rs.asJava, schema)
  }

  /** Committed states of one table: version → key → row. */
  final class Model(val columns: Seq[String]) {
    val versions = mutable.LinkedHashMap[Long, Map[Long, Row]]()
    def tip: (Long, Map[Long, Row]) = versions.last
    def commit(v: Long, state: Map[Long, Row]): Unit = versions(v) = state
  }

  /** A read op's answer: collected `rows`, or for a time-travel read the
    * frame it read, fingerprinted after the timed region. */
  final case class Read(op: OpResult, f: Format, version: Long, rows: Option[Seq[Row]],
      from: Long = 0L, until: Long = 0L, df: Option[DataFrame] = None)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val plan = this.plan(ctx.seed, ctx.seconds)
    val repeatable = plan == this.plan(ctx.seed, ctx.seconds)
    val ops = plan.timed
    val src = new Source(spark, ctx.fixtures, plan.keys)
    ctx.mark("source")
    val root = ctx.work.resolve("lake")
    val paths = Map[Format, String](GraftLog -> root.resolve("graft").toString,
      DeltaLog -> root.resolve("delta").toString)
    val models = Map[Format, Model](GraftLog -> new Model(src.schema.fieldNames.toSeq),
      DeltaLog -> new Model(src.schema.fieldNames.toSeq))
    val initial = src.slice(0, InitialRows)
    val initialMap = initial.map(r => r.getLong(0) -> r).toMap
    Seq(GraftLog, DeltaLog).foreach { f =>
      val df = src.frame(initial).repartitionByRange(InitialFiles, col("k")).sortWithinPartitions("k")
      models(f).commit(f.create(spark, paths(f), df), initialMap)
    }
    ctx.mark("tables")
    val pipelineDir = root.resolve("pipeline").toString
    val warmStats = new SourceStats
    plan.warmup.foreach(op => ctx.op(-1, op.name) { rootSpan =>
      execute(ctx, op, -1, rootSpan, src, paths, models, warmStats, pipelineDir)
    })
    val src0 = new SourceStats
    ctx.mark("warmup")
    val setupS = Workloads.setupSeconds()

    val results = mutable.ArrayBuffer[OpResult]()
    val reads = mutable.ArrayBuffer[Read]()
    val writeSamples = mutable.ArrayBuffer[Double]()
    val pipelineResults = mutable.ArrayBuffer[(String, Double)]()
    val ((), timed) = Workloads.timed(ctx) {
      ops.zipWithIndex.foreach { case (op, id) =>
        val bytesBefore = op match {
          case w @ (_: Append | _: Merge | _: Delete) if ctx.probe.isDefined =>
            Util.treeBytes(Path.of(paths(formatOf(w))))
          case _ => 0L
        }
        val c0 = Env.processCpuNs(); val t0 = Util.now()
        val outcome: Either[Throwable, Any] = try Right(ctx.op(id, op.name) { rootSpan =>
          execute(ctx, op, id, rootSpan, src, paths, models, src0, pipelineDir)
        }) catch { case e: Throwable => Left(e) }
        val t1 = Util.now()
        val res = OpResult(id, op.name, op.kind, t0, t1, Env.processCpuNs() - c0,
          error = outcome.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
        results += res
        outcome.foreach {
          case r: Read => reads += r.copy(op = res)
          case (v: Long, batchRows: Int) =>
            val f = formatOf(op)
            src0.lastJobEnd(ctx, id).foreach { end =>
              src0.add(f, "commit_s", (t1 - end) / 1e9); src0.add(f, "commits", 1)
            }
            if (ctx.probe.isDefined) {
              src0.add(f, "bytes_added", (Util.treeBytes(Path.of(paths(f))) - bytesBefore).toDouble)
              src0.add(f, "batch_rows", batchRows.toDouble)
            }
          case models0: Seq[_] =>
            models0.foreach { case (status: String, s: Double) =>
              pipelineResults += status -> s
              if (status == "success") writeSamples += s
            }
          case _ => ()
        }
      }
    }

    // ---- correctness, outside the timed region
    val mismatches = mutable.ArrayBuffer[Mismatch]()
    results.filter(_.error.nonEmpty).foreach(r => mismatches += Mismatch(r.name, s"op failed: ${r.error.get}"))
    reads.foreach { r => checkRead(r, models).foreach(mismatches += _) }
    Seq(GraftLog, DeltaLog).foreach { f =>
      val (v, state) = models(f).tip
      val got = RowHash.of(f.read(spark, paths(f), None))
      val want = RowHash.ofRows(src.schema.fieldNames.toSeq, state.values)
      if (got != want) mismatches += Mismatch(s"final.${f.name}",
        s"table at v$v: $got != model $want")
    }
    checkPipeline(ctx, pipelineResults.toSeq, pipelineDir).foreach(mismatches += _)

    // ---- traced run: source metrics and storage, where the live rows are
    // written once to a fresh table per format
    val layerExtra: Map[String, Double] = if (ctx.probe.isEmpty) Map.empty else {
      val stored = Seq(GraftLog, DeltaLog).map { f =>
        val fresh = root.resolve(s"fresh_${f.name}").toString
        f.create(spark, fresh, f.read(spark, paths(f), None))
        (f, Util.treeBytes(Path.of(paths(f))), Util.treeBytes(Path.of(fresh)), models(f).tip._2.size)
      }
      src0.metrics(ctx, stored, paths, models) ++ Map(
        "stored_bytes_per_user_byte" -> stored.map(_._2).sum.toDouble / stored.map(_._3).sum,
        "pipeline.model_s" -> Util.median(pipelineResults.filter(_._1 == "success").map(_._2).toSeq),
        "pipeline.reused_ratio" -> {
          val rerun = pipelineResults.drop(Pipeline.dag("").size)
          if (rerun.isEmpty) 0.0 else rerun.count(_._1 == "reused").toDouble / rerun.size
        })
    }
    Workloads.assemble(ctx, 1, results.toSeq, writeSamples.toSeq, timed, setupS,
      mismatches.toSeq, Map("stream_repeatable" -> repeatable,
        "log_versions" -> Seq(GraftLog, DeltaLog).map(f => f.name -> models(f).tip._1).toMap),
      layerExtra)
  }

  private def formatOf(op: Op): Format = op match {
    case Append(f, _, _) => f; case Merge(f, _, _) => f; case Delete(f, _) => f
    case Lookup(f, _, _) => f; case TimeTravel(f, _) => f; case Gold(f) => f
    case _ => GraftLog
  }

  /** One op. Writes return (version, batch rows); reads a [[Read]];
    * pipeline runs their per-model (status, seconds). */
  private def execute(ctx: Ctx, op: Op, id: Int, root: Int, src: Source,
      paths: Map[Format, String], models: Map[Format, Model], st: SourceStats,
      pipelineDir: String): Any = {
    val spark = ctx.spark
    def write(f: Format, rows: Seq[Row], apply: Map[Long, Row] => Map[Long, Row])(
        call: DataFrame => Long): (Long, Int) = {
      val df = src.frame(rows)
      val v = ctx.span(s"sources.${f.name}.write", id, root)(call(df))
      val m = models(f)
      if (v != m.tip._1) m.commit(v, apply(m.tip._2))
      (v, rows.size)
    }
    def timedSnapshot(f: Format, asOf: Option[Long]): Int = {
      val t0 = Util.now()
      val n = ctx.span(s"sources.${f.name}.snapshot", id, root)(f.snapshotFiles(spark, paths(f), asOf))
      st.add(f, "snapshot_s", Util.secs(t0)); st.add(f, "snapshots", 1)
      n
    }
    op match {
      case Append(f, from, n) =>
        val rows = src.slice(from, from + n)
        write(f, rows, s => s ++ rows.map(r => r.getLong(0) -> r))(f.append(spark, paths(f), _))
      case Merge(f, overlap, fresh) =>
        val rows = src.mergeRows(overlap, fresh)
        write(f, rows, s => s ++ rows.map(r => r.getLong(0) -> r))(f.merge(spark, paths(f), _))
      case Delete(f, from) =>
        write(f, Nil, s => s.filter { case (k, _) => k < from || k >= from + DeleteSpan })(
          _ => f.delete(spark, paths(f), from, from + DeleteSpan))
      case Lookup(f, from, until) =>
        val v = models(f).tip._1
        val total = timedSnapshot(f, None)
        val t0 = Util.now()
        val df = ctx.span(s"sources.${f.name}.scan", id, root)(f.scan(spark, paths(f),
          Seq(ColumnBound("k", Some(from), Some(until - 1)))))
        st.add(f, "scan_plan_s", Util.secs(t0)); st.add(f, "scans", 1)
        val rows = ctx.span("action.collect", id, root)(
          df.filter(col("k") >= from && col("k") < until).collect().toSeq)
        st.keep(f, df, total)
        Read(null, f, v, Some(rows), from, until)
      case TimeTravel(f, back) =>
        val versions = models(f).versions.keys.toSeq
        val v = versions((back * (versions.size - 1)).toInt)
        timedSnapshot(f, Some(v))
        val df = ctx.span(s"sources.${f.name}.read", id, root)(f.read(spark, paths(f), Some(v)))
        ctx.span("action.noop", id, root)(df.write.format("noop").mode("overwrite").save())
        Read(null, f, v, None, df = Some(df))
      case Gold(f) =>
        val v = models(f).tip._1
        timedSnapshot(f, None)
        val df = ctx.span(s"sources.${f.name}.read", id, root)(f.read(spark, paths(f), None))
        val rows = ctx.span("action.collect", id, root)(gold(df).collect().toSeq)
        Read(null, f, v, Some(rows))
      case PipelineRun =>
        ctx.span("pipeline.run", id, root)(Pipeline.run(spark, Pipeline.dag(ctx.fixtures), pipelineDir))
        modelResults(ctx, pipelineDir, id, root)
      case PipelineRerun =>
        // state:modified+ after an edit to one model: that model
        // rebuilds, the rest are reused
        val edited = Pipeline.dag(ctx.fixtures).map(m =>
          if (m.name == "gold_daily_revenue") m.copy(code = m.code + " -- revised") else m)
        ctx.span("pipeline.rerun", id, root)(
          Pipeline.run(spark, edited, pipelineDir, selective = true))
        modelResults(ctx, pipelineDir, id, root)
    }
  }

  private def gold(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"),
      sum("l_quantity").as("qty"), sum("l_extendedprice").as("price"))

  /** Per-model (status, seconds) from the run's `run_results.json`, also
    * recorded as pipeline spans ending when the run returned. */
  private def modelResults(ctx: Ctx, dir: String, id: Int, root: Int): Seq[(String, Double)] = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(Util.readFile(Path.of(dir, "run_results.json")))
    val end = Util.now()
    (j \ "results").children.map { r =>
      val status = (r \ "status") match { case JString(s) => s; case _ => "?" }
      val s = (r \ "execution_time") match { case JDouble(x) => x; case JInt(x) => x.toDouble; case _ => 0.0 }
      ctx.probe.foreach(_.addSpan("pipeline.model", end - (s * 1e9).toLong, end, root, id))
      status -> s
    }
  }

  private def checkRead(r: Read, models: Map[Format, Model]): Option[Mismatch] = if (r.op.error.nonEmpty) None else {
    val state = models(r.f).versions(r.version)
    val cols = models(r.f).columns
    r.op.name.takeWhile(_ != '.') match {
      case "point_lookup" | "range_lookup" =>
        val want = RowHash.ofRows(cols, state.values.filter(row => {
          val k = row.getLong(0); k >= r.from && k < r.until }))
        val got = RowHash.ofRows(cols, r.rows.get)
        if (got == want) None else Some(Mismatch(r.op.name, s"v${r.version}: $got != model $want"))
      case "time_travel" =>
        val got = RowHash.of(r.df.get)
        val want = RowHash.ofRows(cols, state.values)
        if (got == want) None else Some(Mismatch(r.op.name, s"v${r.version}: $got != model $want"))
      case "gold_agg" =>
        val want = state.values.groupBy(row => (row.getString(9), row.getString(10))).map {
          case (key, rs) => key -> (rs.size.toLong, rs.map(_.getDouble(5)).sum, rs.map(_.getDouble(6)).sum)
        }
        val got = r.rows.get.map(row => (row.getString(0), row.getString(1)) ->
          (row.getLong(2), row.getDouble(3), row.getDouble(4))).toMap
        def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
        val ok = got.keySet == want.keySet && got.forall { case (k, (n, q, p)) =>
          val (wn, wq, wp) = want(k); n == wn && close(q, wq) && close(p, wp) }
        if (ok) None else Some(Mismatch(r.op.name, s"v${r.version}: aggregates differ from the model"))
    }
  }

  /** The full run builds every model; the rerun rebuilds the edited model
    * and reuses the others; the revenue mart matches plain Spark. */
  private def checkPipeline(ctx: Ctx, results: Seq[(String, Double)], dir: String): Seq[Mismatch] = {
    val n = Pipeline.dag("").size
    val (full, rerun) = results.splitAt(n)
    val bad = mutable.ArrayBuffer[Mismatch]()
    if (full.size != n || full.exists(_._1 != "success"))
      bad += Mismatch("pipeline.run", s"statuses ${full.map(_._1).mkString(",")}")
    if (rerun.size != n || rerun.count(_._1 == "reused") != n - 1)
      bad += Mismatch("pipeline.rerun", s"statuses ${rerun.map(_._1).mkString(",")}")
    if (bad.isEmpty) {
      val want = ctx.spark.read.parquet(s"${ctx.fixtures}/lineitem.parquet")
        .select(col("l_shipdate").cast("date")).distinct().count()
      val got = DeltaLite.read(ctx.spark, s"$dir/gold_daily_revenue").count()
      if (got != want) bad += Mismatch("pipeline.run", s"gold_daily_revenue rows $got != $want")
    }
    bad.toSeq
  }

  /** Accumulates the sources.* readings per format. */
  final class SourceStats {
    private val sums = mutable.Map[(String, String), Double]().withDefaultValue(0.0)
    def add(f: Format, k: String, v: Double): Unit = synchronized { sums((f.name, k)) += v }
    def get(f: Format, k: String): Double = sums((f.name, k))
    /** files kept by the scan's pruning ÷ files in the snapshot */
    def keep(f: Format, df: DataFrame, total: Int): Unit = {
      add(f, "kept_files", df.inputFiles.length.toDouble); add(f, "all_files", total.toDouble)
    }
    /** End of the op's last job, to split a write into data and commit. */
    def lastJobEnd(ctx: Ctx, op: Int): Option[Long] =
      ctx.probe.flatMap { p => p.drain(); p.jobsOf(op).map(_._2).maxOption }

    def metrics(ctx: Ctx, stored: Seq[(Format, Long, Long, Int)],
        paths: Map[Format, String], models: Map[Format, Model]): Map[String, Double] =
      Seq(GraftLog, DeltaLog).flatMap { f =>
        val (_, _, freshBytes, live) = stored.find(_._1 == f).get
        val bytesPerRow = freshBytes.toDouble / math.max(1, live)
        val logFiles = Option(new java.io.File(f.logDir(paths(f))).list()).map(_.toSeq).getOrElse(Nil)
        val commits = math.max(1.0, get(f, "commits"))
        val snaps = math.max(1.0, get(f, "snapshots"))
        val scans = math.max(1.0, get(f, "scans"))
        Seq(
          "commit_s" -> get(f, "commit_s") / commits,
          "snapshot_s" -> get(f, "snapshot_s") / snaps,
          "scan_plan_s" -> get(f, "scan_plan_s") / scans,
          "files_kept_ratio" -> (if (get(f, "all_files") == 0) 0.0 else get(f, "kept_files") / get(f, "all_files")),
          "log_versions" -> (models(f).tip._1 + 1).toDouble,
          "checkpoints" -> logFiles.count(_.contains("checkpoint")).toDouble,
          "write_amp" -> (if (get(f, "batch_rows") == 0) 0.0
            else get(f, "bytes_added") / (get(f, "batch_rows") * bytesPerRow))
        ).map { case (k, v) => s"sources.${f.name}.$k" -> v }
      }.toMap
  }
}
