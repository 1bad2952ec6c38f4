package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark JVM. Usage (run.py passes these):
  *
  *   perfbench.Main --workload <batch_concurrent|lakehouse_pipeline>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *     --fixtures <dir> --expected <expected.json>
  *   perfbench.Main --dump <file> --fixtures <dir> --work <dir> --expected <expected.json>
  *
  * The first form sets up (session, warm-up), runs the timed op stream,
  * checks every answer outside the timed region and writes a result
  * record to `--out`. The second form records every pool query's
  * fingerprint and warm solo time in `<file>` (the input of
  * `tools/expected.py`). `--fixtures` names the directory of the fixture
  * tables, one `<table>.parquet` each. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mainAt = Workloads.setupSeconds()
    val calStart = Env.calibrate()
    val loadStart = Env.loadavg()
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args("work")).toAbsolutePath
    val spark = session(cores, work)
    val sessionAt = Workloads.setupSeconds()
    val expectedPath = Paths.get(args("expected"))
    val expected =
      if (Files.exists(expectedPath)) Expected.load(expectedPath) else Expected(Map.empty)
    val fixtures = Paths.get(args("fixtures")).toAbsolutePath
    require(Files.exists(fixtures.resolve("lineitem.parquet")), s"no fixtures under $fixtures")
    if (args.contains("dump")) {
      Dump.run(spark, fixtures, Paths.get(args("dump")).toAbsolutePath)
      spark.stop()
      return
    }
    val traced = args.getOrElse("trace", "0") == "1"
    val probe = if (traced) Some(new Probe(spark)) else None
    probe.foreach(_.attach())
    val ctx = new Ctx(spark, fixtures.toString, work, args("seed").toLong,
      args("seconds").toInt, probe)
    ctx.setupSteps("main") = mainAt
    ctx.setupSteps("session") = sessionAt
    val workload = args("workload")
    val result: Result = workload match {
      case "batch_concurrent" => Workloads.queries(ctx, QueryLoad.batch(cores), expected)
      case "lakehouse_pipeline" => Workloads.lakehouse(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val env = Map(
      "nproc" -> cores,
      "loadavg_start" -> loadStart,
      "loadavg_end" -> Env.loadavg(),
      "calibration_s_start" -> calStart,
      "calibration_s_end" -> Env.calibrate(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    val record = result.record ++ Map("workload" -> workload, "seed" -> ctx.seed,
      "trace" -> traced, "seconds" -> ctx.seconds, "env" -> env,
      "setup_steps" -> ctx.setupSteps)
    Util.writeFile(Paths.get(args("out")), Util.json(record))
    probe.foreach { p =>
      Util.writeFile(Paths.get(args("out") + ".spans.json"), Util.json(Map(
        "self_s" -> Probe.selfSeconds(result.spans),
        "spans" -> result.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op))))
      )
    }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }

  /** The session as graft.Bench configures it: graft's extensions, UTC,
    * AQE on, FAIR scheduling (one pool per client thread), shuffle
    * partitions from the core count. */
  def session(cores: Int, work: Path): SparkSession = {
    Files.createDirectories(work)
    val pools = work.resolve("fairscheduler.xml")
    Util.writeFile(pools, QueryLoad.allocationXml(cores))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", math.max(4, cores / 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", pools.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.LogHygiene.suppressKnownBenign()
    s
  }
}

/** What a workload hands back: the record fields and, when traced, the
  * spans. */
final case class Result(record: Map[String, Any], spans: Seq[Span])
