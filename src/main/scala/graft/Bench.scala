package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * `value` = wall-clock seconds for the WHOLE suite. Queries run
  * concurrently (FAIR scheduler, 16 submission threads): each individual
  * query at bench scale uses a handful of cores for milliseconds of real
  * compute, so sequential execution would measure Spark's per-job fixed
  * costs (codegen compilation, stage scheduling) 69 times back-to-back —
  * concurrent submission is how a real multi-query workload runs on a
  * cluster, and is the fair suite-throughput comparison against the
  * single-process reference stack. A warmup of two queries primes the
  * JIT, shuffle machinery and parquet footer caches before timing starts
  * (per-query numbers are also reported, measured under concurrency).
  * It does not prime generated code for the suite: one full pass over
  * the declared queries compiles 4,653 classes (sf0.01, one query at a
  * time), more than Spark's generated-class cache holds even at
  * [[GraftExtensions.GeneratedClassCacheEntries]], and a second such
  * pass recompiled 4,207 of them. */
object Bench {
  /** FAIR pool allocation written to a temp file at launch: the three
    * pools used below with minShare floors (steps 8, chains 8) so the
    * latency-bound families never starve behind the ad-hoc flood. */
  private def poolConfigFile(): String = {
    val xml =
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="graft-steps">
        |    <schedulingMode>FAIR</schedulingMode>
        |    <weight>1</weight>
        |    <minShare>8</minShare>
        |  </pool>
        |  <pool name="graft-chains">
        |    <schedulingMode>FAIR</schedulingMode>
        |    <weight>2</weight>
        |    <minShare>8</minShare>
        |  </pool>
        |  <pool name="graft-adhoc">
        |    <schedulingMode>FAIR</schedulingMode>
        |    <weight>2</weight>
        |    <minShare>0</minShare>
        |  </pool>
        |  <pool name="graft-critical">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>4</weight>
        |    <minShare>8</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft-pools", ".xml")
    java.nio.file.Files.write(f, xml.getBytes("UTF-8"))
    f.toFile.deleteOnExit()
    f.toString
  }

  /** Parse the self-seeding schedule (per-query EMA seconds + job
    * counts) out of a committed bench_result.json — REJECTING a seed
    * that doesn't cover the suite. The driver's loaded bench runs have
    * twice overwritten the artifact with the PRINTED 24-query headline
    * subset (no ema, no jobs); seeding from that scrambles the LPT
    * head and pool classification for the next run (the hs-4.0 chaos
    * BASELINE.md documents). A seed covering under half the declared
    * queries is that failure mode, not a schedule — fall back to the
    * static lists and say so on stderr.
    *
    * EMA layer: `ema` smooths per-query seconds across runs (the box
    * runs a documented ~1.4× "slow mode" some runs — a single slow
    * sample would misclassify pools; the half-life-of-one-run average
    * forgets it in two). Falls back to the raw last-run seconds for
    * artifacts written before the field existed. */
  private[graft] def loadSeed(jsonText: String, declared: Set[String],
      cpus: Int = 0): (Map[String, Double], Map[String, Long]) = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(jsonText)
    def num(v: JValue): Option[Double] = v match {
      case JDouble(x) => Some(x); case JInt(x) => Some(x.toDouble)
      case JLong(x) => Some(x.toDouble); case _ => None
    }
    def obj(k: String): Map[String, Double] = j \ k match {
      case o: JObject => o.obj.flatMap { case (n, v) =>
        num(v).filter(_ >= 0).map(n -> _) }.toMap
      case _ => Map.empty
    }
    // CORE-COUNT GUARD (r19): per-query completion seconds are only
    // comparable at the SAME core count — the submission pool width, the
    // queue depth and every completion time are functions of it. The
    // driver benches at a low core count after the main run and that run
    // OVERWRITES the artifact: r18's 8-core overwrite (folded at a
    // meaningless hs 0.5 computed against the 32-core EMA) pushed s77 to
    // a 44 s "EMA" and handed l2_minhash_lsh a 29.9 s completion on the
    // next 32-core run. An EMA recorded at a different core count is a
    // different experiment — fall back to the static schedule and let
    // this run re-seed in its own units. `ema_cpus` (written below)
    // tags the units; older artifacts fall back to their `cpus` field.
    val seedCpus = num(j \ "ema_cpus").orElse(num(j \ "cpus"))
      .map(_.toInt).getOrElse(cpus)
    if (cpus > 0 && seedCpus != cpus) {
      System.err.println(
        s"[bench] ignoring bench_result.json seed: its schedule was " +
          s"measured at cpus=$seedCpus, this run is cpus=$cpus — " +
          "completion times are not comparable across core counts; " +
          "falling back to the static schedule")
      return (Map.empty, Map.empty)
    }
    // Prefer the EMA (already in reference-speed units — the writer
    // normalizes before folding). A pre-EMA artifact only has raw
    // `queries` seconds: normalize those by the run's recorded
    // host_speed, else a seed written on a 3.6×-loaded box (the r17
    // driver overwrite) pushes dozens of mid queries over the absolute
    // pool thresholds and scrambles the schedule.
    val sec = {
      val e = obj("ema")
      if (e.nonEmpty) e
      else {
        val hs = num(j \ "host_speed").filter(_ > 0).getOrElse(1.0)
        obj("queries").map { case (k, v) => k -> v / hs }
      }
    }
    val covered = declared.count(sec.contains).toDouble
    if (sec.nonEmpty && declared.nonEmpty &&
        covered / declared.size < 0.5) {
      System.err.println(
        s"[bench] ignoring bench_result.json seed: it covers only " +
          s"${covered.toInt}/${declared.size} declared queries (a " +
          "headline-subset overwrite, not a schedule) — restore the " +
          "committed artifact; falling back to the static schedule")
      (Map.empty, Map.empty)
    } else (sec, obj("jobs").map { case (k, v) => k -> v.toLong })
  }

  /** The one stderr line a failed query leaves: name, exception class
    * and message, the message folded onto the line. */
  private[graft] def failureLine(name: String, t: Throwable): String =
    s"[bench] FAILED $name: ${t.getClass.getName}: " +
      Option(t.getMessage).getOrElse("").replaceAll("\\s*\\R\\s*", " ")

  /** EMA fold for one query's normalized sample. A heavily loaded run
    * (median inflation `speed` > 1.5) has per-query noise far above the
    * median correction — the r17 driver run at hs 3.616 put l4_tfidf at
    * 7.1× and l2_simhash at 6.9× while untouched — so a loaded sample is
    * NOT absorbed into an existing EMA (the schedule keeps the calm
    * prior); only a query with no prior takes its normalized first
    * sample (better than falling back to the static lists). */
  private[graft] def foldEma(
      prior: Option[Double], norm: Double, speed: Double): Double =
    prior match {
      case Some(p) if speed > 1.5 => p
      case Some(p) => 0.5 * p + 0.5 * norm
      case None => norm
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to every core on the box: the bench driver sets only
    // SPARK_GRAFT_SF_DIR, and a hard-coded low default silently benches the
    // suite on local[4] (round-2 drove 92 queries through 4 cores: 1054 s
    // vs ~30 s at local[32]).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // Under concurrent submission, per-query parallelism needs only a few
    // partitions (suite-level concurrency saturates the cores); large
    // shuffle fan-out would multiply tiny tasks and scheduler pressure.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      math.max(4, cpus.toInt / 8).toString)
    // SELF-SEEDING schedule: the previous committed bench_result.json
    // carries per-query seconds AND job counts (recorded below) — the
    // measured signals that drive submission order and pool membership,
    // so a new long-lifecycle query is classified by its own first run
    // instead of waiting for a hand-maintained list to notice it
    // dragging the makespan (what l2_crawl_gate did in round 11).
    val prior: (Map[String, Double], Map[String, Long]) = try {
      Bench.loadSeed(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_result.json")), "UTF-8"),
        SparkEntry.queries.keySet, cpus.toInt)
    } catch { case _: Throwable => (Map.empty, Map.empty) }
    val (priorSec, priorJobs) = prior

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.scheduler.mode", "FAIR")
      // minShare guarantees (see the pool comments below): the iterator
      // pool's tiny frontier jobs get slots IMMEDIATELY instead of
      // fair-queueing behind lifecycle stages — a recursive CTE's wall
      // is (steps × per-step wait), so bounded wait is everything. The
      // shares sum under the core count; surplus splits by weight.
      .config("spark.scheduler.allocation.file", poolConfigFile())
      // A/B knob for the plan-time dim probes (DynamicBranchPruning)
      .config("spark.graft.dpp.enabled",
        sys.env.getOrElse("SPARK_GRAFT_DPP", "true"))
      // AQE stays ON by default (the 100 TB answer: runtime coalescing,
      // skew splits, runtime join downgrades). The env knob exists for
      // A/B only — r19 measured the suite with it off (see
      // OPTIMIZATION_r19.md) before keeping the default.
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    LogHygiene.suppressKnownBenign() // see LogHygiene — artifact tails

    // per-query JOB counts: each query tags its jobs with a job-group id
    // and a listener tallies them — the shape signal (many tiny frontier
    // jobs = iterator, many commit-lifecycle jobs = chain) the NEXT run's
    // pool classification reads back from bench_result.json. Streaming
    // queries' micro-batch jobs run on their own threads and escape the
    // group — that blind spot is why the static lists below survive as
    // a fallback layer.
    val jobCounts = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val g = js.properties.getProperty("spark.jobGroup.id")
          if (g != null && g.startsWith("bq:"))
            jobCounts.computeIfAbsent(g.substring(3),
              _ => new java.util.concurrent.atomic.AtomicLong())
              .incrementAndGet()
        }
      })

    // warmup (uncounted): flagship agg + one events read (ns-timestamp
    // path) prime JIT, codegen cache, shuffle machinery, file listings.
    SparkEntry.queries("a1_groupby_aggs")(spark, sfDir).count()
    SparkEntry.queries("t6_dedup_events")(spark, sfDir).count()

    val pool = Executors.newFixedThreadPool(
      // Submission width is CAPPED below the core count: at 241 queries,
      // 32 concurrent submissions × 32-task stages on 32 cores thrash
      // (timeslice churn + memory pressure) — measured round 7: pool=32
      // put the lifecycle poles at 25-34 s concurrent, pool=12-16 puts
      // the worst pole at 12-34 s and won the best observed wall
      // (29.9 s vs 41-44 s). A real cluster's admission control does
      // the same thing: bound in-flight queries, queue the rest.
      sys.env.getOrElse("SPARK_GRAFT_POOL",
        math.min(16, math.max(8, cpus.toInt)).toString).toInt)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val loadStart =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    // LPT scheduling: the pool runs ~cpus queries at once and the rest
    // queue, so submission order sets the makespan. Starting the known
    // long poles first (measured under concurrency across rounds) keeps
    // a 10 s query from being dequeued at t=15 s and dragging the tail;
    // everything else follows in map order. A real multi-tenant cluster
    // queue does exactly this with runtime estimates.
    // STATIC FALLBACK lists (curated across rounds 7-11): they seed the
    // schedule when no prior bench_result.json exists, cover queries the
    // prior run didn't see (fresh additions), and keep the streaming
    // blind spot pinned (a stream's micro-batch jobs escape the
    // job-group tally, so l2_crawl_gate would read as adhoc from data).
    // Measured classification from the prior run's (sec, jobs) is the
    // primary layer and ADDS membership on top.
    val heavyFirstStatic = Seq(
      // the two longest serial chains lead: a chain dequeued at t=15 s
      // single-handedly sets the makespan (t19 measured 40 s when it
      // started late vs 18-24 s leading)
      "t19_holt_linear", "l2_crawl_gate",
      "s26_mv_minmax", "s25_incremental_mv", "t11_microbatch", "s33_join_mv",
      "l3_ann_index", "s35_liquid_cluster", "s34_type_widening",
      "l2_dedup_groups", "s24_merge_evolution", "s9_scd2_snapshot",
      "s36_row_tracking_stable",
      "l3_ann_pq", "l2_substring_dedup", "l4_tfidf", "l3_ann_ivfpq",
      "l2_minhash_lsh", "s13_delete_insert", "l2_semdedup", "l3_ann_ivf",
      "l2_simhash", "s8_merge_upsert", "t4_session_window",
      "t10_retention", "l3_cosine_pairs", "g1_pagerank", "j1_join_inner",
      "j8_correlated_subquery", "w1_ranking", "l3_cosine_topk",
      "l4_bpe_pairs")
    // The top poles are SERIAL job chains (multi-commit DeltaLite
    // lifecycles: each create/append/refresh is several back-to-back
    // jobs), so under plain FAIR they pay a time-slice wait per job ×
    // ~20 jobs while 140 short queries churn. Giving them a pool of
    // their own halves that tax: FAIR splits resources per-POOL, so the
    // few chains share 50% instead of 1/167 each, and once the short
    // tail drains they take the whole box — exactly how a production
    // cluster pools its long ETL pipelines apart from ad-hoc queries.
    // Keep this pool SMALL (6-7 members): it splits half the box across
    // its members, so every added query dilutes the share that makes
    // the split work (12 members measured 34 s where 6 measured 24 s).
    // NOTE run-to-run comparisons need a clean page cache: each bench
    // leaves a dirty-page writeback backlog (thousands of temp DeltaLite
    // files) that stalls the NEXT run's IO in D-state — loadavg counts
    // those, so "idle CPU, loadavg 5" = writeback, wait it out.
    // l3_ann_ivf joined in round 7: its driver-side k-means train is a
    // sample-collect job CHAIN before the query body — the r6 idle run
    // still had it at 12.8 s of queue time in the ad-hoc pool.
    // o8_recursive_cte: WITH RECURSIVE executes as a ~24-step loop of
    // tiny frontier joins — scheduler-latency-bound like the lifecycle
    // chains, so it shares their pool instead of queueing ad-hoc slots.
    // Round-8 joiners (the r7 loaded run's remaining serial-chain poles,
    // 23-36 s of queue time each in the ad-hoc pool): g2_bfs_hops /
    // g4_label_prop iterate small frontier jobs like o8; s37/s20/s43 are
    // multi-commit DeltaLite lifecycles like s25/s26.
    val staticChains = Set(
      "s26_mv_minmax", "s25_incremental_mv", "l3_ann_index",
      "s24_merge_evolution", "s13_delete_insert", "l2_dedup_groups",
      "g1_pagerank", "l3_ann_ivf",
      "s37_scd2_timestamp",
      "s20_reorg_purge", "s43_orc_interchange",
      // the crawl gate drives probe+append micro-batches (DeltaLite
      // commit chain): a serial lifecycle like s25/s26 — and its
      // micro-batch jobs run on stream-execution threads OUTSIDE the
      // job-group tally, so measured classification can never find it
      "l2_crawl_gate")
    // The ITERATOR family is a different failure mode than the commit
    // chains: ~24-40 TINY frontier jobs back-to-back (recursive CTEs,
    // graph iterations, BPE argmax rounds) — they need scheduling
    // FREQUENCY, not share. In the 20-member chains pool each step
    // queued behind whole lifecycle stages and t19 stretched to the
    // bench wall (41-53 s measured); a pool of their own keeps every
    // step's wait bounded by the few small in-pool competitors.
    val staticSteps = Set(
      "o8_recursive_cte", "t19_holt_linear",
      "g2_bfs_hops", "g4_label_prop", "g6_weighted_sssp", "g7_modularity",
      "l4_bpe_train", "l4_bpe_encode")
    // MEASURED classification (primary layer, from the prior committed
    // run): an iterator is MANY tiny jobs (scheduling-frequency-bound);
    // a chain is many jobs with real total time (share-bound commit
    // lifecycle). Thresholds are deliberately HIGH — the pools protect
    // the few queries that set the makespan, and every quick query that
    // sneaks in dilutes the minShare doing the protecting (first
    // self-seeded run: jobs>=12 admitted dozens of mid queries into
    // steps and the t19 wall went 42.5 s -> 47.5 s across two idle
    // runs; 12 chains measured 34 s where 6 measured 24 s, round 7).
    // A query only NEEDS a pool when it is both long (>=5 s measured)
    // and job-rich; everything else is served fine ad-hoc.
    val measuredSteps = priorJobs.collect {
      case (n, j) if j >= 24 && priorSec.get(n).exists(s =>
        s >= 5.0 && s / j <= 0.25) => n
    }.toSet
    val measuredChains = priorJobs.collect {
      case (n, j) if j >= 10 && priorSec.get(n).exists(_ >= 5.0) => n
    }.toSet -- measuredSteps
    def cap(s: Set[String], n: Int): Set[String] =
      if (s.size <= n) s
      else s.toSeq.sortBy(q => -priorSec.getOrElse(q, 0.0)).take(n).toSet
    val stepPool = cap(staticSteps ++ measuredSteps, 10)
    val chainPool = cap(staticChains ++ measuredChains, 14) -- stepPool
    // LPT order from MEASURED times: longest prior queries submit first
    // (a 10 s query dequeued at t=15 s drags the tail); queries the
    // prior run never saw follow the static head order, then map order.
    val measuredOrder = priorSec.toSeq.filter(_._2 >= 0.8)
      .sortBy(-_._2).map(_._1)
    val heavyFirst = (measuredOrder ++
      heavyFirstStatic.filterNot(measuredOrder.contains)).distinct
    // CRITICAL PATH: the single longest measured chain IS the suite
    // makespan (its completion == the wall in every recorded run since
    // the recursion poles fell). Classic critical-path-first: it gets a
    // one-member pool with a strong share, so its serial jobs never
    // wait behind in-pool siblings — one member by construction, the
    // scarcity that makes minShare work (HANDOFF round-11/12 lesson).
    val critical: Option[String] = measuredOrder.headOption
      .filter(n => chainPool(n) && priorSec.get(n).exists(_ >= 10.0))
    val orderedQueries =
      heavyFirst.flatMap(n => SparkEntry.queries.get(n).map(n -> _)) ++
        SparkEntry.queries.toSeq.filterNot(q => heavyFirst.contains(q._1))
    val t0 = System.nanoTime()
    val futures = orderedQueries.map { case (name, fn) =>
      Future {
        // thread-locals and threads are reused across queries — set them
        // explicitly for EVERY query, never inherit the previous one's
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          if (critical.contains(name)) "graft-critical"
          else if (chainPool(name)) "graft-chains"
          else if (stepPool(name)) "graft-steps"
          else "graft-adhoc")
        // job-group tag feeds the per-query job tally (the shape signal
        // the NEXT run classifies pools from)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", s"bq:$name")
        val q0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case t: Throwable =>
          System.err.println(failureLine(name, t)); false }
        (name, (System.nanoTime() - q0) / 1e9, ok)
      }
    }
    val results = Await.result(Future.sequence(futures), Duration.Inf)
    val total = (System.nanoTime() - t0) / 1e9
    pool.shutdown()

    // Box-load evidence: a loaded shared container inflates wall-clock
    // 10-25× (BENCH_r03: 478 s under load vs 18.6 s idle on the SAME
    // build); recording /proc/loadavg start/end makes that legible in
    // the artifact instead of reading as a code regression.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(",")
      catch { case _: Throwable => "" }
    val loadEnd = loadavg()

    // CALIBRATION SIGNAL, recorded in the artifact itself: the median
    // per-query inflation vs the prior EMA (and the sample count it
    // rests on) — so a cross-round reader can tell "host ran 2.6×
    // slow" from "code got slower" without forensics. 1.0 when there
    // is no prior or too few common samples. Computed ONCE over the
    // FULL result set: the printed headline subset (24 queries) would
    // otherwise publish its own median and disagree with
    // bench_result.json — the exact forensics the field exists to end.
    val ratios = results.collect { case (k, v, true)
      if priorSec.get(k).exists(_ > 0.3) && v > 0.3 =>
      v / priorSec(k) }.sorted
    val speed = if (ratios.size < 20) 1.0
      else math.max(0.5, math.min(4.0, ratios(ratios.size / 2)))
    // ema_cpus tags the units the EMA (and the pool thresholds reading
    // it) are valid in — the next run's loadSeed rejects a mismatch.
    val calib =
      f""","host_speed":$speed%.3f,"host_speed_samples":${ratios.size},"ema_cpus":$cpus"""

    def line(entries: Seq[(String, Double, Boolean)],
        withJobs: Boolean = false): String = {
      val qs = entries.map { case (k, v, ok) =>
        "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1.0")
      }.mkString("{", ",", "}")
      // per-query job counts ride the FILE artifact only (the printed
      // headline stays under the driver's stdout buffer): the shape
      // signal the next run's self-seeding pool classification reads
      val jobs =
        if (!withJobs) ""
        else entries.map { case (k, _, _) =>
          "\"" + k + "\":" +
            Option(jobCounts.get(k)).map(_.get).getOrElse(0L)
        }.mkString(""","jobs":{""", ",", "}")
      // EMA of per-query seconds (file artifact only): 0.5·prior + 0.5·now
      // — what the NEXT run's pool classification and LPT order read, so
      // one slow-mode or queue-noise sample can't scramble the schedule.
      // HOST-SPEED NORMALIZATION first: this box swings 1.4–3× uniformly
      // between runs (documented since r10; measured 42.5 s vs 112–122 s
      // on identical code at idle starts), and the pool classification
      // thresholds are ABSOLUTE seconds — one slow-mode sample pushed 58
      // mid queries over the 5 s chain bar (r12). Dividing the run by
      // its median inflation vs the prior EMA keeps the EMA in
      // reference-speed units: ordering is scale-invariant anyway, and
      // thresholds stay meaningful across host modes. Per-query
      // regressions still surface — they move against the median.
      val ema =
        if (!withJobs) ""
        else {
          entries.collect { case (k, v, true) =>
            val folded = foldEma(priorSec.get(k), v / speed, speed)
            "\"" + k + "\":" + f"$folded%.3f"
          }.mkString(""","ema":{""", ",", "}")
        }
      // failed queries by name (file artifact only): a -1.0 entry in
      // `queries` says THAT a query failed, this list is the roll call
      val failed =
        if (!withJobs) ""
        else entries.collect { case (k, _, false) => "\"" + k + "\"" }
          .mkString(""","failed":[""", ",", "]")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$jobs$ema$failed$calib,"sf":"$sfDir","loadavg_start":"$loadStart","loadavg_end":"$loadEnd","cpus":$cpus}"""
    }
    // Full per-query detail goes to the file; the PRINTED line carries a
    // headline subset because the bench driver keeps only the final 2000
    // chars of stdout — rounds 1 and 2 both lost the suite number
    // ("parsed": null) when the full 92-query line overflowed that buffer
    // and its {"metric":... head was cut off. One query per family, line
    // kept well under the buffer.
    val headline = Seq(
      "a1_groupby_aggs", "a2_count_distinct", "a4_rollup_cube", "j1_join_inner",
      "j7_asof_join", "j8_correlated_subquery", "w1_ranking", "o3_topk",
      "o5_intersect_except", "p2_filter_predicates", "t2_tumbling_window",
      "t4_session_window", "s4_delta_snapshot", "s8_merge_upsert",
      "s9_scd2_snapshot", "l1_exact_dedup", "l2_minhash_lsh", "l2_simhash",
      "l3_cosine_topk", "l3_ann_ivf", "l4_tfidf", "l5_chunking",
      "f4_array_funcs", "f9_decimal")
    val byName = results.map(r => r._1 -> r).toMap
    val printed = line(headline.flatMap(byName.get))
    // Stop Spark BEFORE printing so any shutdown chatter precedes the JSON:
    // the bench driver parses the final stdout line (build.sbt suppresses
    // sbt's trailing [success] banner for the same reason). Logging goes
    // to OFF first — the executor-drain path logs accumulator-GC stack
    // traces that otherwise land in the parsed tail — and the JSON opens
    // with a fresh newline so a torn partial line can never prefix it.
    // The JSON is also persisted to a file as a recovery path.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_result.json"),
      (line(results, withJobs = true) + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(printed)
    System.out.flush()
  }
}
