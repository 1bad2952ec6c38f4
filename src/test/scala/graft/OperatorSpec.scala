package graft

import graft.operators.{AsOfJoin, Merge, Scd2}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics of the custom operators (SURVEY.md §5 layer 2): MERGE
  * upsert, SCD2 build, as-of join — hand-computed expectations on small
  * in-memory frames. */
class OperatorSpec extends AnyFunSuite with TestSpark {

  test("MERGE rejects duplicate source keys (non-deterministic upsert)") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val dupes = Seq((2L, "X"), (2L, "Y"), (3L, "c")).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Merge.upsert(target, dupes, Seq("k"))
    }
    assert(e.getMessage.contains("duplicate source keys"))
    // unique sources still merge fine
    val ok = graft.operators.Merge.upsert(target,
      Seq((2L, "B"), (3L, "c")).toDF("k", "s"), Seq("k"))
    assert(ok.count() === 3)
  }

  test("Merge.upsert updates matched, inserts new, keeps unmatched") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val updates = Seq((2L, "B", 99.0), (4L, "d", 40.0)).toDF("k", "s", "v")
    val out = Merge.upsert(target, updates, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(out === Seq((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0),
      (4L, "d", 40.0)))
  }

  test("Merge.upsert null update values overwrite (UPDATE SET *)") {
    import spark.implicits._
    val target = Seq((1L, Some("a"))).toDF("k", "s")
    val updates = Seq((1L, Option.empty[String])).toDF("k", "s")
    val out = Merge.upsert(target, updates, Seq("k"))
      .as[(Long, Option[String])].collect().toSeq
    assert(out === Seq((1L, None)))
  }

  test("Merge.upsert is idempotent") {
    import spark.implicits._
    val target = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val updates = Seq((2L, 5.0), (3L, 3.0)).toDF("k", "v")
    val once = Merge.upsert(target, updates, Seq("k"))
    val twice = Merge.upsert(once, updates, Seq("k"))
    assert(once.orderBy("k").collect().toSeq ===
      twice.orderBy("k").collect().toSeq)
  }

  test("Scd2.build: intervals ordered, gap-free, one open row per key") {
    import spark.implicits._
    val changes = Seq(
      (1L, "x", 1000L), (1L, "x", 2000L), (1L, "y", 3000L), (1L, "x", 4000L),
      (2L, "z", 1000L))
      .toDF("k", "attr", "t")
      .withColumn("t", timestamp_millis(col("t")))
    val out = Scd2.build(changes, Seq("k"), "t", Seq("attr"))
    // consecutive duplicate (1,x,2000) compressed away
    assert(out.count() === 4)
    val k1 = out.filter(col("k") === 1).orderBy("valid_from")
      .select(col("attr"), col("is_current")).collect().map(r => (r.getString(0), r.getBoolean(1)))
    assert(k1.toSeq === Seq(("x", false), ("y", false), ("x", true)))
    // gap-free: valid_to of row i == valid_from of row i+1
    val iv = out.filter(col("k") === 1).orderBy("valid_from")
      .select(col("valid_from").cast("long"), col("valid_to").cast("long"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(iv.toSeq === Seq((1L, 3L), (3L, 4L), (4L, -1L)))
    // exactly one open row per key
    val open = out.filter(col("valid_to").isNull).groupBy("k").count()
      .collect().map(_.getLong(1))
    assert(open.forall(_ === 1L))
  }

  test("Scd2.buildRuns: hard deletes close at the missed run, reappearance re-inserts, timestamp strategy stamps source time") {
    import spark.implicits._
    // run calendar t=1..5; key 1: present 1,2 (x), 3 (y), absent 4,
    //   reappears 5 with the SAME attr (must re-insert);
    // key 2: present 1 only (deleted at 2, never returns);
    // key 3: present at every run, attr constant (one interval, open)
    val runs = Seq(
      (1L, "x", 1000L, 10000L), (1L, "x", 2000L, 10000L),
      (1L, "y", 3000L, 30000L), (1L, "y", 5000L, 30000L),
      (2L, "z", 1000L, 11000L),
      (3L, "w", 1000L, 12000L), (3L, "w", 2000L, 12000L),
      (3L, "w", 3000L, 12000L), (3L, "w", 4000L, 12000L),
      (3L, "w", 5000L, 12000L))
      .toDF("k", "attr", "t", "ua")
      .withColumn("t", timestamp_millis(col("t")))
      .withColumn("ua", timestamp_millis(col("ua")))
    val out = Scd2.buildRuns(runs, Seq("k"), "t", Seq("attr"),
      strategy = "check", invalidateHardDeletes = true).cache()
    def ivals(k: Long) = out.filter(col("k") === k).orderBy("valid_from")
      .select(col("attr"), col("valid_from").cast("long"),
        col("valid_to").cast("long"), col("is_current"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
    // key 1: [1,3) x, [3,4) y CLOSED BY THE MISSED RUN 4, re-insert [5,∞) y
    assert(ivals(1L).toSeq === Seq(("x", 1L, 3L, false),
      ("y", 3L, 4L, false), ("y", 5L, -1L, true)))
    // key 2: deleted at run 2 — closed, NOTHING open
    assert(ivals(2L).toSeq === Seq(("z", 1L, 2L, false)))
    // key 3: always present, attr constant — one open interval
    assert(ivals(3L).toSeq === Seq(("w", 1L, -1L, true)))
    // invariants across all keys: ≤1 open row, no overlaps
    val open = out.filter(col("valid_to").isNull).groupBy("k").count()
      .collect().map(_.getLong(1))
    assert(open.forall(_ === 1L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("valid_from"))
    assert(out.withColumn("nf", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull && col("nf").isNotNull &&
        col("valid_to") > col("nf")).count() === 0,
      "intervals must never overlap")
    // without invalidateHardDeletes absence is invisible: key 1 compresses
    // to x→y (re-appearance with same attr does NOT re-insert) and key 2
    // stays open forever
    val soft = Scd2.buildRuns(runs, Seq("k"), "t", Seq("attr"),
      strategy = "check", invalidateHardDeletes = false)
    assert(soft.filter(col("k") === 1L).count() === 2)
    assert(soft.filter(col("k") === 2L && col("is_current")).count() === 1)
    // timestamp strategy: valid_from = updated_at, detection by its motion
    val tsOut = Scd2.buildRuns(runs, Seq("k"), "t", Seq("ua"),
      strategy = "timestamp", updatedAt = Some("ua"),
      invalidateHardDeletes = true)
    val k1ts = tsOut.filter(col("k") === 1L).orderBy("valid_from")
      .select(col("valid_from").cast("long"), col("valid_to").cast("long"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    // ua moves 10→30 at run 3 (one interval per distinct ua), delete at 4,
    // re-insert at run 5 (ua still 30): [10,30) [30,4) [30,∞)
    assert(k1ts.toSeq === Seq((10L, 30L), (30L, 4L), (30L, -1L)))
  }

  test("AsOfJoin.backward matches latest at-or-before, null when none") {
    import spark.implicits._
    val probe = Seq((1L, 100L, "p1"), (1L, 250L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "t", "tag")
    val build = Seq((1L, 100L, "b100"), (1L, 200L, "b200"), (2L, 60L, "b60"))
      .toDF("k", "bt", "payload")
    val out = AsOfJoin.backward(probe, build, "k", "t", "bt", Seq("payload"))
      .orderBy("k", "t")
      .select("tag", "payload").as[(String, Option[String])].collect().toSeq
    // p1 at t=100 matches b100 (inclusive <=); p2 matches b200 (latest);
    // p3 at t=50 precedes every build row for k=2 → null
    assert(out === Seq(("p1", Some("b100")), ("p2", Some("b200")),
      ("p3", None)))
  }

  test("AsOfJoin.forward matches earliest at-or-after; tolerance nulls far matches") {
    import spark.implicits._
    val probe = Seq((1L, 100L, "p1"), (1L, 250L, "p2"), (2L, 500L, "p3"))
      .toDF("k", "t", "tag")
    val build = Seq((1L, 100L, "b100"), (1L, 200L, "b200"), (2L, 60L, "b60"))
      .toDF("k", "bt", "payload")
    val fwd = AsOfJoin.forward(probe, build, "k", "t", "bt", Seq("payload"))
      .orderBy("k", "t")
      .select("tag", "payload").as[(String, Option[String])].collect().toSeq
    // p1 at 100 matches b100 (inclusive >=); p2 at 250 has no later build
    // → null; p3 at 500 follows every k=2 build → null
    assert(fwd === Seq(("p1", Some("b100")), ("p2", None), ("p3", None)))
    val tol = AsOfJoin.backward(probe, build, "k", "t", "bt", Seq("payload"),
        tolerance = Some(lit(40L)))
      .orderBy("k", "t")
      .select("tag", "payload").as[(String, Option[String])].collect().toSeq
    // p2's backward match b200 is 50 > 40 away → nulled, never substituted;
    // p3's b60 is 440 away → nulled
    assert(tol === Seq(("p1", Some("b100")), ("p2", None), ("p3", None)))
  }

  test("AsOfJoin.nearest picks the closer side, backward on ties") {
    import spark.implicits._
    val probe = Seq((1L, 150L, "pmid"), (1L, 190L, "pnear200"),
      (2L, 10L, "ponly_fwd"), (3L, 10L, "pnomatch"))
      .toDF("k", "t", "tag")
    val build = Seq((1L, 100L, "b100"), (1L, 200L, "b200"), (2L, 30L, "b30"))
      .toDF("k", "bt", "payload")
    val out = AsOfJoin.nearest(probe, build, "k", "t", "bt", Seq("payload"))
      .orderBy("k", "t")
      .select("tag", "payload").as[(String, Option[String])].collect().toSeq
    // pmid: gaps 50/50 tie → backward b100; pnear200: 90 back vs 10 fwd →
    // b200; ponly_fwd has only a forward candidate; k=3 has none
    assert(out === Seq(("pmid", Some("b100")), ("pnear200", Some("b200")),
      ("ponly_fwd", Some("b30")), ("pnomatch", None)))
  }

  test("AsOfJoin matches DuckDB-oracle-verified shape on fixture data") {
    // the j7 query itself is oracle-verified; here just pin row stability
    val df = SparkEntry.queries("j7_asof_join")(spark, sf)
    val n = df.count()
    assert(n > 0)
    assert(df.filter(col("click_id").isNotNull).count() > 0)
  }

  test("DistributedRank: two-phase global rank equals a single-partition row_number") {
    import spark.implicits._
    import graft.operators.DistributedRank
    // values deliberately collide across and inside bins; ties broken by id
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextInt(40).toLong))
    val df = rows.toDF("id", "v").repartition(7)
    // value-range bins (v div 10): monotone in v, ties stay in-bin
    val got = DistributedRank.withGlobalRank(df,
        expr("v div 10L"), Seq(col("v").asc, col("id").asc), "r",
        totalOut = Some("n"))
      .select(col("id"), col("r"), col("n"))
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    val want = rows.sortBy { case (id, v) => (v, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    assert(got.size === 500)
    got.foreach { case (id, (r, total)) =>
      assert(r === want(id), s"rank mismatch for id=$id")
      assert(total === 500L)
    }
    // ranks are a permutation of 1..n — contiguous, no gaps or dups
    assert(got.values.map(_._1).toSeq.sorted === (1L to 500L))
    // shard-major variant (bin IS the leading key): matches the
    // (bin, id) lexicographic order exactly
    val got2 = DistributedRank.withGlobalRank(df,
        expr("id % 8"), Seq(col("id").asc), "g")
      .select(col("id"), col("g"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val want2 = rows.map(_._1).sortBy(id => (id % 8, id))
      .zipWithIndex.map { case (id, i) => id -> (i + 1).toLong }.toMap
    assert(got2 === want2)
  }

  test("DistributedRank: a NULL bin raises instead of silently dropping the row") {
    import spark.implicits._
    import graft.operators.DistributedRank
    // a bin expression that nulls out for one row: without the guard the
    // offsets equi-join would drop that row and ranks would still look
    // contiguous — the failure must be LOUD
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L))).toDF("id", "v")
    val ex = intercept[Exception] {
      DistributedRank.withGlobalRank(df,
        expr("v div 10L"), Seq(col("v").asc, col("id").asc), "r")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("DistributedRank")),
      s"expected the non-null-bin contract error, got: $ex")
  }

  test("Bench failure line: one stderr line naming the query, exception class and message") {
    val line = Bench.failureLine("q7",
      new IllegalStateException("first line\n  second line"))
    assert(line ===
      "[bench] FAILED q7: java.lang.IllegalStateException: first line second line")
    assert(Bench.failureLine("q8", new RuntimeException()) ===
      "[bench] FAILED q8: java.lang.RuntimeException: ")
  }

  test("Bench seed loader: full-coverage seeds load, headline-subset overwrites are rejected, garbage is empty") {
    val declared = (1 to 100).map(i => s"q$i").toSet
    def artifact(names: Seq[String], withEma: Boolean): String = {
      val qs = names.map(n => s""""$n":1.5""").mkString("{", ",", "}")
      val ema = if (withEma) s""","ema":$qs""" else ""
      s"""{"metric":"total","value":9.9,"unit":"sec","queries":$qs$ema,"jobs":$qs,"sf":"x"}"""
    }
    // a real artifact covering the suite seeds the schedule
    val (sec, jobs) = Bench.loadSeed(
      artifact(declared.toSeq, withEma = true), declared)
    assert(sec.size === 100 && jobs.size === 100)
    // the driver's headline-subset overwrite (24 of 100 queries, no
    // ema) must be REJECTED — seeding from it scrambles the next run
    val (sec2, jobs2) = Bench.loadSeed(
      artifact(declared.toSeq.take(24), withEma = false), declared)
    assert(sec2.isEmpty && jobs2.isEmpty,
      "a sub-coverage seed must fall back to the static schedule")
    // pre-ema artifacts (full queries map, no ema field) still load
    val (sec3, _) = Bench.loadSeed(
      artifact(declared.toSeq, withEma = false), declared)
    assert(sec3.size === 100)
    // unparseable content propagates as an exception (main catches it)
    intercept[Exception] { Bench.loadSeed("not json {", declared) }
    // the r17 contamination case: a FULL-coverage pre-EMA artifact
    // written by a loaded run (host_speed 3.616) passes the subset
    // guard — raw seconds must come back normalized by host_speed so
    // absolute pool thresholds keep meaning reference-speed seconds
    val qs = declared.toSeq.map(n => s""""$n":3.616""").mkString("{", ",", "}")
    val loaded =
      s"""{"metric":"total","value":9.9,"unit":"sec","queries":$qs,"host_speed":3.616,"sf":"x"}"""
    val (sec4, _) = Bench.loadSeed(loaded, declared)
    assert(sec4.size === 100)
    assert(math.abs(sec4("q1") - 1.0) < 1e-9,
      s"raw seconds must be host_speed-normalized, got ${sec4("q1")}")
    // EMA absorption refuses loaded samples: an existing prior survives
    // a speed>1.5 run untouched; a new query still takes its first
    // (normalized) sample; calm runs fold 0.5/0.5 as before
    assert(Bench.foldEma(Some(2.0), 7.0, 3.6) === 2.0)
    assert(Bench.foldEma(None, 7.0, 3.6) === 7.0)
    assert(Bench.foldEma(Some(2.0), 3.0, 1.0) === 2.5)
    // the r18 contamination case: a seed recorded at a DIFFERENT core
    // count (the driver's 8-core scaling run overwrites the artifact) is
    // a different experiment — completion times are functions of the
    // submission-pool width. Reject it; same-cpus seeds still load, and
    // artifacts predating ema_cpus fall back to their cpus field.
    def cpusArtifact(ec: String): String = {
      val qs = declared.toSeq.map(n => s""""$n":1.5""").mkString("{", ",", "}")
      s"""{"metric":"total","value":9.9,"unit":"sec","queries":$qs,"ema":$qs$ec,"sf":"x"}"""
    }
    val (sec5, _) = Bench.loadSeed(cpusArtifact(""","ema_cpus":8"""), declared, 32)
    assert(sec5.isEmpty, "an off-cpus seed must fall back to the static schedule")
    val (sec6, _) = Bench.loadSeed(cpusArtifact(""","ema_cpus":32"""), declared, 32)
    assert(sec6.size === 100)
    val (sec7, _) = Bench.loadSeed(cpusArtifact(""","cpus":8"""), declared, 32)
    assert(sec7.isEmpty, "pre-ema_cpus artifacts must honor their cpus field")
    // cpus=0 (callers that don't know the core count) keeps legacy behavior
    val (sec8, _) = Bench.loadSeed(cpusArtifact(""","cpus":8"""), declared)
    assert(sec8.size === 100)
  }

  test("GroupedPercentile matches native percentile/percentile_disc bit-for-bit") {
    import spark.implicits._
    // seeded generator: int-ish values (heavy ties), continuous doubles,
    // group sizes from 1 up, including a single-row group — the edge set
    // where interpolation shortcuts (lower==higher, lowerKey==higherKey)
    // and the disc rank clamp actually fire
    val rnd = new scala.util.Random(4242L)
    val rows = (0 until 5000).map { i =>
      val g = s"g${rnd.nextInt(7)}"
      val v: java.lang.Double =
        if (rnd.nextBoolean()) rnd.nextInt(20).toDouble // ties
        else rnd.nextDouble() * 1000.0
      (g, v)
    } :+ (("solo", java.lang.Double.valueOf(42.0))) // 1-row group
    val df = rows.toDF("g", "v")
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.3333333333333333, 0.9, 1.0)
    val cont = ps.zipWithIndex.map { case (p, i) => (s"c$i", p) }
    val disc = ps.zipWithIndex.map { case (p, i) => (s"d$i", p) }
    val ours = graft.operators.GroupedPercentile
      .of(df, Seq("g"), "v", cont, disc)
      .orderBy(col("g")).collect()
    val nativeAggs = ps.zipWithIndex.map { case (p, i) =>
      expr(s"percentile(v, ${p}D)").as(s"c$i") } ++
      ps.zipWithIndex.map { case (p, i) =>
        expr(s"percentile_disc(${p}D) WITHIN GROUP (ORDER BY v)").as(s"d$i") }
    val ref = df.groupBy(col("g")).agg(nativeAggs.head, nativeAggs.tail: _*)
      .orderBy(col("g")).collect()
    assert(ours.length === ref.length)
    ours.zip(ref).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      (1 until a.length).foreach { i =>
        val (x, y) = (a.getDouble(i), b.getDouble(i))
        assert(java.lang.Double.doubleToRawLongBits(x) ===
          java.lang.Double.doubleToRawLongBits(y),
          s"group ${a.getString(0)} col $i: ours=$x native=$y")
      }
    }
    // long-typed input (the a22 cents shape): same parity
    val dl = rows.map { case (g, v) => (g, math.round(v * 100)) }
      .toDF("g", "cents")
    val oursL = graft.operators.GroupedPercentile
      .of(dl, Seq("g"), "cents", Seq(("med", 0.5)))
      .orderBy(col("g")).collect()
    val refL = dl.groupBy(col("g"))
      .agg(expr("percentile(cents, 0.5D)").as("med"))
      .orderBy(col("g")).collect()
    oursL.zip(refL).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToRawLongBits(a.getDouble(1)) ===
        java.lang.Double.doubleToRawLongBits(b.getDouble(1)))
    }
    // windowed flavor: contOfSorted over a sliding collect_list must
    // bit-match the native percentile as a window aggregate, including
    // short head frames (n = 1..11)
    val wdf = rows.zipWithIndex.map { case ((g, v), i) => (g, i.toLong, v) }
      .toDF("g", "k", "v")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("k")).rowsBetween(-10, 0)
    val both = wdf.select(
      expr("percentile(v, 0.5D)").over(w).as("ref"),
      graft.operators.GroupedPercentile.contOfSorted(
        sort_array(collect_list(col("v")).over(w)), 0.5).as("ours"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"windowed: ref=${r.getDouble(0)} ours=${r.getDouble(1)}")
    }
  }

  test("l3_mmr_rerank greedy fold: relevance-first pick, diversity penalty flips step 2, ties to lower nid") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("l3_mmr_rerank")(spark, sf)
      .select(col("qid"), col("nid"), col("step"), col("score")).collect()
    // shape: 4 steps per query id, steps strictly 1..4, no repeated nid
    // within a query, and step-1 is the max-relevance (score = reli*7)
    // candidate — the integer greedy the unrolled-CTE oracle restates
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(2)).sorted.toSeq === Seq(1, 2, 3, 4), s"q$q steps")
      val nids = rows.map(_.getLong(1))
      assert(nids.distinct.length === nids.length, s"q$q picked a nid twice")
    }
    // step scores never increase within a query after step 1's pure
    // relevance (the diversity penalty only subtracts)
    byQ.foreach { case (q, rows) =>
      val s = rows.sortBy(_.getInt(2)).map(_.getLong(3))
      assert(s.tail.zip(s).forall { case (b, a) => b <= a },
        s"q$q scores increased across steps: ${s.toSeq}")
    }
  }

  test("query registry: names are distinct and both containment variants ship") {
    // Seq.toMap keeps the last duplicate silently — the r16 shadowing
    // shipped the wrong l2_containment for a full round. SparkEntry now
    // `require`s distinctness at init; this pin makes any future
    // collision a test failure, not a silent swap.
    val names = SparkEntry.queries.keySet
    assert(names.contains("l2_containment"), "symmetric variant missing")
    assert(names.contains("l2_containment_directed"), "directed variant missing")
    // the directed variant is the one with the integer cross-multiply flag
    val sf = "/root/testdata/sf0.001"
    val directed = SparkEntry.queries("l2_containment_directed")(spark, sf)
    assert(directed.columns.toSeq ===
      Seq("ida", "idb", "inter", "sza", "high", "containment"))
    // oracle twins exist for both
    assert(SparkEntry.oracleSql.contains("l2_containment"))
    assert(SparkEntry.oracleSql.contains("l2_containment_directed"))
  }

  test("Verify's oracle_sql.json names exactly the queries a subset run dumps; no subset keeps every declared query") {
    def keys(json: String): Set[String] =
      org.json4s.jackson.JsonMethods.parse(json) match {
        case org.json4s.JObject(fs) => fs.map(_._1).toSet
        case other => fail(s"not a JSON object: $other")
      }
    val all = SparkEntry.oracleSql
    val two = all.keys.toSeq.sorted.take(2).toSet
    assert(two.size === 2)
    assert(keys(Verify.oracleSqlJson(all, two)) === two)
    assert(keys(Verify.oracleSqlJson(all, Set.empty)) === all.keySet)
  }
}
