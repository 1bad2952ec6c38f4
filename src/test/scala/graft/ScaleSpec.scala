package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.operators.SkewJoin
import graft.sources.DeltaLite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-lever mechanics (SURVEY.md §4 + builder prompt): salted skew
  * joins, bucketed co-located joins, Delta DELETE/UPDATE/schema
  * evolution. These verify the MECHANISM (plan shape / result equality)
  * at test scale; the levers themselves are sized for the 100 TB case. */
class ScaleSpec extends AnyFunSuite with TestSpark {

  test("SkewJoin.salted is row-identical to the plain join") {
    // heavily skewed fact: 90% of rows on key 0
    import spark.implicits._
    val fact = (0 until 2000).map(i =>
      (i.toLong, if (i % 10 == 0) i.toLong % 7 else 0L, i * 1.5))
      .toDF("row_id", "k", "v")
    val dim = (0L until 7L).map(k => (k, s"dim_$k")).toDF("k", "label")
    val plain = fact.join(dim, "k").select("row_id", "k", "v", "label")
    val salted = SkewJoin.salted(fact, dim, "k", salts = 8,
      saltFrom = Seq("row_id")).select("row_id", "k", "v", "label")
    assert(plain.count() === salted.count())
    assert(plain.exceptAll(salted).count() === 0)
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("bucketed tables co-locate the join (no shuffle exchange)") {
    // warehouse.dir is static per-JVM; use the default (gitignored) and a
    // fresh session so the broadcast-threshold override stays local
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    val o = Tables.t(s2, sf, "orders")
    val l = Tables.t(s2, sf, "lineitem")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")
    val joined = s2.table("lineitem_b")
      .join(s2.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() === l.count())
    s2.sql("DROP TABLE orders_b"); s2.sql("DROP TABLE lineitem_b")
  }

  test("partitioned gold table: static partition pruning on day filter") {
    val path = Files.createTempDirectory("graft_part").toString
    graft.queries.Medallion.Pipeline.goldDailyRevenue(spark, sf)
      .write.mode("overwrite").partitionBy("day").parquet(path)
    val q = spark.read.parquet(path)
      .filter(col("day") === lit("1996-01-05").cast("date"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"expected partition filter in plan:\n$plan")
    // the filter must NOT appear as a data filter (it's partition-level)
    assert(!plan.matches("(?s).*PushedFilters: \\[.*day.*"),
      "day filter should prune partitions, not rows")
  }

  test("dynamic partition pruning: dim filter prunes fact partitions") {
    val path = Files.createTempDirectory("graft_dpp").toString
    graft.queries.Medallion.Pipeline.goldDailyRevenue(spark, sf)
      .write.mode("overwrite").partitionBy("day").parquet(path)
    // cost heuristics skip DPP at toy scale — relax them in a fresh
    // session (at real scale the stats-based path fires on its own)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    s2.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    s2.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10000")
    import s2.implicits._
    val fact = s2.read.parquet(path)
    // small dim keyed by the PARTITION column, stored as parquet so its
    // filter survives as a Filter node (a LocalRelation folds it away
    // before DPP can use it)
    val dimPath = Files.createTempDirectory("graft_dpp_dim").toString
    Seq(("1996-01-05", "hot"), ("1996-01-06", "cold"))
      .toDF("d", "tag").withColumn("d", col("d").cast("date"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = s2.read.parquet(dimPath).filter(col("tag") === "hot")
    val q = fact.join(dim, fact("day") === dim("d"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning in plan:\n$plan")
    assert(q.count() >= 0)
  }

  test("runtime Bloom-filter join pruning injects on the fact side") {
    // The 100 TB lever for selective dim->fact joins on NON-partition
    // columns (where dynamic partition pruning can't help): Catalyst
    // builds a bloom filter from the filtered dim keys and semi-filters
    // the fact scan before the shuffle. Thresholds lowered to fire at
    // test scale; assert the injected might_contain probe in the plan.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val l = Tables.t(s2, sf, "lineitem")
    val o = Tables.t(s2, sf, "orders").filter(col("o_orderpriority") === "1-URGENT")
    val q = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice")).as("rev"))
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected an injected bloom-filter probe in:\n$plan")
    assert(q.collect().length === 1)
  }

  test("DeltaLite OPTIMIZE compaction preserves data, shrinks file count") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_opt").toString
    DeltaLite.create(spark, path,
      (0L until 100L).map(i => (i, i * 2.0)).toDF("k", "v").repartition(8))
    DeltaLite.append(spark, path,
      (100L until 200L).map(i => (i, i * 2.0)).toDF("k", "v").repartition(8))
    val before = DeltaLite.read(spark, path)
    assert(DeltaLite.snapshot(path).files.length === 16)
    val v = DeltaLite.compact(spark, path, numFiles = 2)
    val files = DeltaLite.snapshot(path).files.length
    assert(files <= 2, s"expected <=2 live parquet files, got $files")
    val after = DeltaLite.read(spark, path)
    assert(after.count() === 200)
    assert(before.exceptAll(after).count() === 0)
    // history untouched: pre-compaction version still readable
    assert(DeltaLite.read(spark, path, Some(v - 1)).count() === 200)
  }

  test("optimized write sizes file count to data volume; default off") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, i * 2.0)).toDF("k", "v")
      .repartition(8)
    // default: one sliver file per input partition
    val plain = Files.createTempDirectory("graft_ow_off").toString
    DeltaLite.create(spark, plain, df)
    assert(DeltaLite.snapshot(plain).files.length === 8)
    // optimizeWrite: the tiny batch bin-packs, on create AND append
    val ow = Files.createTempDirectory("graft_ow_on").toString
    DeltaLite.create(spark, ow, df,
      properties = Map("graft.optimizeWrite" -> "true"))
    assert(DeltaLite.snapshot(ow).files.length === 1)
    DeltaLite.append(spark, ow, df)
    assert(DeltaLite.snapshot(ow).files.length === 2)
    assert(DeltaLite.read(spark, ow).count() === 2000)
    // partitioned: rows of one dir land together — one file per dir
    val owp = Files.createTempDirectory("graft_ow_part").toString
    DeltaLite.create(spark, owp,
      df.withColumn("p", (col("k") % 2).cast("int")),
      partitionBy = Seq("p"),
      properties = Map("graft.optimizeWrite" -> "true"))
    assert(DeltaLite.snapshot(owp).files.length === 2)
  }

  test("DeltaLite file-level log: append adds files without rewriting; " +
      "MERGE/DELETE rewrite only touched files") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_filelog").toString
    // two well-separated key ranges, written as separate commits
    DeltaLite.create(spark, path,
      (0L until 100L).map(i => (i, i * 2.0)).toDF("k", "v").repartition(4))
    val v0Files = DeltaLite.snapshot(path).files.map(_.path).toSet
    DeltaLite.append(spark, path,
      (1000L until 1100L).map(i => (i, i * 2.0)).toDF("k", "v").repartition(4))
    val v1 = DeltaLite.snapshot(path)
    // append carried every v0 file forward by reference — no rewrite
    assert(v0Files.subsetOf(v1.files.map(_.path).toSet))
    assert(v1.files.length === 8)

    // MERGE touching only the high range: low-range files must survive
    DeltaLite.merge(spark, path,
      Seq((1000L, -1.0), (1099L, -1.0), (5000L, -5.0)).toDF("k", "v"), Seq("k"))
    val v2 = DeltaLite.snapshot(path)
    assert(v0Files.subsetOf(v2.files.map(_.path).toSet),
      "merge on the high key range must not rewrite low-range files")
    val merged = DeltaLite.read(spark, path)
    assert(merged.count() === 201) // 200 + 1 inserted key
    assert(merged.filter($"k" === 1000L).select("v").as[Double].head() === -1.0)
    assert(merged.filter($"k" === 50L).select("v").as[Double].head() === 100.0)

    // DELETE in the low range: high-range files must survive
    val highFiles = v2.files.map(_.path).toSet -- v0Files
    DeltaLite.delete(spark, path, $"k" < 10L)
    val v3 = DeltaLite.snapshot(path)
    assert(highFiles.subsetOf(v3.files.map(_.path).toSet),
      "delete on the low key range must not rewrite high-range files")
    assert(DeltaLite.read(spark, path).count() === 191)
    // time travel across all of it still works
    assert(DeltaLite.read(spark, path, Some(0L)).count() === 100)
  }

  test("DeltaLite replaceWhere swaps only the predicate's files") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_rw").toString
    // one commit per "day" → each day lives in its own files
    DeltaLite.create(spark, path,
      (0L until 100L).map(i => (1, i, i * 1.0)).toDF("day", "k", "v").coalesce(1))
    DeltaLite.append(spark, path,
      (0L until 100L).map(i => (2, i, i * 1.0)).toDF("day", "k", "v").coalesce(1))
    DeltaLite.append(spark, path,
      (0L until 100L).map(i => (3, i, i * 1.0)).toDF("day", "k", "v").coalesce(1))
    val before = DeltaLite.snapshot(path)
    val day2Files = before.files.filter(_.stats("day") match {
      case DeltaLite.ColStats(Some(2L), Some(2L)) => true; case _ => false
    }).map(_.path).toSet
    assert(day2Files.size === 1)

    DeltaLite.replaceWhere(spark, path, col("day") === 2,
      (0L until 50L).map(i => (2, i, -1.0)).toDF("day", "k", "v"))
    val after = DeltaLite.snapshot(path)
    // the other days' files survive by reference; day-2's are gone
    assert((before.files.map(_.path).toSet -- day2Files)
      .subsetOf(after.files.map(_.path).toSet))
    assert(day2Files.intersect(after.files.map(_.path).toSet).isEmpty)
    val now = DeltaLite.read(spark, path)
    assert(now.count() === 250)
    assert(now.filter($"day" === 2).agg(sum($"v")).as[Double].head() === -50.0)
    assert(now.filter($"day" === 1).count() === 100)
  }

  test("DeltaLite data skipping: scan prunes files by min/max stats") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_skip").toString
    // 10 commits of 100 rows each, disjoint k ranges → per-file bounds
    DeltaLite.create(spark, path,
      (0L until 100L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    (1 until 10).foreach { b =>
      DeltaLite.append(spark, path,
        (b * 100L until (b + 1) * 100L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    }
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.length === 10)
    val pruned = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("k", lower = Some(250L), upper = Some(349L))))
    assert(pruned.length === 2, s"expected 2 candidate files, got ${pruned.length}")
    // pruned scan + exact filter ≡ full scan + exact filter
    val viaScan = DeltaLite.scan(spark, path,
        Seq(DeltaLite.ColumnBound("k", Some(250L), Some(349L))))
      .filter($"k".between(250L, 349L))
    val viaRead = DeltaLite.read(spark, path).filter($"k".between(250L, 349L))
    assert(viaScan.count() === 100)
    assert(viaScan.exceptAll(viaRead).count() === 0)
    assert(viaScan.inputFiles.length === 2, "scan must open only surviving files")
  }

  test("DeltaLite partitioned table: log-level pruning opens only the bound partition's files") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_hivepart").toString
    val df = (0L until 300L).map(i => (i, s"p${i % 3}", i * 1.0))
      .toDF("k", "part", "v").repartition(2)
    DeltaLite.create(spark, path, df, partitionBy = Seq("part"))
    val snap = DeltaLite.snapshot(path)
    assert(snap.partitionBy === Seq("part"))
    assert(snap.files.forall(_.pv.contains("part")))
    val perPart = snap.files.groupBy(_.pv("part"))
    assert(perPart.keySet === Set("p0", "p1", "p2"))
    // partition bound prunes at the LOG level: only p1's files survive
    val pruned = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("part", Some("p1"), Some("p1"))))
    assert(pruned.map(_.pv("part")).toSet === Set("p1"))
    assert(pruned.length === perPart("p1").length)
    val scanned = DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("part", Some("p1"), Some("p1"))))
      .filter($"part" === "p1")
    assert(scanned.inputFiles.length === perPart("p1").length,
      "scan must open only the bound partition's files")
    // partition column re-attaches from the log with full fidelity
    assert(scanned.count() === 100)
    val full = DeltaLite.read(spark, path)
    assert(full.count() === 300)
    assert(full.select("k", "part", "v").exceptAll(df).count() === 0)
  }

  test("DeltaLite generated columns: materialized, validated, recomputed, partition-pruned") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_gencol").toString
    val df = (0L until 240L).map(i =>
        (i, java.sql.Timestamp.valueOf(f"2024-06-${(i % 4) + 1}%02d 10:00:00"), i * 1.0))
      .toDF("k", "ts", "v").repartition(2)
    // batch does NOT carry the generated column: create materializes it
    DeltaLite.create(spark, path, df, partitionBy = Seq("day"),
      generated = Map("day" -> "date(ts)"))
    val snap = DeltaLite.snapshot(path)
    assert(snap.generated === Map("day" -> "date(ts)"))
    assert(snap.partitionBy === Seq("day"))
    val full = DeltaLite.read(spark, path)
    assert(full.count() === 240)
    assert(full.filter($"day" =!= to_date($"ts")).count() === 0)

    // append without the column → computed; wrong explicit value → rejected;
    // correct explicit value → accepted
    DeltaLite.append(spark, path,
      Seq((1000L, java.sql.Timestamp.valueOf("2024-06-09 12:00:00"), 5.0))
        .toDF("k", "ts", "v"))
    assert(DeltaLite.read(spark, path).filter($"k" === 1000L)
      .select($"day".cast("string")).head().getString(0) === "2024-06-09")
    val ex = intercept[IllegalArgumentException] {
      DeltaLite.append(spark, path,
        Seq((2000L, java.sql.Timestamp.valueOf("2024-06-09 12:00:00"), 5.0,
          java.sql.Date.valueOf("1999-01-01"))).toDF("k", "ts", "v", "day"))
    }
    assert(ex.getMessage.contains("__generated_day"))
    DeltaLite.append(spark, path,
      Seq((2000L, java.sql.Timestamp.valueOf("2024-06-09 12:00:00"), 5.0,
        java.sql.Date.valueOf("2024-06-09"))).toDF("k", "ts", "v", "day"))

    // UPDATE may not assign the generated column directly...
    val ex2 = intercept[IllegalArgumentException] {
      DeltaLite.update(spark, path, $"k" === 0L,
        Map("day" -> lit(java.sql.Date.valueOf("1999-01-01"))))
    }
    assert(ex2.getMessage.contains("GENERATED"))
    // ...and updating the BASE column recomputes it (the row changes partition)
    DeltaLite.update(spark, path, $"k" === 1000L,
      Map("ts" -> lit(java.sql.Timestamp.valueOf("2024-06-20 00:00:00"))))
    assert(DeltaLite.read(spark, path).filter($"k" === 1000L)
      .select($"day".cast("string")).head().getString(0) === "2024-06-20")

    // the scale payoff: a bound on ts ALONE prunes day partitions through
    // the monotone date(ts) mapping — no predicate on `day` anywhere
    val snap2 = DeltaLite.snapshot(path)
    val perDay = snap2.files.groupBy(_.pv("day"))
    val lo = java.sql.Timestamp.valueOf("2024-06-02 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-06-03 23:59:59")
    val scanned = DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("ts", Some(lo), Some(hi))))
    val expected = perDay.collect {
      case (d, fs) if d >= "2024-06-02" && d <= "2024-06-03" => fs.size
    }.sum
    assert(scanned.inputFiles.length === expected,
      "a ts bound must prune day partitions via the generated-column mapping")
    assert(scanned.filter($"ts".between(lo, hi)).count() === 120)
    // unrecognized shapes derive nothing (never wrongly prune)
    assert(DeltaLite.derivedGeneratedBounds(spark,
      snap2.copy(generated = Map("day" -> "date_add(date(ts), 1)")),
      Seq(DeltaLite.ColumnBound("ts", Some(lo), Some(hi)))).isEmpty)
    // DESCRIBE DETAIL surfaces the generation expression
    assert(DeltaLite.detail(spark, path).collect()(0)
      .getAs[String]("generated_columns") === "day=date(ts)")
  }

  test("DeltaLite identity columns: allocated, unique, ascending across appends, preserved by rewrites") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_identity").toString
    val df = (0L until 100L).map(i => (s"r$i", i * 2.0)).toDF("name", "v")
      .repartition(4)
    DeltaLite.create(spark, path, df,
      identity = Map("id" -> DeltaLite.IdentityCol(start = 10, step = 5)))
    val snap0 = DeltaLite.snapshot(path)
    assert(snap0.identity("id").highWater.isDefined)
    val r0 = DeltaLite.read(spark, path)
    assert(r0.count() === 100)
    assert(r0.select(countDistinct(col("id"))).head().getLong(0) === 100)
    // partition 0's first row takes exactly `start`; every id ≡ start (mod step)
    assert(r0.agg(min(col("id"))).head().getLong(0) === 10L)
    assert(r0.filter(pmod(col("id") - 10, lit(5)) =!= 0).count() === 0)
    // appends allocate strictly above the recorded high water
    DeltaLite.append(spark, path,
      (0L until 50L).map(i => (s"a$i", i * 1.0)).toDF("name", "v").repartition(2))
    val r1 = DeltaLite.read(spark, path)
    assert(r1.count() === 150)
    assert(r1.select(countDistinct(col("id"))).head().getLong(0) === 150)
    val hw0 = snap0.identity("id").highWater.get
    assert(r1.filter(col("name").startsWith("a"))
      .agg(min(col("id"))).head().getLong(0) > hw0)
    assert(DeltaLite.snapshot(path).identity("id").highWater.get > hw0)
    // ALWAYS semantics: the batch may not supply the column...
    intercept[IllegalArgumentException] {
      DeltaLite.append(spark, path, Seq((1L, "x", 1.0)).toDF("id", "name", "v"))
    }
    // ...UPDATE may not assign it, and row-inserting DML is rejected loudly
    intercept[IllegalArgumentException] {
      DeltaLite.update(spark, path, lit(true), Map("id" -> lit(0L)))
    }
    intercept[UnsupportedOperationException] {
      DeltaLite.merge(spark, path, Seq(("x", 1.0)).toDF("name", "v"), Seq("name"))
    }
    // pure rewrites preserve allocated values (writeData never recomputes)
    val hw1 = DeltaLite.snapshot(path).identity("id").highWater
    val before = r1.select("name", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    DeltaLite.delete(spark, path, col("v") < 10.0)
    DeltaLite.compact(spark, path)
    DeltaLite.read(spark, path).select("name", "id").collect().foreach { r =>
      assert(before(r.getString(0)) === r.getLong(1),
        s"rewrite changed the identity value of ${r.getString(0)}")
    }
    // rewrites carry the mark forward untouched (they allocate nothing)
    assert(DeltaLite.snapshot(path).identity("id").highWater === hw1)
    // DESCRIBE DETAIL surfaces the spec + live high water
    val det = DeltaLite.detail(spark, path).collect()(0)
    assert(det.getAs[String]("identity_columns").startsWith("id(start=10,step=5,highWater="))
  }

  test("DeltaLite partitioned table: DELETE/UPDATE/MERGE keep partition layout and values") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_partdml").toString
    val df = (0L until 90L).map(i => (i, s"p${i % 3}", i * 1.0))
      .toDF("k", "part", "v").coalesce(1)
    DeltaLite.create(spark, path, df, partitionBy = Seq("part"))
    // DELETE within one partition
    DeltaLite.delete(spark, path, $"part" === "p0" && $"k" < 30L)
    assert(DeltaLite.read(spark, path).filter($"part" === "p0").count() === 20)
    // UPDATE across partitions
    DeltaLite.update(spark, path, $"k" >= 60L, Map("v" -> lit(-1.0)))
    assert(DeltaLite.read(spark, path).filter($"v" === -1.0).count() === 30)
    // multi-clause MERGE: delete evens ≥ 80, reprice the rest, insert new
    val src = ((70L until 95L).map(i => (i, s"p${i % 3}", 1000.0 + i)))
      .toDF("k", "part", "v")
    DeltaLite.mergeClauses(spark, path, src, Seq("k"), Seq(
      graft.operators.Merge.MatchedDelete(
        Some(graft.operators.Merge.src("k") >= 80L &&
          graft.operators.Merge.src("k") % 2 === 0)),
      graft.operators.Merge.MatchedUpdate(None,
        Map("v" -> graft.operators.Merge.src("v"))),
      graft.operators.Merge.NotMatchedInsert(None)))
    val after = DeltaLite.read(spark, path)
    // 90 - 10 deleted (0..29 p0 evens... k 80,82,84,86,88 deleted) + 5 inserted (90..94)
    assert(after.filter($"k".between(80L, 89L) && $"k" % 2 === 0).count() === 0)
    assert(after.filter($"k" >= 90L).count() === 5)
    assert(after.filter($"k".between(70L, 79L) && $"v" >= 1000.0).count() === 10)
    // every row still carries a consistent log-attached partition value
    assert(after.filter($"part" =!= concat(lit("p"), ($"k" % 3).cast("string")))
      .count() === 0)
    // and the post-DML snapshot still partitions + prunes at the log level
    val snap = DeltaLite.snapshot(path)
    assert(snap.partitionBy === Seq("part"))
    assert(snap.files.forall(_.pv.contains("part")))
  }

  test("IncrementalMv: CDF-driven refresh equals full recompute, exactly-once, O(changes)") {
    import spark.implicits._
    import graft.operators.IncrementalMv
    val src = Files.createTempDirectory("graft_mv_src").toString
    val tgt = Files.createTempDirectory("graft_mv_tgt").toString + "/mv"
    DeltaLite.create(spark, src,
      (0L until 100L).map(i => (i, s"g${i % 5}", i * 1.0)).toDF("k", "g", "v"))
    IncrementalMv.refreshSum(spark, src, tgt, Seq("g"), "v")
    def recompute() = DeltaLite.read(spark, src).groupBy("g")
      .agg(sum($"v".cast("decimal(28,4)")).cast("decimal(28,4)").as("sum_value"),
        count(lit(1)).as("n_rows"))
    def viewRows() = DeltaLite.read(spark, tgt).select("g", "sum_value", "n_rows")
    assert(viewRows().exceptAll(recompute()).count() === 0)
    assert(recompute().exceptAll(viewRows()).count() === 0)
    // mutate the source every way CDF can express: append, delete, update
    DeltaLite.append(spark, src,
      (100L until 130L).map(i => (i, s"g${i % 5}", i * 1.0)).toDF("k", "g", "v"))
    DeltaLite.delete(spark, src, $"k" < 20L)
    DeltaLite.update(spark, src, $"g" === "g0", Map("v" -> ($"v" + 7.0)))
    val v1 = IncrementalMv.refreshSum(spark, src, tgt, Seq("g"), "v")
    assert(viewRows().exceptAll(recompute()).count() === 0)
    assert(recompute().exceptAll(viewRows()).count() === 0)
    // idempotent: nothing new -> no new target version
    assert(IncrementalMv.refreshSum(spark, src, tgt, Seq("g"), "v") === v1)
    // a group emptied in the source leaves the view entirely
    DeltaLite.delete(spark, src, $"g" === "g3")
    IncrementalMv.refreshSum(spark, src, tgt, Seq("g"), "v")
    assert(viewRows().filter($"g" === "g3").count() === 0)
    assert(viewRows().exceptAll(recompute()).count() === 0)
    // the applied source version rides the view's own commits (txn)
    assert(DeltaLite.snapshot(tgt).txns.exists(_._1.startsWith("graft-mv:")))
    // avg derives from sum+count
    assert(IncrementalMv.read(spark, tgt).columns.contains("avg_value"))
    // a row-preserving OPTIMIZE between refreshes must net to ZERO deltas
    // (its removed and added files carry identical rows)
    val vBefore = DeltaLite.snapshot(tgt).version
    DeltaLite.compact(spark, src)
    DeltaLite.append(spark, src, Seq((999L, "g1", 3.0)).toDF("k", "g", "v"))
    IncrementalMv.refreshSum(spark, src, tgt, Seq("g"), "v")
    assert(DeltaLite.snapshot(tgt).version === vBefore + 1)
    assert(viewRows().exceptAll(recompute()).count() === 0)
    assert(recompute().exceptAll(viewRows()).count() === 0)
    // a deletion-vector soft delete must also flow through the feed
    DeltaLite.deleteVectorized(spark, src, $"k" === 50L)
    IncrementalMv.refreshSum(spark, src, tgt, Seq("g"), "v")
    assert(viewRows().exceptAll(recompute()).count() === 0)
    assert(recompute().exceptAll(viewRows()).count() === 0)
    // governance declared ON THE MV TABLE is enforced through the
    // serving accessor (IncrementalMv.read rides DeltaLite.read); the
    // refresh internals keep reading raw, so a refresh under policy
    // still lands exact stored state
    DeltaLite.setProperties(tgt, Map(
      "graft.rowFilter" -> "g <> 'g1'", "graft.mask.g" -> "md5"))
    val governedMv = IncrementalMv.read(spark, tgt).collect()
    assert(governedMv.forall(_.getAs[String]("g").matches("[0-9a-f]{32}")),
      "the MV's own mask policy must apply through IncrementalMv.read")
    assert(governedMv.length === viewRows().count().toInt &&
      governedMv.length < 5,
      "the MV's own row filter must drop g1 through IncrementalMv.read")
    DeltaLite.append(spark, src, Seq((1000L, "g1", 2.0)).toDF("k", "g", "v"))
    IncrementalMv.refreshSum(spark, src, tgt, Seq("g"), "v")
    spark.conf.set("spark.graft.governance.bypass", "true")
    try {
      assert(viewRows().exceptAll(recompute()).count() === 0,
        "refresh under a table policy must store exact raw state")
      assert(recompute().exceptAll(viewRows()).count() === 0)
    } finally spark.conf.unset("spark.graft.governance.bypass")
  }

  test("IncrementalMv.refreshFull: min/max stay exact via dirty-group recompute") {
    import spark.implicits._
    import graft.operators.IncrementalMv
    val src = Files.createTempDirectory("graft_mvf_src").toString
    val tgt = Files.createTempDirectory("graft_mvf_tgt").toString + "/mv"
    DeltaLite.create(spark, src,
      (0L until 90L).map(i => (i, s"g${i % 3}", i * 1.0)).toDF("k", "g", "v"))
    IncrementalMv.refreshFull(spark, src, tgt, Seq("g"), "v")
    def recompute() = DeltaLite.read(spark, src).groupBy("g")
      .agg(sum($"v".cast("decimal(28,4)")).cast("decimal(28,4)").as("sum_value"),
        count(lit(1)).as("n_rows"), min("v").as("min_value"),
        max("v").as("max_value"))
    def view() = DeltaLite.read(spark, tgt)
      .select("g", "sum_value", "n_rows", "min_value", "max_value")
    assert(view().exceptAll(recompute()).count() === 0)
    assert(recompute().exceptAll(view()).count() === 0)
    // deleting a group's MAX row is the case pure folding cannot handle:
    // the dirty-group recompute must surface the runner-up
    val gMax = DeltaLite.read(spark, src).filter($"g" === "g1")
      .agg(max("v")).head().getDouble(0)
    DeltaLite.delete(spark, src, $"g" === "g1" && $"v" === gMax)
    IncrementalMv.refreshFull(spark, src, tgt, Seq("g"), "v")
    assert(view().filter($"g" === "g1").select("max_value").head().getDouble(0)
      < gMax)
    assert(view().exceptAll(recompute()).count() === 0)
    // a fully-deleted group vanishes from the view
    DeltaLite.delete(spark, src, $"g" === "g2")
    IncrementalMv.refreshFull(spark, src, tgt, Seq("g"), "v")
    assert(view().filter($"g" === "g2").count() === 0)
    assert(view().exceptAll(recompute()).count() === 0)
    assert(recompute().exceptAll(view()).count() === 0)
  }

  test("DeltaLite bloom index: point lookups skip files min/max cannot prune") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_bloom").toString
    // round-robin keys: every file's [min,max] spans ~the whole key
    // space, so min/max stats prune NOTHING for a point lookup — the
    // exact workload the bloom index exists for
    val df = (0L until 4000L).map(i => (i, s"name$i")).toDF("k", "s")
      .repartition(8, pmod(col("k"), lit(8)))
    DeltaLite.create(spark, path, df,
      properties = Map("graft.bloom.columns" -> "k"))
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.forall(_.bloom.contains("k")), "every file carries a bloom")
    // min/max alone keeps (nearly) all files for the needle...
    val statOnly = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("k", Some(1234L), Some(1234L))))
    assert(statOnly.size >= snap.files.size - 1)
    // ...the bloom-probed scan opens at most a couple (fp-tolerant)
    val scanned = DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("k", Some(1234L), Some(1234L))))
    assert(scanned.inputFiles.length <= 2,
      s"bloom should skip to ~1 file, opened ${scanned.inputFiles.length} of ${snap.files.size}")
    assert(scanned.filter($"k" === 1234L).select("s").head().getString(0) === "name1234")
    // correctness is never at stake: a missing key returns empty, a range
    // bound ignores blooms, a rewrite (DELETE) rebuilds them
    assert(DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("k", Some(999999L), Some(999999L))))
      .filter($"k" === 999999L).count() === 0)
    assert(DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("k", Some(10L), Some(20L))))
      .filter($"k".between(10L, 20L)).count() === 11)
    DeltaLite.delete(spark, path, $"k" === 1234L)
    val after = DeltaLite.snapshot(path)
    assert(after.files.forall(_.bloom.contains("k")),
      "rewritten files must re-carry blooms")
    assert(DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("k", Some(1234L), Some(1234L))))
      .filter($"k" === 1234L).count() === 0)
    // blooms survive the log round-trip (checkpoint + fresh replay)
    DeltaLite.clearSnapshotCache()
    assert(DeltaLite.snapshot(path).files.forall(_.bloom.contains("k")))
  }

  test("DeltaLite IN-set bound: point-set pruning beats the covering range; bloom probes each value") {
    import spark.implicits._
    // clustered layout: file i holds keys [1000i, 1000i+999] — min/max
    // stats are exact per file, so set-vs-range pruning is observable
    val path = Files.createTempDirectory("graft_inset").toString
    val df = (0L until 8000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    DeltaLite.create(spark, path, df)
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.size === 8)
    // a sparse set {5, 7500} touches 2 files; its covering range [5, 7500]
    // would keep all 8 — the IN-set must NOT fall back to the range
    val set = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound.in("k", Seq(5L, 7500L))))
    assert(set.size === 2, s"IN {5, 7500} must keep 2 files, kept ${set.size}")
    val range = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("k", Some(5L), Some(7500L))))
    assert(range.size === 8)
    // the pruned scan still answers exactly
    assert(DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound.in("k", Seq(5L, 7500L))))
      .filter($"k".isin(5L, 7500L)).count() === 2)
    // empty set: no value can match — every stats-carrying file prunes
    assert(DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound.in("k", Seq.empty))).isEmpty)
    // strings prune too (UTF-8 order space)
    assert(DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound.in("s", Seq("v5")))).size >= 1)
    // bloom interplay: round-robin keys defeat min/max, the per-value
    // bloom probes rescue the IN-set down to ~|set| files
    val bp = Files.createTempDirectory("graft_inset_bloom").toString
    DeltaLite.create(spark, bp,
      (0L until 4000L).map(i => (i, s"n$i")).toDF("k", "s")
        .repartition(8, pmod(col("k"), lit(8))),
      properties = Map("graft.bloom.columns" -> "k"))
    val bsnap = DeltaLite.snapshot(bp)
    val statKept = DeltaLite.pruneFiles(bsnap,
      Seq(DeltaLite.ColumnBound.in("k", Seq(17L, 33L)))).size
    val bloomScan = DeltaLite.scan(spark, bp,
      Seq(DeltaLite.ColumnBound.in("k", Seq(17L, 33L))))
    assert(bloomScan.inputFiles.length <= 3,
      s"bloom IN-probe should open ~2 files, opened ${bloomScan.inputFiles.length}")
    assert(bloomScan.inputFiles.length < statKept,
      s"bloom probes must beat stats-only pruning ($statKept kept)")
    assert(bloomScan.filter($"k".isin(17L, 33L)).count() === 2)
  }

  test("DeltaLite TBLPROPERTIES: carried in the log; delta.appendOnly locks out row changes") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_props").toString
    DeltaLite.create(spark, path,
      (0L until 20L).map(i => (i, i * 1.0)).toDF("k", "v"),
      properties = Map("owner" -> "ingest-team"))
    DeltaLite.setProperties(path, Map("delta.appendOnly" -> "true"))
    val snap = DeltaLite.snapshot(path)
    assert(snap.properties === Map(
      "owner" -> "ingest-team", "delta.appendOnly" -> "true"))
    // appends and row-preserving maintenance stay allowed...
    DeltaLite.append(spark, path, Seq((100L, 5.0)).toDF("k", "v"))
    DeltaLite.compact(spark, path)
    assert(DeltaLite.read(spark, path).count() === 21)
    // ...every row-removing/rewriting op is refused
    intercept[UnsupportedOperationException] {
      DeltaLite.delete(spark, path, $"k" < 5L)
    }
    intercept[UnsupportedOperationException] {
      DeltaLite.update(spark, path, $"k" === 0L, Map("v" -> lit(9.0)))
    }
    intercept[UnsupportedOperationException] {
      DeltaLite.deleteVectorized(spark, path, $"k" === 0L)
    }
    intercept[UnsupportedOperationException] {
      DeltaLite.merge(spark, path, Seq((0L, 9.0)).toDF("k", "v"), Seq("k"))
    }
    intercept[UnsupportedOperationException] {
      DeltaLite.replaceWhere(spark, path, $"k" < 5L,
        Seq((0L, 9.0)).toDF("k", "v"))
    }
    assert(DeltaLite.read(spark, path).count() === 21)
    // unset re-opens the table; properties survive checkpoint replay
    DeltaLite.unsetProperty(path, "delta.appendOnly")
    DeltaLite.delete(spark, path, $"k" === 100L)
    assert(DeltaLite.read(spark, path).count() === 20)
    (0 until 10).foreach(i => DeltaLite.append(spark, path,
      Seq((1000L + i, 0.0)).toDF("k", "v"))) // cross a checkpoint boundary
    DeltaLite.clearSnapshotCache()
    assert(DeltaLite.snapshot(path).properties === Map("owner" -> "ingest-team"))
    assert(DeltaLite.detail(spark, path).collect()(0)
      .getAs[String]("properties") === "owner=ingest-team")
    // retention policy travels with the table: a default vacuum honors
    // graft.retention.keepVersions, so version latest-2 stays travelable
    DeltaLite.setProperties(path, Map("graft.retention.keepVersions" -> "3"))
    val latest = DeltaLite.latestVersion(path).get
    DeltaLite.vacuum(path)
    assert(DeltaLite.read(spark, path, asOf = Some(latest - 2)).count() >= 0)
    // an explicit RETAIN still overrides the property
    DeltaLite.vacuum(path, keepVersions = 1)
    assert(DeltaLite.read(spark, path).count() === 30)
  }

  test("DeltaLite MERGE WITH SCHEMA EVOLUTION adds source columns without rewriting history") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_mergeevo").toString
    // two files so one stays UNTOUCHED by the merge (low keys)
    DeltaLite.create(spark, path,
      (0L until 40L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")))
    val untouched = DeltaLite.snapshot(path).files.map(_.path).toSet
    val src = Seq((30L, 300.0, "u30"), (100L, 1000.0, "u100"))
      .toDF("k", "v", "tag")
    // without the flag, 'tag' stays condition-only: schema unchanged
    DeltaLite.mergeClauses(spark, path, src, Seq("k"), Seq(
      graft.operators.Merge.MatchedUpdate(None,
        Map("v" -> graft.operators.Merge.src("v")))))
    assert(!DeltaLite.snapshot(path).schema.fieldNames.contains("tag"))
    // with the flag, star clauses evolve the schema and carry the values
    DeltaLite.mergeClauses(spark, path, src, Seq("k"), Seq(
      graft.operators.Merge.MatchedUpdate(None),
      graft.operators.Merge.NotMatchedInsert(None)),
      schemaEvolution = true)
    val snap = DeltaLite.snapshot(path)
    assert(snap.schema.fieldNames.toSeq === Seq("k", "v", "tag"))
    val r = DeltaLite.read(spark, path)
    assert(r.count() === 41)
    assert(r.filter($"k" === 30L).select("tag").head().getString(0) === "u30")
    assert(r.filter($"k" === 100L).select("tag").head().getString(0) === "u100")
    // pre-evolution rows read null for the new column...
    assert(r.filter($"tag".isNull).count() === 39)
    // ...because untouched files survive BY REFERENCE, never rewritten
    assert(untouched.intersect(snap.files.map(_.path).toSet).nonEmpty,
      "the un-keyed file must survive the evolving merge untouched")
    // time travel still sees the pre-evolution schema
    assert(!DeltaLite.read(spark, path, asOf = Some(0L))
      .columns.contains("tag"))
  }

  test("DeltaLite CONVERT adopts a partitioned parquet dir in place, files untouched") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_convert").toString
    val df = (0L until 300L).map(i => (i, s"p${i % 3}", i * 1.0))
      .toDF("k", "part", "v").repartition(2)
    df.write.mode("overwrite").partitionBy("part").parquet(path)
    val before = Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(_.toString).toSet
    DeltaLite.convert(spark, path)
    // in-place: version 0 references EXACTLY the pre-existing files
    val snap = DeltaLite.snapshot(path)
    assert(snap.version === 0L)
    assert(snap.partitionBy === Seq("part"))
    assert(snap.files.map(f => Paths.get(path).resolve(f.path).toString).toSet
      === before)
    // footer stats arrived with the adoption: k-bound pruning works
    assert(snap.files.forall(_.stats.contains("k")))
    // partition pruning works off the converted log
    val pruned = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("part", Some("p2"), Some("p2"))))
    assert(pruned.nonEmpty && pruned.forall(_.pv("part") == "p2"))
    // full read parity with the original frame (partition col re-attached)
    val back = DeltaLite.read(spark, path)
    assert(back.count() === 300)
    assert(back.select("k", "part", "v").exceptAll(df).count() === 0)
    // the converted table has the full write surface
    DeltaLite.append(spark, path,
      (300L until 310L).map(i => (i, s"p${i % 3}", i * 1.0))
        .toDF("k", "part", "v").coalesce(1))
    DeltaLite.delete(spark, path, $"k" < 10L)
    assert(DeltaLite.read(spark, path).count() === 300)
    // converting twice is an error, not a corruption
    intercept[IllegalArgumentException] { DeltaLite.convert(spark, path) }
  }

  test("DeltaLite column mapping: RENAME/DROP COLUMN are metadata-only") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_colmap").toString
    val df = (0L until 100L).map(i => (i, i * 1.0, s"s$i"))
      .toDF("k", "v", "s").coalesce(1)
    DeltaLite.create(spark, path, df)                                   // v0
    val filesBefore = DeltaLite.snapshot(path).files.map(_.path).toSet
    DeltaLite.renameColumn(path, "v", "amount")                         // v1
    // metadata-only: identical file set, new logical name, old physical
    val snap1 = DeltaLite.snapshot(path)
    assert(snap1.files.map(_.path).toSet === filesBefore)
    assert(snap1.schema.fieldNames.toSeq === Seq("k", "amount", "s"))
    assert(snap1.phys("amount") === "v")
    val r1 = DeltaLite.read(spark, path)
    assert(r1.columns.toSeq === Seq("k", "amount", "s"))
    assert(r1.agg(sum($"amount")).collect()(0).getDouble(0) === 4950.0)
    // stats pruning still works through the rename (physical-keyed stats)
    assert(DeltaLite.pruneFiles(snap1,
      Seq(DeltaLite.ColumnBound("amount", Some(1000.0), None))).isEmpty)
    // appends + DML after the rename share physical names with old files
    DeltaLite.append(spark, path,                                       // v2
      (100L until 120L).map(i => (i, i * 1.0, s"s$i"))
        .toDF("k", "amount", "s").coalesce(1))
    assert(DeltaLite.read(spark, path).count() === 120)
    DeltaLite.delete(spark, path, $"amount" >= 110.0)                   // v3
    assert(DeltaLite.read(spark, path).count() === 110)
    // time travel to a pre-rename version sees the old name
    assert(DeltaLite.read(spark, path, asOf = Some(0L)).columns.toSeq
      === Seq("k", "v", "s"))
    // a second rename keeps the ORIGINAL physical name
    DeltaLite.renameColumn(path, "amount", "price")                     // v4
    assert(DeltaLite.snapshot(path).phys("price") === "v")
    // DROP COLUMN: metadata-only, data files untouched
    val beforeDrop = DeltaLite.snapshot(path).files.map(_.path).toSet
    DeltaLite.dropColumn(path, "s")                                     // v5
    val snapD = DeltaLite.snapshot(path)
    assert(snapD.files.map(_.path).toSet === beforeDrop)
    assert(DeltaLite.read(spark, path).columns.toSeq === Seq("k", "price"))
    // guards: evolve-collision with a live physical name, rename onto an
    // existing logical name
    intercept[IllegalArgumentException] {
      DeltaLite.appendEvolve(spark, path,
        Seq((999L, 1.0, "x")).toDF("k", "price", "v"))
    }
    intercept[IllegalArgumentException] {
      DeltaLite.renameColumn(path, "k", "price")
    }
    // the mapping survives a checkpoint (v10 writes checkpoint-10.json)
    (0 until 5).foreach { i =>                                          // v6..v10
      DeltaLite.append(spark, path,
        Seq((200L + i, 1.0)).toDF("k", "price").coalesce(1))
    }
    assert(DeltaLite.snapshot(path).version === 10L)
    assert(DeltaLite.snapshot(path).phys("price") === "v")
    assert(DeltaLite.read(spark, path)
      .agg(sum($"price")).collect()(0).getDouble(0) === 6000.0)
  }

  test("ALTER ADD COLUMN: metadata-only schema evolution; retired names reborn fresh; SHOW TBLPROPERTIES") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_addcol").toString + "/t"
    DeltaLite.create(spark, path,                                     // v0
      (0L until 50L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1),
      properties = Map("team" -> "ingest"))
    val filesBefore = DeltaLite.snapshot(path).files.map(_.path).toSet
    spark.sql(s"ALTER '$path' ADD COLUMN note STRING")                // v1
    // metadata-only: identical file set; old files read the column null
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.map(_.path).toSet === filesBefore)
    val r = DeltaLite.read(spark, path)
    assert(r.columns.toSeq === Seq("k", "v", "note"))
    assert(r.filter($"note".isNotNull).count() === 0,
      "historical rows must read the added column as null")
    // future writes carry values; old rows stay null
    DeltaLite.append(spark, path,                                     // v2
      Seq((100L, 1.0, "fresh")).toDF("k", "v", "note"))
    assert(DeltaLite.read(spark, path)
      .filter($"note" === "fresh").count() === 1)
    // time travel to v0 sees the pre-evolution schema
    assert(DeltaLite.read(spark, path, asOf = Some(0L)).columns.toSeq
      === Seq("k", "v"))
    // guards: existing logical name; a DROPPED column's name is reborn
    // under a FRESH physical name (stale bytes must not resurface)
    intercept[IllegalArgumentException] {
      DeltaLite.addColumn(path, "k",
        org.apache.spark.sql.types.LongType)
    }
    DeltaLite.dropColumn(path, "note")                                // v3
    DeltaLite.addColumn(path, "note",                                 // v4
      org.apache.spark.sql.types.StringType)
    assert(DeltaLite.snapshot(path).phys("note") !== "note",
      "a reborn column must not read the retired physical name")
    assert(DeltaLite.read(spark, path)
      .filter($"note".isNotNull).count() === 0,
      "the pre-drop 'fresh' value must NOT resurface in the reborn column")
    // SHOW TBLPROPERTIES: quoted-path catalog statement, sorted keys
    val props = spark.sql(s"SHOW TBLPROPERTIES '$path'").collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    assert(props.get("team") === Some("ingest"))
    assert(props.keys.exists(_.startsWith("graft.retired")),
      s"internal properties surface like Delta's: ${props.keys}")
    // nested types parse through the DDL (CatalystSqlParser validates)
    spark.sql(s"ALTER '$path' ADD COLUMN tags ARRAY<STRING>")
    assert(DeltaLite.snapshot(path).schema("tags").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
  }

  test("governance policies: row filter + column masks govern serving reads; DML rewrites stay raw") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_gov").toString + "/t"
    DeltaLite.create(spark, path,                                   // v0
      Seq((1L, "25-989-741-2988", "alpha", 100.0),
        (2L, "13-555-123-4567", "beta", -5.0),
        (3L, "99", "gamma", 40.0))
        .toDF("id", "phone", "note", "bal"),
      properties = Map(
        "graft.rowFilter" -> "bal >= 0.0",
        "graft.mask.phone" -> "last4",
        "graft.mask.note" -> "md5"))
    val served = DeltaLite.read(spark, path).orderBy($"id").collect()
    assert(served.map(_.getLong(0)).toSeq === Seq(1L, 3L),
      "the row filter must drop the negative-balance row")
    assert(served(0).getString(1) === "***********2988",
      "last4 keeps only the tail behind '*' padding")
    assert(served(1).getString(1) === "99",
      "short strings serve whole (nothing before the last 4)")
    assert(served(0).getString(2).matches("[0-9a-f]{32}"),
      "md5 mask serves the hex digest, same type")
    // schema is unchanged — joins and downstream code keep working
    assert(DeltaLite.read(spark, path).schema("phone").dataType ===
      org.apache.spark.sql.types.StringType)
    // bypass (admin/debug): raw rows, and proof the STORED data is raw
    spark.conf.set("spark.graft.governance.bypass", "true")
    try {
      val raw = DeltaLite.read(spark, path).orderBy($"id").collect()
      assert(raw.length === 3)
      assert(raw(0).getString(1) === "25-989-741-2988")
      assert(raw(0).getString(2) === "alpha")
    } finally spark.conf.unset("spark.graft.governance.bypass")
    // DML reads raw by design: the update sees the filtered-out row and
    // rewrites store RAW values (masking a rewrite would corrupt rows)
    DeltaLite.update(spark, path, $"id" === 2L,                     // v1
      Map("bal" -> lit(50.0)))
    val after = DeltaLite.read(spark, path).orderBy($"id").collect()
    assert(after.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L),
      "the updated row now passes the filter")
    assert(after(1).getString(1) === "***********4567",
      "the rewritten row serves masked but stored raw")
    spark.conf.set("spark.graft.governance.bypass", "true")
    try assert(DeltaLite.read(spark, path).filter($"id" === 2L)
      .collect()(0).getString(1) === "13-555-123-4567",
      "the rewrite must have stored the RAW phone")
    finally spark.conf.unset("spark.graft.governance.bypass")
    // policy travels with the table version: time travel is governed
    assert(DeltaLite.read(spark, path, asOf = Some(0L)).count() === 2)
    // unenforceable policies fail loudly instead of serving raw
    DeltaLite.setProperties(path, Map("graft.mask.bal" -> "md5"))
    intercept[IllegalArgumentException] {
      DeltaLite.read(spark, path).collect()
    }
    DeltaLite.setProperties(path, Map("graft.mask.bal" -> "rot13"))
    intercept[IllegalArgumentException] {
      DeltaLite.read(spark, path).collect()
    }
    // IDENTITY-AWARE EXEMPTIONS: a named principal sees an exempted
    // column (or the filtered rows) raw; everyone else stays governed
    DeltaLite.unsetProperty(path, "graft.mask.bal")
    DeltaLite.setProperties(path, Map(
      "graft.rowFilter" -> "bal >= 45.0", // governed view: ids 1, 2
      "graft.maskExempt.phone" -> "alice, bob",
      "graft.rowFilterExempt" -> "etl"))
    assert(DeltaLite.read(spark, path).count() === 2)
    def phoneOf(id: Long): String = DeltaLite.read(spark, path)
      .filter($"id" === id).collect()(0).getString(1)
    assert(phoneOf(1L) === "***********2988",
      "no principal set -> governed (deny-by-default)")
    spark.conf.set("spark.graft.principal", "alice")
    try {
      assert(phoneOf(1L) === "25-989-741-2988",
        "an exempted principal sees the column raw")
      assert(DeltaLite.read(spark, path).collect()(0)
        .getString(2).matches("[0-9a-f]{32}"),
        "the exemption is PER COLUMN: note stays masked for alice")
      spark.conf.set("spark.graft.principal", "mallory")
      assert(phoneOf(1L) === "***********2988",
        "a principal not on the list stays governed")
      spark.conf.set("spark.graft.principal", "etl")
      assert(DeltaLite.read(spark, path).count() === 3,
        "the rowFilter exemption serves the full row set")
      assert(phoneOf(1L) === "***********2988",
        "etl is row-exempt but NOT column-exempt")
      // ROLE INDIRECTION: the exemption list names a ROLE whose
      // membership is its own table property — adding carol to the
      // team edits ONE membership list, not every column's exemption
      DeltaLite.setProperties(path, Map(
        "graft.roles.support" -> "carol,dave",
        "graft.maskExempt.phone" -> "alice, bob, support"))
      spark.conf.set("spark.graft.principal", "carol")
      assert(phoneOf(1L) === "25-989-741-2988",
        "a member of an exempted ROLE sees the column raw")
      spark.conf.set("spark.graft.principal", "support")
      assert(phoneOf(1L) === "25-989-741-2988",
        "a principal literally named on the list still matches " +
          "(role names resolve as names too)")
      spark.conf.set("spark.graft.principal", "mallory")
      assert(phoneOf(1L) === "***********2988",
        "not a member, not listed -> governed")
      // REVOCATION is one property edit: shrink the membership
      DeltaLite.setProperties(path, Map("graft.roles.support" -> "dave"))
      spark.conf.set("spark.graft.principal", "carol")
      assert(phoneOf(1L) === "***********2988",
        "a revoked member is governed again immediately")
      // resolution is ONE level: a role listing another role does NOT
      // chain (nested grants make the audit story unreadable)
      DeltaLite.setProperties(path, Map(
        "graft.roles.support" -> "team_b",
        "graft.roles.team_b" -> "carol"))
      assert(phoneOf(1L) === "***********2988",
        "role-in-role must not resolve transitively")
      DeltaLite.unsetProperty(path, "graft.roles.support")
      DeltaLite.unsetProperty(path, "graft.roles.team_b")
      DeltaLite.setProperties(path,
        Map("graft.maskExempt.phone" -> "alice, bob"))
    } finally spark.conf.unset("spark.graft.principal")
    // GOVERNED CHANGE FEED: the serving projection applies to each
    // image BEFORE the multiset diff — id 2's pre-image (bal = -5,
    // hidden by the row filter) must NOT leak as an update_preimage
    // event, while its post-image (bal = 50) entered the governed view
    // and serves masked. (v0 -> v1 was the UPDATE of id 2 above.)
    val cdf = DeltaLite.changes(spark, path, 0L, 1L).collect()
    assert(cdf.map(_.getAs[String]("_change_type")).toSeq ===
      Seq("update_postimage"),
      s"filtered-out pre-image must not surface: ${cdf.toSeq}")
    assert(cdf(0).getAs[Long]("id") === 2L)
    assert(cdf(0).getAs[String]("phone") === "***********4567",
      "change-feed rows serve masked like any other read")
    // a rename/drop that would orphan a policy key still refuses
    intercept[IllegalArgumentException] {
      DeltaLite.renameColumn(path, "phone", "phone_number")
    }
    intercept[IllegalArgumentException] {
      DeltaLite.dropColumn(path, "note")
    }
    intercept[IllegalArgumentException] {
      DeltaLite.renameColumn(path, "bal", "balance") // rowFilter names it
    }
    // a policy naming a column the table does not carry fails CLOSED
    DeltaLite.setProperties(path, Map("graft.mask.phnoe" -> "last4"))
    intercept[IllegalArgumentException] {
      DeltaLite.read(spark, path).collect()
    }
    DeltaLite.unsetProperty(path, "graft.mask.phnoe")
    // MAINTENANCE reads raw: ANALYZE describes STORED data (3 rows, not
    // the governed 2) and ADD CONSTRAINT validates STORED rows (id 3's
    // bal=40 violates even though the row filter hides it)
    DeltaLite.analyzeTable(spark, path)
    assert(DeltaLite.parseColStatsFull(
      DeltaLite.snapshot(path).properties)._1 === 3L,
      "statistics must describe stored data, not the governed view")
    intercept[IllegalArgumentException] {
      DeltaLite.addConstraint(spark, path, "pos_bal", "bal >= 45.0")
    }
    // row-id reads are a SERVING surface: governed like read()
    val rid = DeltaLite.readWithRowIds(spark, path).collect()
    assert(rid.length === 2, "readWithRowIds must apply the row filter")
    assert(rid.map(_.getAs[String]("phone")).forall(_.contains("*")),
      "readWithRowIds must apply the masks")
    // EXPLAIN COST renders the governance surface (what a READ will do)
    val cost = spark.sql(s"EXPLAIN COST '$path'").collect()
      .filter(_.getString(0) == "governance")
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(cost("row_filter") === "bal >= 45.0 (exempt: etl)", s"$cost")
    assert(cost("mask.phone") === "last4 (exempt: alice, bob)")
    assert(cost("mask.note") === "md5")
    // dropping the policy re-opens the table
    DeltaLite.unsetProperty(path, "graft.rowFilter")
    assert(DeltaLite.read(spark, path).count() === 3)
    // scan(): bounds on a masked column DECLINE pruning (file stats
    // describe raw values, the caller filters masked ones)
    val scanned = DeltaLite.scan(spark, path, Seq(
      DeltaLite.ColumnBound("phone", Some("***********2988"),
        Some("***********2988"))))
    assert(scanned.filter($"phone" === "***********2988").count() === 1,
      "the masked-literal filter must still find its row")
  }

  test("governance: a role flip mid-session changes what the NEXT read serves (membership evaluated per read, never cached)") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_roleflip").toString
    DeltaLite.create(spark, path,
      Seq((1L, "s3cr3t")).toDF("id", "secret"),
      properties = Map("graft.mask.secret" -> "md5",
        "graft.maskExempt.secret" -> "ops"))
    def served(): String =
      DeltaLite.read(spark, path).collect()(0).getString(1)
    def costRole(): Option[String] = spark.sql(s"EXPLAIN COST '$path'")
      .collect().filter(_.getString(0) == "governance")
      .map(r => r.getString(1) -> r.getString(2)).toMap.get("role.ops")
    // the principal conf is set ONCE and never touched again — every
    // behavior change below comes from the table PROPERTY alone
    spark.conf.set("spark.graft.principal", "carol")
    try {
      assert(served().matches("[0-9a-f]{32}"),
        "not yet a role member -> masked")
      DeltaLite.setProperties(path, Map("graft.roles.ops" -> "carol"))
      assert(served() === "s3cr3t",
        "the grant lands on the SAME session's next read — membership " +
          "must resolve per read, not from a session cache")
      assert(costRole().contains("carol"),
        "EXPLAIN COST must render the membership a read would use now")
      DeltaLite.setProperties(path, Map("graft.roles.ops" -> "dave"))
      assert(served().matches("[0-9a-f]{32}"),
        "the revocation lands on the next read, conf untouched")
      assert(costRole().contains("dave"))
    } finally spark.conf.unset("spark.graft.principal")
  }

  test("DeltaLite REORG PURGE rewrites only DV files, drops the anti-join") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_reorg").toString
    // two files with disjoint k ranges so the delete's DV lands on one
    val lo = (0L until 100L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1)
    val hi = (100L until 200L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1)
    DeltaLite.create(spark, path, lo)
    DeltaLite.append(spark, path, hi)
    DeltaLite.deleteVectorized(spark, path, $"k" >= 150L)
    val withDv = DeltaLite.snapshot(path)
    val (dvd, clean) = withDv.files.partition(_.dv.nonEmpty)
    assert(dvd.nonEmpty && clean.nonEmpty, "delete must DV only the hi file")
    DeltaLite.reorgPurge(spark, path)
    val after = DeltaLite.snapshot(path)
    // no DV survives, untouched files are carried forward BY REFERENCE
    assert(after.files.forall(_.dv.isEmpty))
    assert(clean.map(_.path).toSet.subsetOf(after.files.map(_.path).toSet))
    assert(after.files.map(_.path).toSet.intersect(dvd.map(_.path).toSet).isEmpty)
    // data parity: surviving rows only, physical row counts now honest
    val rows = DeltaLite.read(spark, path)
    assert(rows.count() === 150)
    assert(rows.filter($"k" >= 150L).count() === 0)
    assert(after.totalRows === 150L)
    // idempotent: nothing left to purge
    val v = after.version
    assert(DeltaLite.reorgPurge(spark, path) === v)
  }

  test("DeltaLite shallow clone: zero-copy fork, independent evolution, safe vacuum") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_clonesrc").toString
    val dst = Files.createTempDirectory("graft_clonedst").toString + "/t"
    val df = (0L until 100L).map(i => (i, s"p${i % 2}", i * 1.0))
      .toDF("k", "part", "v").coalesce(1)
    DeltaLite.create(spark, src, df, partitionBy = Seq("part"))
    DeltaLite.append(spark, src,
      (100L until 120L).map(i => (i, s"p${i % 2}", i * 1.0))
        .toDF("k", "part", "v").coalesce(1))
    DeltaLite.cloneShallow(spark, src, dst)
    // zero data files under the clone's root; reads equal the source
    def parquetsUnder(p: String): Seq[java.nio.file.Path] = {
      val w = Files.walk(java.nio.file.Paths.get(p))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      finally w.close()
    }
    assert(parquetsUnder(dst).isEmpty, "shallow clone must copy no data")
    assert(DeltaLite.read(spark, dst).exceptAll(DeltaLite.read(spark, src)).count() === 0)
    assert(DeltaLite.read(spark, dst).count() === 120)
    // DML on the clone: rewrites land under the CLONE root, source intact
    DeltaLite.delete(spark, dst, $"k" < 50L)
    assert(DeltaLite.read(spark, dst).count() === 70)
    assert(DeltaLite.read(spark, src).count() === 120, "source must not change")
    assert(parquetsUnder(dst).nonEmpty, "the rewrite lands under the clone")
    // partitioned DML on the clone keeps log-attached partition values
    assert(DeltaLite.read(spark, dst)
      .filter($"part" =!= concat(lit("p"), ($"k" % 2).cast("string"))).count() === 0)
    // merge into the clone; then vacuum: referenced SOURCE files survive
    DeltaLite.merge(spark, dst,
      Seq((200L, "p0", 1.0)).toDF("k", "part", "v"), Seq("k"))
    val srcFilesBefore = parquetsUnder(src).toSet
    DeltaLite.vacuum(dst, keepVersions = 1)
    assert(parquetsUnder(src).toSet === srcFilesBefore,
      "clone vacuum must never delete source data")
    assert(DeltaLite.read(spark, dst).count() === 71)
    assert(DeltaLite.read(spark, src).count() === 120)
    // clone history starts its own timeline at CLONE
    assert(DeltaLite.history(spark, dst).collect().last.getString(1) === "CLONE")
    // DESCRIBE DETAIL separates owned vs by-reference files
    val det = DeltaLite.detail(spark, dst).collect()(0)
    assert(det.getAs[Long]("num_rows") === 71L)
    assert(det.getAs[Int]("num_referenced_files") > 0)
    assert(det.getAs[Int]("num_owned_files") > 0)
    assert(det.getAs[String]("partition_columns") === "part")
    assert(det.getAs[String]("generated_columns") === "")
    assert(det.getAs[String]("identity_columns") === "")
    // DV-bearing sources are rejected (positions key on source paths)
    DeltaLite.deleteVectorized(spark, src, $"k" === 0L)
    intercept[IllegalArgumentException] {
      DeltaLite.cloneShallow(spark, src,
        Files.createTempDirectory("graft_clonedst2").toString + "/t")
    }
  }

  test("CLONE AT VERSION: a zero-copy fork of historical state; deep form is vacuum-proof") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_cloneasof").toString + "/t"
    DeltaLite.create(spark, src,                                  // v0
      (0L until 50L).map(i => (i, i * 1.0)).toDF("k", "v"))
    DeltaLite.append(spark, src,                                  // v1
      (50L until 80L).map(i => (i, i * 1.0)).toDF("k", "v"))
    DeltaLite.delete(spark, src, $"k" < 20L)                      // v2
    // shallow clone AT v1: pre-delete state, zero data copied
    val dst1 = Files.createTempDirectory("graft_cloneasof1").toString + "/t"
    DeltaLite.cloneShallow(spark, src, dst1, asOf = Some(1L))
    assert(DeltaLite.read(spark, dst1).count() === 80,
      "the clone must serve the HISTORICAL (pre-delete) row set")
    assert(DeltaLite.read(spark, src).count() === 60,
      "the source HEAD is untouched")
    // the clone evolves independently of post-clone source history
    DeltaLite.append(spark, dst1, Seq((900L, 9.0)).toDF("k", "v"))
    assert(DeltaLite.read(spark, dst1).count() === 81)
    assert(DeltaLite.read(spark, src).count() === 60)
    // SQL spelling, DEEP form: materialized copy of the old version —
    // no dependency on source files at all
    val dst2 = Files.createTempDirectory("graft_cloneasof2").toString + "/t"
    spark.sql(s"CLONE '$src' VERSION AS OF 0 TO '$dst2' DEEP")
    assert(DeltaLite.read(spark, dst2).count() === 50)
    // vacuuming the source breaks no deep clone (files are copies);
    // the v0-only files the deep clone came from may be gone at source
    DeltaLite.vacuum(src, keepVersions = 1)
    assert(DeltaLite.read(spark, dst2).count() === 50,
      "a deep AT-VERSION clone must survive a source vacuum")
    // plain CLONE (no VERSION AS OF) still parses to the HEAD form
    val dst3 = Files.createTempDirectory("graft_cloneasof3").toString + "/t"
    spark.sql(s"CLONE '$src' TO '$dst3'")
    assert(DeltaLite.read(spark, dst3).count() === 60)
  }

  test("DeltaLite deep clone: fully independent copy, DVs and layout preserved") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_deepsrc").toString + "/t"
    val dst = Files.createTempDirectory("graft_deepdst").toString + "/t"
    val df = (0L until 120L).map(k => (k, s"p${k % 2}", k * 1.0)).toDF("k", "part", "v")
    DeltaLite.create(spark, src, df, partitionBy = Seq("part"),
      properties = Map("team" -> "ingest"))
    DeltaLite.append(spark, src, (200L until 220L).map(k =>
      (k, "p0", k * 1.0)).toDF("k", "part", "v"))
    // a live deletion vector must survive the clone
    DeltaLite.deleteVectorized(spark, src, $"k" < 10L)
    val expected = DeltaLite.read(spark, src).collect().toSeq
    DeltaLite.cloneDeep(spark, src, dst)
    // same content; same per-file stats/pv discipline (partition prune works)
    assert(DeltaLite.read(spark, dst).exceptAll(DeltaLite.read(spark, src)).count() === 0)
    assert(DeltaLite.read(spark, dst).count() === expected.size)
    assert(DeltaLite.snapshot(dst).files.exists(_.dv.nonEmpty),
      "the DV reference must carry into the deep clone")
    assert(DeltaLite.scan(spark, dst,
      Seq(DeltaLite.ColumnBound("part", Some("p1"), Some("p1"))))
      .filter($"part" === "p1").count() ===
      expected.count(_.getString(1) == "p1"))
    // full independence: obliterate the SOURCE — the clone still reads
    def rmTree(p: String): Unit = {
      val w = Files.walk(Paths.get(p))
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
    rmTree(java.nio.file.Paths.get(src).getParent.toString)
    assert(DeltaLite.read(spark, dst).count() === expected.size)
    // properties carried; DML on the clone works
    assert(DeltaLite.snapshot(dst).properties("team") === "ingest")
    DeltaLite.delete(spark, dst, $"k" >= 200L)
    assert(DeltaLite.read(spark, dst).count() === expected.size - 20)
  }

  test("DeltaLite deep clone of a shallow clone materializes by-reference files") {
    import spark.implicits._
    val origin = Files.createTempDirectory("graft_deeporig").toString + "/t"
    val shallow = Files.createTempDirectory("graft_deepsh").toString + "/t"
    val deep = Files.createTempDirectory("graft_deepmat").toString + "/t"
    DeltaLite.create(spark, origin,
      (0L until 50L).map(k => (k, k * 2.0)).toDF("k", "v"))
    DeltaLite.cloneShallow(spark, origin, shallow)
    DeltaLite.cloneDeep(spark, shallow, deep)
    // deleting the ORIGIN breaks the shallow clone but not the deep one
    def rmTree(p: String): Unit = {
      val w = Files.walk(Paths.get(p))
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
    rmTree(java.nio.file.Paths.get(origin).getParent.toString)
    assert(DeltaLite.read(spark, deep).count() === 50)
    assert(DeltaLite.snapshot(deep).files.forall(f =>
      !java.nio.file.Paths.get(f.path).isAbsolute),
      "deep clone must own every file (no by-reference paths)")
  }

  test("DeltaLite partition-scoped OPTIMIZE compacts only the bound partition") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_partopt").toString
    def batch(part: String, lo: Long, n: Long) =
      (lo until lo + n).map(i => (i, part, i * 1.0)).toDF("k", "part", "v").coalesce(1)
    DeltaLite.create(spark, path, batch("p0", 0, 10), partitionBy = Seq("part"))
    // p1 collects small appends; p0 stays as-is
    (0 until 4).foreach(b => DeltaLite.append(spark, path, batch("p1", 100 + b * 10, 10)))
    val before = DeltaLite.snapshot(path)
    val p0Before = before.files.filter(_.pv("part") == "p0").map(_.path).toSet
    assert(before.files.count(_.pv("part") == "p1") === 4)
    DeltaLite.compactPartition(spark, path,
      Seq(DeltaLite.ColumnBound("part", Some("p1"), Some("p1"))))
    val after = DeltaLite.snapshot(path)
    // p1 packed to one file; p0's file identities untouched
    assert(after.files.count(_.pv("part") == "p1") === 1)
    assert(after.files.filter(_.pv("part") == "p0").map(_.path).toSet === p0Before)
    assert(DeltaLite.read(spark, path).count() === 50)
    assert(DeltaLite.read(spark, path).filter($"part" === "p1")
      .agg(sum($"k")).head.getLong(0) === (100L until 140L).sum)
    // bounds must name partition columns
    intercept[IllegalArgumentException] {
      DeltaLite.compactPartition(spark, path,
        Seq(DeltaLite.ColumnBound("k", Some(0L), Some(10L))))
    }
    // history records the op
    assert(DeltaLite.history(spark, path).limit(1)
      .collect()(0).getString(1) === "OPTIMIZE_PARTITION")
  }

  test("DeltaLite partition values: special characters and null round-trip") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_partesc").toString
    // '+' must stay literal (Hive escapePathName does not escape it);
    // '/' and '%' percent-escape; null → __HIVE_DEFAULT_PARTITION__
    val vals = Seq("a+b", "x/y", "50%", "plain", null)
    val df = vals.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("k", "part").coalesce(1)
    DeltaLite.create(spark, path, df, partitionBy = Seq("part"))
    val back = DeltaLite.read(spark, path).as[(Long, String)].collect().toMap
    vals.zipWithIndex.foreach { case (p, i) =>
      assert(back(i.toLong) === p, s"partition value '$p' must round-trip")
    }
    // null partition: never prunable (bound on part keeps the null file)
    val snap = DeltaLite.snapshot(path)
    val nullFiles = snap.files.filter(_.pv("part") == "__HIVE_DEFAULT_PARTITION__")
    assert(nullFiles.nonEmpty)
    val pruned = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("part", Some("plain"), Some("plain"))))
    assert(pruned.exists(_.pv("part") == "__HIVE_DEFAULT_PARTITION__"),
      "a null-partition file has no comparable value and must never be pruned")
  }

  test("DeltaLite footer stats match Spark-computed min/max per file (incl. ts/decimal)") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_footer").toString
    val df = (0L until 200L).map { i =>
      (i,
        java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:${i % 60}%02d:00"),
        java.sql.Date.valueOf(f"2024-02-${i % 28 + 1}%02d"),
        BigDecimal(i * 7).bigDecimal.setScale(2),
        s"str_${i % 50}%03d",
        i * 1.5)
    }.toDF("k", "ts", "d", "dec", "s", "v").repartition(3)
    DeltaLite.create(spark, path, df)
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.nonEmpty)
    // per-file ground truth from a _metadata.file_path group-by
    val r = java.nio.file.Paths.get(path).toAbsolutePath.normalize()
    val truth = spark.read.parquet(
        snap.files.map(f => r.resolve(f.path).toString): _*)
      .groupBy(col("_metadata.file_path").as("fp"))
      .agg(min($"k").as("kmin"), max($"k").as("kmax"),
        min($"ts").as("tsmin"), max($"ts").as("tsmax"),
        min($"d").as("dmin"), max($"d").as("dmax"),
        min($"dec").as("decmin"), max($"dec").as("decmax"),
        min($"s").as("smin"), max($"s").as("smax"),
        count(lit(1)).as("rows"))
      .collect()
      .map(row => row.getString(0).stripPrefix("file:") -> row).toMap
    snap.files.foreach { f =>
      val row = truth(r.resolve(f.path).toString)
      assert(f.rows === row.getAs[Long]("rows"))
      assert(f.stats("k").min.get === row.getAs[Long]("kmin"))
      assert(f.stats("k").max.get === row.getAs[Long]("kmax"))
      // timestamps decode to epoch-micros in the stats space
      def micros(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      assert(f.stats("ts").min.get === micros(row.getAs[java.sql.Timestamp]("tsmin")))
      assert(f.stats("ts").max.get === micros(row.getAs[java.sql.Timestamp]("tsmax")))
      assert(f.stats("d").min.get ===
        row.getAs[java.sql.Date]("dmin").toLocalDate.toEpochDay)
      assert(f.stats("d").max.get ===
        row.getAs[java.sql.Date]("dmax").toLocalDate.toEpochDay)
      assert(f.stats("dec").min.get === BigDecimal(row.getAs[java.math.BigDecimal]("decmin")))
      assert(f.stats("dec").max.get === BigDecimal(row.getAs[java.math.BigDecimal]("decmax")))
      assert(f.stats("s").min.get === row.getAs[String]("smin"))
      assert(f.stats("s").max.get === row.getAs[String]("smax"))
    }
  }

  test("DeltaLite history lists every commit with op, counts, and monotone timestamps") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_hist").toString
    DeltaLite.create(spark, path,
      (0L until 50L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    DeltaLite.append(spark, path,
      (50L until 80L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    DeltaLite.delete(spark, path, $"k" < 10L)
    DeltaLite.compact(spark, path)
    val h = DeltaLite.history(spark, path).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(3L, 2L, 1L, 0L), "newest first")
    assert(h.map(_.getString(1)).toSeq ===
      Seq("OPTIMIZE", "DELETE", "APPEND", "CREATE"))
    // CREATE adds 1 file / 50 rows, removes none
    val create = h.find(_.getLong(0) == 0L).get
    assert(create.getInt(3) === 1 && create.getInt(4) === 0)
    assert(create.getLong(5) === 50L)
    // OPTIMIZE removes every prior live file
    val opt = h.find(_.getLong(0) == 3L).get
    assert(opt.getInt(4) === 2)
    // timestamps are non-decreasing through the timeline
    val ts = h.reverse.map(_.getTimestamp(2).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // limit caps how many newest commits are returned
    assert(DeltaLite.history(spark, path, limit = Some(2))
      .collect().map(_.getLong(0)).toSeq === Seq(3L, 2L))
  }

  test("DeltaLite tip-snapshot cache: incremental replay equals full replay, never stale") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_snapcache").toString
    DeltaLite.create(spark, path, (0L until 40L).map(i => (i, i * 1.0)).toDF("k", "v"))
    DeltaLite.snapshot(path) // warm the cache at v0
    // a mix of state-changing ops: each later snapshot() call replays
    // only the new commits onto the cached tip
    DeltaLite.append(spark, path, Seq((100L, 1.0)).toDF("k", "v"))
    DeltaLite.delete(spark, path, $"k" < 5L)
    DeltaLite.update(spark, path, $"k" === 100L, Map("v" -> lit(9.0)))
    DeltaLite.renameColumn(path, "v", "val")
    DeltaLite.addConstraint(spark, path, "val_ok", "val >= 0")
    val incremental = DeltaLite.snapshot(path)
    // fresh full replay (checkpoint path) must agree on EVERY field
    DeltaLite.clearSnapshotCache()
    val full = DeltaLite.snapshot(path)
    assert(incremental.version === full.version)
    assert(incremental.schema === full.schema)
    assert(incremental.files.toSet === full.files.toSet)
    assert(incremental.constraints === full.constraints)
    assert(incremental.physical === full.physical)
    assert(incremental.txns === full.txns)
    // the cache can never serve stale state: version discovery always
    // lists the log, so an external writer's commit is picked up
    val before = DeltaLite.snapshot(path).version
    DeltaLite.append(spark, path, Seq((200L, 2.0)).toDF("k", "val"))
    assert(DeltaLite.snapshot(path).version === before + 1)
    assert(DeltaLite.read(spark, path).filter($"k" === 200L).count() === 1)
  }

  test("DeltaLite log checkpoints: replay from checkpoint equals full replay") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_ckpt").toString
    DeltaLite.create(spark, path, Seq((0L, 0.0)).toDF("k", "v").coalesce(1))
    (1L until 13L).foreach { i =>
      DeltaLite.append(spark, path, Seq((i, i * 1.0)).toDF("k", "v").coalesce(1))
    }
    // the 10th commit wrote a checkpoint
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_graft_log", "checkpoint-10.json")))
    // snapshot past the checkpoint (replays ckpt + 2 commits, not 13)
    assert(DeltaLite.snapshot(path).files.length === 13)
    assert(DeltaLite.read(spark, path).count() === 13)
    // time travel before AND at the checkpoint still exact
    assert(DeltaLite.read(spark, path, Some(4L)).count() === 5)
    assert(DeltaLite.read(spark, path, Some(10L)).count() === 11)
  }

  /** A synthetic add for the checkpoint tests: no data file behind it
    * (checkpoints need only the log), `k` in [10·i, 10·i + 9]. */
  private def synthAdd(v: Long, i: Int): DeltaLite.AddFile = DeltaLite.AddFile(
    path = f"files-$v%05d/part-$i%05d.parquet", rows = 10L, bytes = 1000L,
    stats = Map("k" -> DeltaLite.ColStats(Some(i * 10L), Some(i * 10L + 9L))))

  /** A (k long, v double) table whose version 1 replaces the created
    * table's files with `n` synthetic adds; property commits then pad it
    * to version `upTo`. */
  private def synthTable(n: Int, upTo: Long = 10L): String = {
    import org.apache.spark.sql.types._
    val path = Files.createTempDirectory("graft_synth_ckpt").toString
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    DeltaLite.create(spark, path,
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    val base = DeltaLite.snapshot(path)
    DeltaLite.commit(path, base, "APPEND", adds = (0 until n).map(synthAdd(1L, _)),
      removes = base.files.map(_.path))
    (2L to upTo).foreach(v =>
      DeltaLite.setProperties(path, Map(s"pad.k$v" -> v.toString)))
    path
  }

  /** Cold resolution through the log file `ckpt` (a checkpoint) equals a
    * commit-only replay with it hidden, field by field: the AddFile set,
    * the schema and the properties. Returns the checkpoint's snapshot. */
  private def assertCheckpointReplay(path: String,
      ckpt: String): DeltaLite.Snapshot = {
    val ld = Paths.get(path, "_graft_log")
    assert(Files.exists(ld.resolve(ckpt)), s"expected $ckpt")
    DeltaLite.clearSnapshotCache()
    val viaCkpt = DeltaLite.snapshot(path)
    Files.move(ld.resolve(ckpt), ld.resolve(".ckpt-hidden"))
    try {
      DeltaLite.clearSnapshotCache()
      val viaLog = DeltaLite.snapshot(path)
      assert(viaCkpt.version === viaLog.version)
      assert(viaCkpt.files.size === viaLog.files.size)
      assert(viaCkpt.files.toSet === viaLog.files.toSet)
      assert(viaCkpt.schema === viaLog.schema)
      assert(viaCkpt.properties === viaLog.properties)
    } finally {
      Files.move(ld.resolve(".ckpt-hidden"), ld.resolve(ckpt))
      DeltaLite.clearSnapshotCache()
    }
    viaCkpt
  }

  /** The sidecar files the manifest `checkpoint-<v>.v2.json` names. */
  private def sidecarsOf(path: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(path, "_graft_log", s"checkpoint-$v.v2.json"))
      .asScala.flatMap("\"file\":\"([^\"]+)\"".r.findFirstMatchIn(_)
        .map(_.group(1))).toSeq

  test("DeltaLite parquet multi-part checkpoint: written past the threshold, replayed via a distributed scan, equal to log replay") {
    // 10,000 live files: the checkpoint is a manifest over 16 parquet
    // sidecars, not one JSON file
    val path = synthTable(10000)
    val ld = Paths.get(path, "_graft_log")
    assert(!Files.exists(ld.resolve("checkpoint-10.json")))
    val sidecars = sidecarsOf(path, 10)
    assert(sidecars.size === 16 && sidecars.distinct.size === 16,
      s"expected one sidecar per bucket, got $sidecars")
    assert(sidecars.forall(f => f.startsWith("_sidecars/") &&
      Files.isRegularFile(ld.resolve(f))))
    // cold resolution goes through the sidecars and resolves EXACTLY the
    // state a commit-only replay produces
    val viaCkpt = assertCheckpointReplay(path, "checkpoint-10.v2.json")
    assert(viaCkpt.version === 10 && viaCkpt.files.length === 10000)
    // stats survived the typed round-trip → data skipping still prunes
    val pruned = DeltaLite.pruneFiles(viaCkpt,
      Seq(DeltaLite.ColumnBound("k", Some(42L), Some(42L))))
    assert(pruned.map(_.path) === Seq("files-00001/part-00004.parquet"))
    // vacuum must never eat sidecars (they live in the log dir)
    DeltaLite.vacuum(path, keepVersions = 1)
    assert(sidecars.forall(f => Files.isRegularFile(ld.resolve(f))))
    assert(Files.list(ld.resolve("_sidecars")).iterator().asScala.size === 16)
  }

  test("DeltaLite parquet checkpoint at 1e5 actions: snapshot resolution without driver JSON parse") {
    import org.apache.spark.sql.types._
    // Fabricate a log whose add actions were never driver-JSON-encoded:
    // 10 commits x 10k adds through the real commit path, then the
    // checkpoint trigger writes the sidecar manifest and a cold
    // snapshot resolves 100k files through the distributed scan.
    val path = Files.createTempDirectory("graft_pckpt_big").toString
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    DeltaLite.create(spark, path,
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    val seedFiles = DeltaLite.snapshot(path).files.map(_.path)
    var writeSec = 0.0
    (1L to 10L).foreach { v =>
      val adds = (0 until 10000).map { i =>
        DeltaLite.AddFile(
          path = f"files-$v%05d/part-$i%05d.parquet",
          rows = 10L, bytes = 1000L,
          stats = Map("k" -> DeltaLite.ColStats(
            Some((v * 10000 + i) * 10L), Some((v * 10000 + i) * 10L + 9L))))
      }
      val t0 = System.nanoTime()
      DeltaLite.commit(path,
        DeltaLite.Snapshot(v - 1, schema, Nil), "APPEND",
        adds = adds, removes = if (v == 1L) seedFiles else Nil)
      writeSec = (System.nanoTime() - t0) / 1e9
    }
    val ld = Paths.get(path, "_graft_log")
    assert(Files.exists(ld.resolve("checkpoint-10.v2.json")))
    assert(!Files.exists(ld.resolve("checkpoint-10.json")))
    assert(sidecarsOf(path, 10).distinct.size === 16,
      "100k actions must spread over the 16 sidecar buckets")
    DeltaLite.clearSnapshotCache()
    val t0 = System.nanoTime()
    val snap = DeltaLite.snapshot(path)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(snap.version === 10 && snap.files.length === 100000)
    // spot-check a typed stat made the round trip
    val f = snap.files.find(_.path == "files-00003/part-00042.parquet").get
    assert(f.stats("k") === DeltaLite.ColStats(Some(300420L), Some(300429L)))
    info(f"commit 10 with its sidecar checkpoint took $writeSec%.2f s; " +
      f"the 100k-file snapshot resolved from it in $sec%.2f s")
  }

  test("checkpoint form follows the live-file count: 9,999 files inline in checkpoint-<V>.json, 10,000 in a sidecar manifest") {
    val small = synthTable(9999)
    val sld = Paths.get(small, "_graft_log")
    assert(!Files.exists(sld.resolve("checkpoint-10.v2.json")))
    assert(!Files.exists(sld.resolve("_sidecars")))
    val lines = Files.readAllLines(sld.resolve("checkpoint-10.json")).asScala
    assert(lines.head.startsWith("{\"metaData\""))
    assert(lines.count(_.startsWith("{\"add\"")) === 9999)
    assert(assertCheckpointReplay(small, "checkpoint-10.json").files.size === 9999)
    val large = synthTable(10000)
    val lld = Paths.get(large, "_graft_log")
    assert(!Files.exists(lld.resolve("checkpoint-10.json")))
    val manifest = Files.readAllLines(lld.resolve("checkpoint-10.v2.json")).asScala
    assert(manifest.head.startsWith("{\"metaData\""))
    assert(!manifest.exists(_.startsWith("{\"add\"")))
    assert(manifest.count(_.startsWith("{\"sidecar\"")) === 16)
    assert(assertCheckpointReplay(large, "checkpoint-10.v2.json").files.size === 10000)
  }

  test("sidecar writer: a session's maxRecordsPerFile never splits a bucket") {
    // a session that caps files at 100 rows would split each ~625-add
    // bucket into parts, and a manifest names one file per bucket
    val capped = spark.newSession()
    capped.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    org.apache.spark.sql.SparkSession.setActiveSession(capped)
    val path =
      try synthTable(10000)
      finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val sidecars = sidecarsOf(path, 10)
    assert(sidecars.distinct.size === 16)
    val ld = Paths.get(path, "_graft_log")
    assert(Files.list(ld.resolve("_sidecars")).iterator().asScala.size === 16,
      "no stray parts beside the 16 sidecars")
    assert(assertCheckpointReplay(path, "checkpoint-10.v2.json").files.size === 10000)
  }

  test("sidecar reader: a sidecar whose row count disagrees with the manifest's nAdds fails loudly") {
    val path = synthTable(10000)
    val ld = Paths.get(path, "_graft_log")
    // (file, nAdds) per bucket; swap one sidecar for another valid one
    // holding a different number of adds
    val entries = Files.readAllLines(ld.resolve("checkpoint-10.v2.json"))
      .asScala.flatMap("\"file\":\"([^\"]+)\".*\"nAdds\":(\\d+)".r
        .findFirstMatchIn(_).map(m => m.group(1) -> m.group(2).toLong)).toSeq
    assert(entries.size === 16)
    val (a, na) = entries.head
    val (b, _) = entries.find(_._2 != na).get
    Files.copy(ld.resolve(b), ld.resolve(a),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    DeltaLite.clearSnapshotCache()
    val e = intercept[IllegalStateException](DeltaLite.snapshot(path))
    Seq(path, "checkpoint-10.v2.json", "nAdds").foreach(w =>
      assert(e.getMessage.contains(w), s"'$w' missing from: ${e.getMessage}"))
  }

  test("a legacy multi-part checkpoint-<V>.parquet directory still resolves, also as the log-cleanup anchor") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_legacy_pckpt").toString
    DeltaLite.create(spark, path,
      (0L until 8L).map(i => (i, i * 2.0)).toDF("k", "v").repartition(2))
    (1 to 12).foreach(b => DeltaLite.append(spark, path,
      Seq((100L + b, b * 1.0)).toDF("k", "v").coalesce(1)))
    // replace checkpoint-10.json with the legacy layout: `meta` rows
    // carry the metaData/txn lines, `add` rows the typed file actions
    // (stats tag-encoded `L:`/`D:`), spread over three parts
    val ld = Paths.get(path, "_graft_log")
    val metaLines = Files.readAllLines(ld.resolve("checkpoint-10.json")).asScala
      .filterNot(_.startsWith("{\"add\""))
    def tag(x: Option[Any]): Option[String] = x.map {
      case l: Long => s"L:$l"
      case d: Double => s"D:$d"
    }
    val adds = DeltaLite.snapshot(path, Some(10L)).files.map { f =>
      def stat(pick: DeltaLite.ColStats => Option[Any]) =
        f.stats.flatMap { case (c, s) => tag(pick(s)).map(c -> _) }
      ("add", null: String, f.path, f.rows, f.bytes, null: String,
        f.baseRowId, f.rowCommitVersion, f.pv, f.bloom,
        stat(_.min), stat(_.max))
    }
    val rows = metaLines.map(j => ("meta", j, null: String, 0L, 0L,
      null: String, Option.empty[Long], Option.empty[Long],
      Map.empty[String, String], Map.empty[String, String],
      Map.empty[String, String], Map.empty[String, String])) ++ adds
    rows.toSeq.toDF("kind", "json", "path", "rows", "bytes", "dv", "base_row_id",
        "row_commit_version", "pv", "bloom", "stats_min", "stats_max")
      .repartition(3).write.parquet(ld.resolve("checkpoint-10.parquet").toString)
    Files.delete(ld.resolve("checkpoint-10.json"))
    val viaCkpt = assertCheckpointReplay(path, "checkpoint-10.parquet")
    assert(viaCkpt.version === 12 && viaCkpt.files.length === 14)
    // anchored on the directory, cleanup deletes commits 0..9 and the
    // directory alone carries the state below version 10
    assert(DeltaLite.cleanupLogs(path, keepVersions = 2) === 10)
    assert(!Files.exists(ld.resolve("9.json")))
    DeltaLite.clearSnapshotCache()
    assert(DeltaLite.snapshot(path).files.toSet === viaCkpt.files.toSet)
    assert(DeltaLite.read(spark, path).count() === 20)
  }

  test("DeltaLite in-commit timestamps: monotonic headers under clock skew; TIMESTAMP AS OF and RESTORE resolve from them") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_ict").toString
    val origClock = DeltaLite.clockMs
    try {
      var t = 1000000L
      DeltaLite.clockMs = () => t
      DeltaLite.create(spark, path, Seq((0L, 0.0)).toDF("k", "v").coalesce(1),
        properties = Map("graft.inCommitTimestamps" -> "true"))
      t = 2000000L
      DeltaLite.append(spark, path, Seq((1L, 1.0)).toDF("k", "v").coalesce(1))
      // clock SKEW: a later writer's wall clock is 500 s behind
      t = 1500000L
      DeltaLite.append(spark, path, Seq((2L, 2.0)).toDF("k", "v").coalesce(1))
      t = 1600000L
      DeltaLite.append(spark, path, Seq((3L, 3.0)).toDF("k", "v").coalesce(1))
      // header instants ride the commit monotonically: v2/v3 were clamped
      // to parent+1, never their (earlier) wall clock
      val hist = DeltaLite.history(spark, path)
        .select(col("version"), col("timestamp").cast("long") * 1000 +
          expr("cast(date_format(timestamp, 'SSS') as long)"))
        .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
      assert(hist.sliding(2).forall(p => p(0) < p(1)),
        s"headers must strictly increase, got ${hist.toSeq}")
      // TIMESTAMP AS OF at the honest instant sees v1, not the skewed v3
      assert(DeltaLite.versionAtTimestamp(path, 2000000L) === 1L)
      assert(DeltaLite.versionAtTimestamp(path, 2000001L) === 2L)
      assert(DeltaLite.versionAtTimestamp(path, 2000002L) === 3L)
      assert(DeltaLite.readAsOfTimestamp(spark, path, 2000000L).count() === 2)
      // RESTORE TIMESTAMP AS OF rolls back to the instant's version
      DeltaLite.restoreAtTimestamp(spark, path, 2000000L)
      assert(DeltaLite.read(spark, path).count() === 2)
      // control: WITHOUT the property the same skew produces a
      // non-monotonic header sequence (why the feature exists)
      val ctl = Files.createTempDirectory("graft_ict_ctl").toString
      t = 1000000L
      DeltaLite.create(spark, ctl, Seq((0L, 0.0)).toDF("k", "v").coalesce(1))
      t = 2000000L
      DeltaLite.append(spark, ctl, Seq((1L, 1.0)).toDF("k", "v").coalesce(1))
      t = 1500000L
      DeltaLite.append(spark, ctl, Seq((2L, 2.0)).toDF("k", "v").coalesce(1))
      val ctlHist = DeltaLite.history(spark, ctl)
        .select(col("version"), col("timestamp").cast("long"))
        .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
      assert(!ctlHist.sliding(2).forall(p => p(0) < p(1)),
        "control table must show the skew the feature prevents")
    } finally DeltaLite.clockMs = origClock
  }

  test("DeltaLite txn idempotence survives a log checkpoint") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_txnckpt").toString
    DeltaLite.create(spark, path, Seq((0L, 0.0)).toDF("k", "v").coalesce(1))
    DeltaLite.appendOnce(spark, path,
      Seq((1L, 1.0)).toDF("k", "v").coalesce(1), app = "job", txnVersion = 7L)
    // push past a checkpoint boundary (checkpoint at v10)
    (0 until 11).foreach { i =>
      DeltaLite.append(spark, path, Seq((100L + i, 1.0)).toDF("k", "v").coalesce(1))
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_graft_log", "checkpoint-10.json")))
    assert(DeltaLite.snapshot(path).txns === Map("job" -> 7L))
    // the duplicate is still rejected after the checkpoint took over replay
    val n = DeltaLite.read(spark, path).count()
    DeltaLite.appendOnce(spark, path,
      Seq((999L, 9.0)).toDF("k", "v").coalesce(1), app = "job", txnVersion = 7L)
    assert(DeltaLite.read(spark, path).count() === n)
  }

  test("DeltaLite COPY INTO: exactly-once per file identity, O(new files)") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_copysrc").toString
    val path = Files.createTempDirectory("graft_copydst").toString
    (0L until 100L).map(k => (k, k * 1.5)).toDF("k", "v")
      .repartition(4).write.mode("overwrite").parquet(landing)
    DeltaLite.create(spark, path, Seq.empty[(Long, Double)].toDF("k", "v"))
    // first load takes every data file; the result is the full source
    val (v1, n1) = DeltaLite.copyInto(spark, path, landing)
    assert(n1 === 4L)
    assert(DeltaLite.read(spark, path).count() === 100)
    // re-run: no-op — no new version, no files loaded, no rows doubled
    val (v2, n2) = DeltaLite.copyInto(spark, path, landing)
    assert(v2 === v1 && n2 === 0L)
    assert(DeltaLite.read(spark, path).count() === 100)
    // a late file loads ALONE (incremental run = O(new files))
    Seq((1000L, 9.9)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(landing)
    val filesBefore = DeltaLite.snapshot(path).files.map(_.path).toSet
    val (v3, n3) = DeltaLite.copyInto(spark, path, landing)
    assert(n3 === 1L && v3 === v1 + 1)
    assert(DeltaLite.read(spark, path).count() === 101)
    // the prior load's table files survive by identity (no rewrite)
    assert(filesBefore.subsetOf(DeltaLite.snapshot(path).files.map(_.path).toSet))
    // an in-place rewrite (same path, new size/mtime) is a NEW identity
    val dataFile = Files.list(Paths.get(landing)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .minBy(_.toString)
    val tmp = Files.createTempDirectory("graft_copytmp").toString
    Seq((2000L, 7.7), (2001L, 7.8)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val newPart = Files.list(Paths.get(tmp)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.copy(newPart, dataFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the local FS keeps a sibling .crc per file — stale after the
    // in-place rewrite (a real landing zone has no such shadow file)
    Files.deleteIfExists(dataFile.getParent.resolve(
      "." + dataFile.getFileName.toString + ".crc"))
    val (_, n4) = DeltaLite.copyInto(spark, path, landing)
    assert(n4 === 1L, "a rewritten file must load again (new identity)")
    assert(DeltaLite.read(spark, path).filter($"k" >= 2000L).count() === 2)
    // loaded identities survive a checkpoint boundary (v10)
    (0 until 11).foreach { i =>
      DeltaLite.append(spark, path, Seq((500L + i, 0.1)).toDF("k", "v").coalesce(1))
    }
    val (_, n5) = DeltaLite.copyInto(spark, path, landing)
    assert(n5 === 0L, "checkpoint replay must keep loaded-file identities")
  }

  test("DeltaLite COPY INTO a partitioned table attaches partition values for pruning") {
    import spark.implicits._
    val landing = Files.createTempDirectory("graft_copypsrc").toString
    val path = Files.createTempDirectory("graft_copypdst").toString + "/t"
    (0L until 80L).map(k => (k, s"p${k % 4}", k * 1.0)).toDF("k", "part", "v")
      .repartition(2).write.mode("overwrite").parquet(landing)
    DeltaLite.create(spark, path,
      Seq.empty[(Long, String, Double)].toDF("k", "part", "v"),
      partitionBy = Seq("part"))
    val (_, n1) = DeltaLite.copyInto(spark, path, landing)
    assert(n1 === 2L)
    assert(DeltaLite.read(spark, path).count() === 80)
    // the loaded files carry log-level partition values → pruning works
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.nonEmpty && snap.files.forall(_.pv.contains("part")))
    val p1Files = snap.files.count(_.pv("part") == "p1")
    assert(p1Files > 0 && p1Files < snap.files.size)
    assert(DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("part", Some("p1"), Some("p1"))))
      .filter($"part" === "p1").count() === 20)
    // idempotent re-load on the partitioned path too
    val (_, n2) = DeltaLite.copyInto(spark, path, landing)
    assert(n2 === 0L)
    assert(DeltaLite.read(spark, path).count() === 80)
  }

  test("DeltaLite compactSmall packs only small files, leaves big ones") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_pack").toString
    DeltaLite.create(spark, path,
      (0L until 1000L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    val bigFile = DeltaLite.snapshot(path).files.head.path
    (0 until 3).foreach { b =>
      DeltaLite.append(spark, path,
        (0L until 10L).map(i => (10000L + b * 10 + i, 0.0)).toDF("k", "v").coalesce(1))
    }
    DeltaLite.compactSmall(spark, path, minRows = 100L)
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.map(_.path).contains(bigFile), "full-size file must survive")
    assert(snap.files.length === 2, s"expected big + 1 packed, got ${snap.files.length}")
    assert(DeltaLite.read(spark, path).count() === 1030)
    // idempotent: nothing left to pack → same version back, no commit
    val v = snap.version
    assert(DeltaLite.compactSmall(spark, path, minRows = 100L) === v)
  }

  test("DeltaLite row tracking: unique _row_id ranges, stable under DV delete, RESTORE, and rewrites") {
    import spark.implicits._
    def batch(b: Int) =
      (0L until 10L).map(i => (b * 10L + i, b * 1.0)).toDF("k", "v").coalesce(1)
    val path = Files.createTempDirectory("graft_rowid").toString
    DeltaLite.create(spark, path, batch(0),
      properties = Map("delta.enableRowTracking" -> "true"))
    (1 to 2).foreach(b => DeltaLite.append(spark, path, batch(b)))
    val ids0 = DeltaLite.readWithRowIds(spark, path)
      .select($"k", $"_row_id".as[Long]).as[(Long, Long)].collect().toMap
    assert(ids0.size === 30 && ids0.values.toSet.size === 30,
      "row ids must be unique table-wide")
    // DV soft delete: survivors keep their ids (file re-adds keep base,
    // surviving positions are unchanged)
    DeltaLite.deleteVectorized(spark, path, $"k" % 10 === 3L)
    val ids1 = DeltaLite.readWithRowIds(spark, path)
      .select($"k", $"_row_id".as[Long]).as[(Long, Long)].collect().toMap
    assert(ids1.size === 27)
    assert(ids1.forall { case (k, id) => ids0(k) === id },
      "surviving rows must keep their row ids across a DV delete")
    // rewrite (REORG materializes the DV): STABLE tier — the rewrite
    // wrote each survivor's id into the new file, so ids are preserved
    DeltaLite.reorgPurge(spark, path)
    val ids2 = DeltaLite.readWithRowIds(spark, path)
      .select($"k", $"_row_id".as[Long]).as[(Long, Long)].collect().toMap
    assert(ids2.size === 27 && ids2.values.toSet.size === 27)
    assert(ids2.forall { case (k, id) => ids0(k) === id },
      "stable tier: surviving rows keep their ids across REORG")
    // pre-enablement files read null ids; post-enablement files get them
    val late = Files.createTempDirectory("graft_rowid_late").toString
    DeltaLite.create(spark, late, batch(0))
    DeltaLite.setProperties(late, Map("delta.enableRowTracking" -> "true"))
    DeltaLite.append(spark, late, batch(1))
    val byNull = DeltaLite.readWithRowIds(spark, late)
      .groupBy($"_row_id".isNull.as("pre")).count()
      .as[(Boolean, Long)].collect().toMap
    assert(byNull(true) === 10 && byNull(false) === 10,
      "enablement is forward-only: old files null, new files tracked")
    // the high-water mark rides properties through commits and replay
    DeltaLite.clearSnapshotCache()
    val hw = DeltaLite.snapshot(path).properties("graft.rowTracking.highWater").toLong
    assert(hw >= 57, s"mark must cover every allocated range, got $hw")
  }

  test("DeltaLite stable row tracking: ids and commit versions survive OPTIMIZE, CLUSTER, and REORG rewrites") {
    import spark.implicits._
    def batch(b: Int) =
      (0L until 10L).map(i => (b * 10L + i, b * 1.0)).toDF("k", "v").coalesce(1)
    val path = Files.createTempDirectory("graft_rowid_stable").toString
    DeltaLite.create(spark, path, batch(0),
      properties = Map("delta.enableRowTracking" -> "true"))
    (1 to 2).foreach(b => DeltaLite.append(spark, path, batch(b)))
    def ids() = DeltaLite.readWithRowIds(spark, path)
      .select($"k", $"_row_id".as[Long], $"_row_commit_version".as[Long])
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val ids0 = ids()
    assert(ids0.size === 30)
    // defaultRowCommitVersion = the commit that wrote the row's file
    assert(ids0(5L)._2 === 0L && ids0(15L)._2 === 1L && ids0(25L)._2 === 2L)
    // OPTIMIZE: all three small files rewrite into one — ids + commit
    // versions must be materialized into the packed file
    DeltaLite.compactSmall(spark, path, minRows = 1000L)
    assert(DeltaLite.snapshot(path).files.length === 1)
    assert(ids() === ids0, "ids+versions must survive compaction")
    // CLUSTER: full rewrite, range-partitioned — identity still rides
    DeltaLite.cluster(spark, path, Seq("v", "k"), numFiles = 2)
    assert(ids() === ids0, "ids+versions must survive clustering")
    // DV delete then REORG purge: survivors keep their identity
    DeltaLite.deleteVectorized(spark, path, $"k" % 10 === 3L)
    DeltaLite.reorgPurge(spark, path)
    val after = ids()
    assert(after.size === 27)
    assert(after.forall { case (k, v) => ids0(k) === v },
      "survivors keep id+version across REORG purge")
    // incremental clustering (the OPTIMIZE-on-clustered-table path)
    DeltaLite.append(spark, path, batch(3))
    val pre = ids()
    DeltaLite.clusterIncremental(spark, path, Seq("k"))
    assert(ids() === pre, "ids+versions must survive incremental clustering")
    // log replay (cold cache) resolves the same materialized identity
    DeltaLite.clearSnapshotCache()
    assert(ids() === pre)
  }

  test("DeltaLite auto compact: small appends self-compact past the threshold; default off") {
    import spark.implicits._
    def batch(b: Int) =
      (0L until 10L).map(i => (b * 10L + i, b * 1.0)).toDF("k", "v").coalesce(1)
    // default OFF: small appends accumulate slivers indefinitely
    val off = Files.createTempDirectory("graft_ac_off").toString
    DeltaLite.create(spark, off, batch(0))
    (1 to 4).foreach(b => DeltaLite.append(spark, off, batch(b)))
    assert(DeltaLite.snapshot(off).files.length === 5)
    // opt-in: the 4th sliver crosses minNumFiles=4 and the append's own
    // commit is followed by an OPTIMIZE_SMALL that packs them
    val on = Files.createTempDirectory("graft_ac_on").toString
    DeltaLite.create(spark, on, batch(0),
      properties = Map("graft.autoCompact" -> "true",
        "graft.autoCompact.minRows" -> "100",
        "graft.autoCompact.minNumFiles" -> "4"))
    (1 to 2).foreach(b => DeltaLite.append(spark, on, batch(b)))
    assert(DeltaLite.snapshot(on).files.length === 3,
      "below the threshold nothing compacts")
    DeltaLite.append(spark, on, batch(3))
    val snap = DeltaLite.snapshot(on)
    assert(snap.files.length === 1,
      s"4 slivers must self-compact to 1, got ${snap.files.length}")
    // the compaction is its own follow-up commit after the append's
    assert(DeltaLite.history(spark, on)
      .filter($"operation" === "OPTIMIZE_SMALL").count() === 1)
    // logical content is never changed by the layout op
    assert(DeltaLite.read(spark, on).count() === 40)
    assert(DeltaLite.read(spark, on).select(sum($"k")).as[Long].head() ===
      (0L until 40L).sum)
    // time travel still sees the pre-compaction sliver state
    assert(DeltaLite.snapshot(on, asOf = Some(snap.version - 1)).files.length === 4)
  }

  test("DeltaLite concurrent appends: optimistic retry lands every commit") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = Files.createTempDirectory("graft_conc").toString
    DeltaLite.create(spark, path, Seq((0L, 0.0)).toDF("k", "v").coalesce(1))
    // 8 writers race on the commit rename; losers must retry, not fail,
    // and no committed batch may be lost (the ACID append guarantee)
    val writers = (1 to 8).map { w =>
      Future {
        DeltaLite.append(spark, path,
          (0L until 10L).map(i => (w * 100L + i, w * 1.0)).toDF("k", "v").coalesce(1))
      }
    }
    val versions = Await.result(Future.sequence(writers), 5.minutes)
    assert(versions.toSet.size === 8, s"versions must be distinct: $versions")
    assert(DeltaLite.latestVersion(path) === Some(8L))
    assert(DeltaLite.read(spark, path).count() === 81)
    assert(DeltaLite.read(spark, path).select(sum($"k")).as[Long].head() ===
      (1 to 8).map(w => (0L until 10L).map(w * 100L + _).sum).sum)
  }

  test("DeltaLite stats prune on date/timestamp/decimal/string; null stats never prune") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_typedstats").toString
    def batch(off: Int) =
      (0 until 10).map { i =>
        val day = off * 10 + i + 1
        (java.sql.Date.valueOf(f"2024-01-$day%02d"),
          java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"),
          BigDecimal(day * 100).setScale(2),
          f"name_$day%03d",
          day * 1.0)
      }.toDF("d", "ts", "dec", "s", "v")
    DeltaLite.create(spark, path, batch(0).coalesce(1))             // days 1-10
    DeltaLite.append(spark, path, batch(1).coalesce(1))             // days 11-20
    // a file where one column is ALL NULL → no stats for it → never pruned
    DeltaLite.append(spark, path,
      Seq((java.sql.Date.valueOf("2024-02-01"),
        java.sql.Timestamp.valueOf("2024-02-01 12:00:00"),
        null.asInstanceOf[BigDecimal], "zz", 99.0))
        .toDF("d", "ts", "dec", "s", "v").coalesce(1))              // Feb, null dec
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.length === 3)
    def pruned(b: DeltaLite.ColumnBound*) = DeltaLite.pruneFiles(snap, b).length
    // date bound: only the days 11-20 file
    assert(pruned(DeltaLite.ColumnBound("d",
      Some(java.sql.Date.valueOf("2024-01-12")),
      Some(java.sql.Date.valueOf("2024-01-15")))) === 1)
    // timestamp bound: the Feb file only
    assert(pruned(DeltaLite.ColumnBound("ts",
      Some(java.sql.Timestamp.valueOf("2024-01-25 00:00:00")), None)) === 1)
    // decimal bound: days 1-10 file (dec 100-1000) + the null-stats file
    assert(pruned(DeltaLite.ColumnBound("dec",
      None, Some(BigDecimal(1000)))) === 2)
    // string bound: lexicographic [name_011, name_020] → middle file; the
    // "zz" file is excluded by its own stats
    assert(pruned(DeltaLite.ColumnBound("s",
      Some("name_011"), Some("name_020"))) === 1)
    // bound on a column with no stats anywhere (array-typed would be) or
    // unknown column: nothing pruned
    assert(pruned(DeltaLite.ColumnBound("nope", Some(1), Some(2))) === 3)
  }

  test("DeltaLite delete+insert allows duplicate batch keys, rewrites only hit files") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_delins").toString
    // keys 1-20 range-clustered into 4 files (5 keys per file)
    DeltaLite.create(spark, path,
      (1 to 20).map(k => (k.toLong, k * 10.0)).toDF("k", "v")
        .repartitionByRange(4, col("k")))
    val before = DeltaLite.snapshot(path).files.map(_.path).toSet
    assert(before.size === 4)
    // batch hits only keys 2 and 4 (first file) — key 2 lands TWICE
    val batch = Seq((2L, 777.0), (2L, 888.0), (4L, 999.0)).toDF("k", "v")
    DeltaLite.deleteInsert(spark, path, batch, Seq("k"))
    val after = DeltaLite.snapshot(path).files.map(_.path).toSet
    assert((before & after).size === 3, "the three unhit files must survive by reference")
    val got = DeltaLite.read(spark, path).as[(Long, Double)].collect().toSeq.sorted
    assert(got.count(_._1 == 2L) === 2, "both batch rows for key 2 must land")
    assert(got.filter(_._1 == 4L).map(_._2) === Seq(999.0))
    assert(got.size === 21)  // 20 - 2 deleted + 3 inserted
  }

  test("DeltaLite RESTORE re-adds an old version's files by reference") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_restore").toString
    DeltaLite.create(spark, path, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))  // v0
    DeltaLite.append(spark, path, Seq((3L, "c")).toDF("k", "v"))             // v1
    DeltaLite.delete(spark, path, col("k") === 1L)                           // v2
    val v0Files = DeltaLite.snapshot(path, asOf = Some(0L)).files.map(_.path).toSet
    val rv = DeltaLite.restore(spark, path, 0L)                              // v3
    val now = DeltaLite.snapshot(path)
    assert(now.version === rv)
    assert(now.files.map(_.path).toSet === v0Files,
      "restored live set must BE v0's files — no copies")
    assert(DeltaLite.read(spark, path).as[(Long, String)].collect().toSeq.sorted
      === Seq((1L, "a"), (2L, "b")))
    // the pre-restore timeline stays travelable
    assert(DeltaLite.read(spark, path, asOf = Some(2L))
      .as[(Long, String)].collect().toSeq.sorted === Seq((2L, "b"), (3L, "c")))
  }

  test("DeltaLite string stats are truncated to 32 chars and stay valid prune bounds") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_truncstats").toString
    // document-sized strings: raw min/max would put ~200 chars per file
    // per column into the log; truncation caps it at 32 (+1 for the
    // incremented max)
    def doc(prefix: String, i: Int) = prefix + ("x" * 200) + f"_$i%03d"
    DeltaLite.create(spark, path,
      (0 until 5).map(i => (doc("aaa_", i), i)).toDF("s", "v").coalesce(1))
    DeltaLite.append(spark, path,
      (0 until 5).map(i => (doc("mmm_", i), i)).toDF("s", "v").coalesce(1))
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.length === 2)
    val statLens = snap.files.flatMap { f =>
      val cs = f.stats("s")
      Seq(cs.min, cs.max).flatten.map(_.asInstanceOf[String].length)
    }
    assert(statLens.nonEmpty && statLens.forall(_ <= DeltaLite.MaxStringStatLen + 1))
    // truncated bounds must stay conservative: a bound INSIDE the aaa
    // file's real value range keeps that file and drops the mmm file...
    val kept = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("s", Some(doc("aaa_", 1)), Some(doc("aaa_", 3)))))
    assert(kept.length === 1)
    // ...and the pruned scan equals the unpruned read + exact filter
    val lo = doc("aaa_", 1); val hi = doc("aaa_", 3)
    val viaScan = DeltaLite.scan(spark, path,
        Seq(DeltaLite.ColumnBound("s", Some(lo), Some(hi))))
      .filter(col("s") >= lo && col("s") <= hi)
    val viaFull = DeltaLite.read(spark, path)
      .filter(col("s") >= lo && col("s") <= hi)
    assert(viaScan.exceptAll(viaFull).isEmpty && viaFull.exceptAll(viaScan).isEmpty)
  }

  test("DeltaLite deletion vectors: soft delete without rewriting data files") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_dv").toString
    DeltaLite.create(spark, path,
      (0L until 100L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    DeltaLite.append(spark, path,
      (100L until 200L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    val dataFiles = DeltaLite.snapshot(path).files.map(_.path).toSet

    val vDel = DeltaLite.deleteVectorized(spark, path, $"k" % 10 === 0 && $"k" < 100)
    val snap = DeltaLite.snapshot(path)
    // same physical files — the low file re-added with a DV, high file untouched
    assert(snap.files.map(_.path).toSet === dataFiles)
    assert(snap.files.count(_.dv.isDefined) === 1)
    assert(DeltaLite.read(spark, path).count() === 190)
    assert(DeltaLite.read(spark, path).filter($"k" === 50).count() === 0)
    // time travel to before the delete still sees all rows
    assert(DeltaLite.read(spark, path, Some(vDel - 1)).count() === 200)

    // second DV delete folds the prior vector
    DeltaLite.deleteVectorized(spark, path, $"k" === 5L)
    assert(DeltaLite.read(spark, path).count() === 189)
    assert(DeltaLite.snapshot(path).files.count(_.dv.isDefined) === 1)

    // CDF across the first DV commit: exactly the 10 soft-deleted rows
    val cdf = DeltaLite.changes(spark, path, vDel - 1, vDel)
      .as[(Long, Double, String)].collect().toSet
    assert(cdf === (0L until 100L by 10).map(k => (k, k * 1.0, "delete")).toSet)

    // compaction materializes the DV away; results unchanged
    DeltaLite.compact(spark, path, numFiles = 1)
    val compacted = DeltaLite.snapshot(path)
    assert(compacted.files.forall(_.dv.isEmpty))
    assert(DeltaLite.read(spark, path).count() === 189)

    // vacuum keeps only the live compacted file + nothing DV'd remains live
    def dvBins(): Seq[String] = {
      val w = Files.walk(Paths.get(path))
      try w.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin"))
        .toSeq.sorted
      finally w.close()
    }
    assert(dvBins().size === 2, "one packed DV file per DV delete")
    DeltaLite.vacuum(path, keepVersions = 1)
    assert(DeltaLite.read(spark, path).count() === 189)
    assert(dvBins().isEmpty,
      "no retained version references a DV, so no DV file may remain")

    // a DV still live after vacuum keeps its file; the one it
    // superseded (folded into it) is reclaimed
    DeltaLite.deleteVectorized(spark, path, $"k" === 7L)
    DeltaLite.deleteVectorized(spark, path, $"k" === 8L)
    val liveDv = DeltaLite.snapshot(path).files.flatMap(_.dv)
    assert(liveDv.size === 1 && liveDv.head.cardinality === 2L)
    val live = graft.sources.DeletionVectors.dvFilePath(
      Paths.get(path).toAbsolutePath.normalize, liveDv.head)
    assert(dvBins().size === 2)
    DeltaLite.vacuum(path, keepVersions = 1)
    assert(dvBins() === Seq(live.getFileName.toString))
    assert(DeltaLite.read(spark, path).count() === 187)
    assert(DeltaLite.read(spark, path).filter($"k".isin(7L, 8L)).count() === 0)
  }

  test("DeltaLite deletion vectors: a nondeterministic predicate is declined, nothing commits") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_dv_rand").toString
    DeltaLite.create(spark, path, (0L until 100L).toDF("k").coalesce(1))
    val before = DeltaLite.latestVersion(path)
    val e = intercept[IllegalArgumentException] {
      DeltaLite.deleteVectorized(spark, path, rand(7) < 0.5)
    }
    assert(e.getMessage.contains("nondeterministic"), e.getMessage)
    assert(DeltaLite.latestVersion(path) === before)
    assert(DeltaLite.read(spark, path).count() === 100)
  }

  test("DeltaLite deletion vectors: each descriptor decodes to exactly the deleted physical rows; a corrupt DV fails its CRC") {
    import spark.implicits._
    import graft.sources.DeletionVectors
    val path = Files.createTempDirectory("graft_dv_crc").toString
    DeltaLite.create(spark, path, (0L until 10L).toDF("k").coalesce(1))
    DeltaLite.append(spark, path, (10L until 20L).toDF("k").coalesce(1))
    DeltaLite.deleteVectorized(spark, path, $"k" % 3 === 0L)
    val root = Paths.get(path).toAbsolutePath.normalize
    val files = DeltaLite.snapshot(path).files
    assert(files.size === 2 && files.forall(_.dv.isDefined))
    files.foreach { f =>
      val raw = spark.read.parquet(root.resolve(f.path).toString)
      val deleted = raw
        .select(col("_metadata.row_index"), col(raw.columns.head).as("k"))
        .filter($"k" % 3 === 0L).collect().map(_.getLong(0)).sorted.toSeq
      assert(deleted.nonEmpty)
      assert(DeletionVectors.positions(
        DeletionVectors.bitmapBytes(root, f.dv.get)).toSeq === deleted,
        s"the DV of ${f.path} must name exactly its deleted row indexes")
    }
    assert(DeltaLite.read(spark, path).count() === 13)
    // both descriptors share one packed file: corrupt one byte of the
    // last bitmap → the read fails loudly instead of resurrecting rows
    val dvFile = DeletionVectors.dvFilePath(root, files.head.dv.get)
    val bytes = Files.readAllBytes(dvFile)
    bytes(bytes.length - 6) = (bytes(bytes.length - 6) ^ 0x7f).toByte
    Files.write(dvFile, bytes)
    val crc = intercept[Exception] {
      DeltaLite.read(spark, path).collect()
    }
    assert(crc.getMessage.toLowerCase.contains("crc"),
      s"a corrupt DV must fail its checksum loudly: $crc")
  }

  test("DeltaLite replay declines the retired parquet-directory DV form in commits and parquet checkpoints") {
    import spark.implicits._
    val retired = "dv-00001-0a1b2c3d"
    // JSON commit: v1 re-adds the file naming a DV directory
    val path = Files.createTempDirectory("graft_dv_retired").toString
    DeltaLite.create(spark, path, (0L until 10L).toDF("k").coalesce(1))
    val log = Paths.get(path, "_graft_log")
    val v1 = Files.readAllLines(log.resolve("0.json")).asScala.map(
      _.replace("\"version\":0", "\"version\":1")
        .replace("\"dv\":null", s"\"dv\":\"$retired\""))
    assert(v1.exists(_.contains(retired)))
    Files.write(log.resolve("1.json"), v1.mkString("\n").getBytes("UTF-8"))
    DeltaLite.clearSnapshotCache()
    val e = intercept[IllegalStateException](DeltaLite.snapshot(path))
    Seq(path, "version 1", retired, "no longer reads").foreach(w =>
      assert(e.getMessage.contains(w), s"'$w' missing from: ${e.getMessage}"))
    // sidecar checkpoint: its add rows carry the retired string
    val cpath = synthTable(10000)
    val sidecar = Paths.get(cpath, "_graft_log", sidecarsOf(cpath, 10).head)
    val forged = Paths.get(cpath, "_graft_log", ".forged")
    spark.read.parquet(sidecar.toString).withColumn("dv", lit(retired))
      .coalesce(1).write.parquet(forged.toString)
    val part = Files.list(forged).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, sidecar, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    DeltaLite.clearSnapshotCache()
    val ce = intercept[IllegalStateException](DeltaLite.snapshot(cpath))
    Seq(cpath, "checkpoint 10", retired, "no longer reads").foreach(w =>
      assert(ce.getMessage.contains(w), s"'$w' missing from: ${ce.getMessage}"))
  }

  test("DeltaLite change data feed diffs versions from touched files only") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_cdf").toString
    DeltaLite.create(spark, path,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s").coalesce(1))   // v0
    DeltaLite.append(spark, path, Seq((4L, "d")).toDF("k", "s"))          // v1
    DeltaLite.merge(spark, path,
      Seq((2L, "B"), (5L, "e")).toDF("k", "s"), Seq("k"))                 // v2
    DeltaLite.delete(spark, path, col("k") === 1L)                        // v3

    def set(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
      df.as[(Long, String, String)].collect().toSet

    assert(set(DeltaLite.changes(spark, path, 0L, 1L)) ===
      Set((4L, "d", "insert")))
    assert(set(DeltaLite.changes(spark, path, 1L, 2L)) ===
      Set((2L, "B", "insert"), (5L, "e", "insert"), (2L, "b", "delete")))
    assert(set(DeltaLite.changes(spark, path, 2L, 3L)) ===
      Set((1L, "a", "delete")))
    // end-to-end: v0 plus all changes replays to the latest state
    assert(set(DeltaLite.changes(spark, path, 0L, 3L)) ===
      Set((4L, "d", "insert"), (2L, "B", "insert"), (5L, "e", "insert"),
        (2L, "b", "delete"), (1L, "a", "delete")))
    // identical versions diff to empty
    assert(DeltaLite.changes(spark, path, 2L, 2L).count() === 0)
  }

  test("DeltaLite cluster (ZORDER-lite) makes data skipping effective") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_zorder").toString
    // every append spans the whole key space → every file's [min,max] is
    // the full range and skipping can prune NOTHING
    DeltaLite.create(spark, path,
      (0L until 1000L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    (1 to 7).foreach { _ =>
      DeltaLite.append(spark, path,
        (0L until 1000L).map(i => (i, -1.0)).toDF("k", "v").coalesce(1))
    }
    val bound = Seq(DeltaLite.ColumnBound("k", Some(100L), Some(150L)))
    val before = DeltaLite.pruneFiles(DeltaLite.snapshot(path), bound)
    assert(before.length === 8, "unclustered: every file survives the bound")

    DeltaLite.cluster(spark, path, Seq("k"), numFiles = 8)
    val snap = DeltaLite.snapshot(path)
    val after = DeltaLite.pruneFiles(snap, bound)
    assert(after.length <= 2,
      s"clustered: expected <=2 candidate files, got ${after.length}")
    // correctness preserved
    val q = DeltaLite.scan(spark, path, bound).filter($"k".between(100L, 150L))
    assert(q.count() === 8 * 51)
  }

  test("DeltaLite Z-order clustering prunes on BOTH dimensions") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_z").toString
    // 64x64 grid of (a, b) keys in row-major order: linear clustering on
    // `a` leaves every file spanning the FULL b range
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b, a * 64.0 + b)
    DeltaLite.create(spark, path, grid.toDF("a", "b", "v").coalesce(1))
    DeltaLite.cluster(spark, path, Seq("a"), numFiles = 16)
    val linear = DeltaLite.snapshot(path)
    val box = Seq(
      DeltaLite.ColumnBound("a", Some(8L), Some(15L)),
      DeltaLite.ColumnBound("b", Some(8L), Some(15L)))
    val prunedLinear = DeltaLite.pruneFiles(linear, box).length

    DeltaLite.clusterZ(spark, path, "a", "b", numFiles = 16)
    val z = DeltaLite.snapshot(path)
    val prunedZ = DeltaLite.pruneFiles(z, box).length
    assert(prunedZ < prunedLinear,
      s"z-order must beat linear clustering on a 2-D box: z=$prunedZ linear=$prunedLinear")
    assert(prunedZ <= 2, s"an aligned 8x8 box should live in <=2 z-files, got $prunedZ")
    // correctness preserved under the pruned scan
    val q = DeltaLite.scan(spark, path, box)
      .filter($"a".between(8L, 15L) && $"b".between(8L, 15L))
    assert(q.count() === 64)
  }

  test("Hilbert curve clustering prunes 2-D boxes at least as well as Morton") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_hilbert").toString
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b, a * 64.0 + b)
    DeltaLite.create(spark, path, grid.toDF("a", "b", "v").coalesce(1))
    val box = Seq(
      DeltaLite.ColumnBound("a", Some(8L), Some(15L)),
      DeltaLite.ColumnBound("b", Some(8L), Some(15L)))
    DeltaLite.clusterZ(spark, path, "a", "b", numFiles = 16)
    val prunedMorton = DeltaLite.pruneFiles(DeltaLite.snapshot(path), box).length
    // flip the table's layout curve — every clustering path re-reads it
    // from metadata, so the SAME clusterZ call now walks the Hilbert curve
    DeltaLite.setProperties(path, Map("graft.cluster.curve" -> "hilbert"))
    DeltaLite.clusterZ(spark, path, "a", "b", numFiles = 16)
    val hil = DeltaLite.snapshot(path)
    val prunedHilbert = DeltaLite.pruneFiles(hil, box).length
    assert(prunedHilbert <= prunedMorton,
      s"hilbert=$prunedHilbert must not prune worse than morton=$prunedMorton")
    assert(prunedHilbert <= 2,
      s"an aligned 8x8 box should live in <=2 hilbert files, got $prunedHilbert")
    // correctness preserved under the pruned scan
    val q = DeltaLite.scan(spark, path, box)
      .filter($"a".between(8L, 15L) && $"b".between(8L, 15L))
    assert(q.count() === 64)
    // unknown curve names fail loudly, not silently-as-morton
    DeltaLite.setProperties(path, Map("graft.cluster.curve" -> "peano"))
    intercept[IllegalArgumentException](
      DeltaLite.clusterZ(spark, path, "a", "b", numFiles = 4))
  }

  test("DeltaLite partition-scoped ZORDER rewrites only the bound partition") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_zpart").toString
    val grid = for (p <- Seq("p0", "p1"); a <- 0L until 32L; b <- 0L until 32L)
      yield (p, a, b, a * 32.0 + b)
    DeltaLite.create(spark, path,
      grid.toDF("part", "a", "b", "v").repartition(4),
      partitionBy = Seq("part"))
    val before = DeltaLite.snapshot(path)
    val p1Files = before.files.filter(_.pv("part") == "p1").map(_.path).toSet
    DeltaLite.clusterZPartition(spark, path,
      Seq(DeltaLite.ColumnBound("part", Some("p0"), Some("p0"))),
      "a", "b", numFiles = 8)
    val after = DeltaLite.snapshot(path)
    // the unbound partition keeps its exact file identities
    assert(after.files.filter(_.pv("part") == "p1").map(_.path).toSet === p1Files)
    // the bound partition's rewrite makes the 2-D box skippable
    val box = Seq(
      DeltaLite.ColumnBound("part", Some("p0"), Some("p0")),
      DeltaLite.ColumnBound("a", Some(4L), Some(7L)),
      DeltaLite.ColumnBound("b", Some(4L), Some(7L)))
    assert(DeltaLite.pruneFiles(after, box).length <= 2)
    assert(DeltaLite.scan(spark, path, box)
      .filter($"part" === "p0" && $"a".between(4L, 7L) && $"b".between(4L, 7L))
      .count() === 16)
    // the SQL spelling drives the same op
    graft.functions.GraftFunctions.register(spark)
    spark.sql(s"OPTIMIZE '$path' WHERE part = 'p1' ZORDER BY (a, b)").collect()
    val sqlAfter = DeltaLite.snapshot(path)
    assert(sqlAfter.files.filter(_.pv("part") == "p1").map(_.path).toSet
      .intersect(p1Files).isEmpty, "SQL ZORDER must rewrite the bound partition")
    assert(DeltaLite.read(spark, path).count() === grid.size)
  }

  test("DeltaLite crash safety: a dead writer's leftovers never corrupt reads") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_crash").toString
    DeltaLite.create(spark, path,
      (0L until 50L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(1))
    // simulate a writer that died mid-commit: data files written, commit
    // line staged to a temp — but the atomic link never happened
    val orphanDir = java.nio.file.Paths.get(path, "files-99999-deadbeef")
    (51L until 60L).map(i => (i, -1.0)).toDF("k", "v").coalesce(1)
      .write.parquet(orphanDir.toString)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_graft_log", ".1-deadbeef.json.tmp"),
      "{\"commit\":{\"version\":1}}".getBytes("UTF-8"))
    // readers see only committed state; the orphan is invisible
    assert(DeltaLite.latestVersion(path) === Some(0L))
    assert(DeltaLite.read(spark, path).count() === 50)
    // and a new writer is not blocked by the debris
    DeltaLite.append(spark, path, Seq((100L, 1.0)).toDF("k", "v").coalesce(1))
    assert(DeltaLite.read(spark, path).count() === 51)
    // vacuum reclaims the orphan data files (unreferenced by any version)
    val deleted = DeltaLite.vacuum(path, keepVersions = 2)
    assert(deleted >= 1, "orphan parquet files must be vacuumed")
    assert(!java.nio.file.Files.list(orphanDir).iterator().asScala
      .exists(_.toString.endsWith(".parquet")))
    assert(DeltaLite.read(spark, path).count() === 51)
  }

  test("DeltaLite RESTORE TO TIMESTAMP AS OF resolves like time travel") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_restoretz").toString
    DeltaLite.create(spark, path, Seq((1L, "a")).toDF("k", "s"))
    Thread.sleep(5)
    DeltaLite.append(spark, path, Seq((2L, "b")).toDF("k", "s"))
    Thread.sleep(5)
    DeltaLite.append(spark, path, Seq((3L, "c")).toDF("k", "s"))
    // instant just after v1: restore rolls the live set back to k∈{1,2}
    val line1 = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path, "_graft_log", "1.json")).get(0)
    val ts1 = """"committedAtMs":(\d+)""".r.findFirstMatchIn(line1).get.group(1).toLong
    DeltaLite.restoreAtTimestamp(spark, path, ts1)
    assert(DeltaLite.read(spark, path).select("k").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
    // the SQL spelling (UTC instant) parses and runs
    val iso = java.time.Instant.ofEpochMilli(ts1).toString
    spark.sql(s"RESTORE '$path' TO TIMESTAMP AS OF '$iso'").collect()
    assert(DeltaLite.read(spark, path).count() === 2)
  }

  test("DeltaLite TIMESTAMP AS OF resolves the version live at that instant") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_tt").toString
    DeltaLite.create(spark, path, Seq((1L, 1.0)).toDF("k", "v"))
    DeltaLite.append(spark, path, Seq((2L, 2.0)).toDF("k", "v"))
    DeltaLite.append(spark, path, Seq((3L, 3.0)).toDF("k", "v"))
    // read the logged commit instants back (no wall-clock in the test)
    def committedAt(v: Long): Long = {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path, "_graft_log", s"$v.json")).get(0)
      """"committedAtMs":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    }
    assert(DeltaLite.versionAtTimestamp(path, committedAt(0)) === 0L)
    assert(DeltaLite.versionAtTimestamp(path, committedAt(2) + 1000) === 2L)
    // an instant between commits resolves to the earlier one
    val between = committedAt(1)
    val vAt = DeltaLite.versionAtTimestamp(path, between)
    assert(vAt === 1L || (vAt === 2L && committedAt(2) == between),
      "instant at commit 1 resolves to v1 (or v2 only on an exact tie)")
    assert(DeltaLite.readAsOfTimestamp(spark, path, committedAt(1)).count() >= 2)
    intercept[IllegalArgumentException] {
      DeltaLite.versionAtTimestamp(path, committedAt(0) - 100000)
    }
  }

  test("DeltaLite vacuum: physically deletes unreferenced files, keeps retained versions") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_vac").toString
    DeltaLite.create(spark, path,
      (0L until 50L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(2))
    DeltaLite.append(spark, path,
      (50L until 100L).map(i => (i, i * 1.0)).toDF("k", "v").coalesce(2))
    DeltaLite.compact(spark, path, numFiles = 1)
    // latest snapshot = 1 compacted file; the 4 originals are only
    // referenced by v0/v1
    // DRY RUN reports the victims without touching anything
    assert(DeltaLite.vacuum(path, keepVersions = 1, dryRun = true) === 4)
    assert(DeltaLite.read(spark, path, Some(0L)).count() > 0, "dry run deletes nothing")
    val deleted = DeltaLite.vacuum(path, keepVersions = 1)
    assert(deleted === 4, s"expected 4 vacuumed files, got $deleted")
    assert(DeltaLite.read(spark, path).count() === 100)
    // time travel beyond retention is gone, by design
    intercept[Exception] { DeltaLite.read(spark, path, Some(0L)).count() }
  }

  test("DeltaLite model check: 32 random ops vs an in-memory reference model") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val path = Files.createTempDirectory("graft_model").toString
    // reference model: key -> value (table schema (k bigint, v double),
    // merge key = k); history(i) = model state at version i
    var model = Map.empty[Long, Double]
    var propsModel = Map.empty[String, String]
    val verState = scala.collection.mutable.Map.empty[Long, Map[Long, Double]]
    var nextKey = 0L
    def freshBatch(n: Int): Seq[(Long, Double)] = {
      val b = (0 until n).map(i => (nextKey + i, rnd.nextInt(1000) * 1.0))
      nextKey += n
      b
    }
    val b0 = freshBatch(20)
    model = b0.toMap
    DeltaLite.create(spark, path, b0.toDF("k", "v").repartition(2))
    val history = scala.collection.mutable.ArrayBuffer(model)
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.as[(Long, Double)].collect().toMap
    // landing dirs already COPY INTO'd (their identities are load state)
    val landings = scala.collection.mutable.ArrayBuffer.empty[String]

    verState(DeltaLite.latestVersion(path).get) = model
    (1 to 32).foreach { _ =>
      rnd.nextInt(13) match {
        case 0 => // append fresh keys
          val b = freshBatch(1 + rnd.nextInt(10))
          model = model ++ b
          DeltaLite.append(spark, path, b.toDF("k", "v").coalesce(1))
        case 1 => // merge: update a sample of existing keys + insert fresh
          val existing = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(8).map(k => (k, -1.0 * k))
          val inserts = freshBatch(rnd.nextInt(4))
          val u = existing ++ inserts
          if (u.nonEmpty) {
            model = model ++ u
            DeltaLite.merge(spark, path, u.toDF("k", "v").coalesce(1), Seq("k"))
          } else DeltaLite.append(spark, path, freshBatch(1).toDF("k", "v"))
        case 2 => // delete a residue class
          val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
          val doomed = model.keys.filter(_ % m == r).toSet
          model = model -- doomed
          DeltaLite.delete(spark, path, pmod(col("k"), lit(m)) === r)
        case 3 => // update a key range
          val cut = if (model.isEmpty) 0L else model.keys.max / 2
          model = model.map { case (k, v) => if (k < cut) (k, v + 100) else (k, v) }
          DeltaLite.update(spark, path, col("k") < cut,
            Map("v" -> (col("v") + 100)))
        case 4 => // maintenance: no logical change (compaction or an
          // incremental clustering pass — liquid clustering must compose
          // with every other op class; the layout curve flips randomly
          // between Morton and Hilbert, which must never change content)
          rnd.nextInt(3) match {
            case 0 => DeltaLite.compactSmall(spark, path, minRows = 5L)
            case 1 => DeltaLite.compact(spark, path, numFiles = 2)
            case _ =>
              val curve = if (rnd.nextBoolean()) "hilbert" else "zorder"
              propsModel += ("graft.cluster.curve" -> curve)
              DeltaLite.setProperties(path, Map("graft.cluster.curve" -> curve))
              history += model
              verState(DeltaLite.latestVersion(path).get) = model
              DeltaLite.clusterIncremental(spark, path, Seq("k"))
          }
        case 5 => // deletion-vector soft delete of a residue class
          val m = 2 + rnd.nextInt(5); val r = rnd.nextInt(m)
          val doomed = model.keys.filter(_ % m == r).toSet
          model = model -- doomed
          DeltaLite.deleteVectorized(spark, path, pmod(col("k"), lit(m)) === r)
        case 6 => // replaceWhere a key range with fresh rows
          val cut = if (model.isEmpty) 0L else model.keys.max / 3
          val repl = freshBatch(3)
          model = model.filter { case (k, _) => k >= cut } ++ repl
          DeltaLite.replaceWhere(spark, path, col("k") < cut,
            repl.toDF("k", "v").coalesce(1))
        case 7 => // multi-clause merge: delete negatives among matches,
          // update the rest, insert fresh rows conditionally
          val existing = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(6).map(k => (k, rnd.nextInt(20) - 10.0))
          val inserts = freshBatch(rnd.nextInt(3))
          val src = existing ++ inserts
          if (src.nonEmpty) {
            val srcMap = src.toMap
            model = model.flatMap { case (k, v) =>
              srcMap.get(k) match {
                case Some(sv) if sv < 0 => None              // matched delete
                case Some(sv)           => Some(k -> (sv * 2)) // matched update
                case None               => Some(k -> v)        // untouched
              }
            } ++ inserts.filter(_._2 >= 0).map { case (k, sv) => k -> (sv * 2) }
            DeltaLite.mergeClauses(spark, path,
              src.toDF("k", "v").coalesce(1), Seq("k"), Seq(
                graft.operators.Merge.MatchedDelete(
                  Some(graft.operators.Merge.src("v") < 0)),
                graft.operators.Merge.MatchedUpdate(None,
                  Map("v" -> (graft.operators.Merge.src("v") * 2))),
                graft.operators.Merge.NotMatchedInsert(
                  Some(graft.operators.Merge.src("v") >= 0),
                  Map("v" -> (graft.operators.Merge.src("v") * 2)))))
          } else DeltaLite.append(spark, path, freshBatch(1).toDF("k", "v"))
        case 8 => // metadata-only: SET/UNSET TBLPROPERTIES (data unchanged)
          if (propsModel.size > 1 && rnd.nextBoolean()) {
            val k = propsModel.keys.toSeq.sorted.head
            propsModel -= k
            DeltaLite.unsetProperty(path, k)
          } else {
            val k = s"tag${rnd.nextInt(4)}"
            val v = s"v${rnd.nextInt(100)}"
            propsModel += (k -> v)
            DeltaLite.setProperties(path, Map(k -> v))
          }
        case 9 => // RESTORE to a random earlier version: model rolls back
          val versions = verState.keys.toSeq.sorted
          val rv = versions(rnd.nextInt(versions.length))
          model = verState(rv)
          DeltaLite.restore(spark, path, rv)
        case 10 => // COPY INTO: first load lands, re-load is a NO-OP —
          // even across RESTOREs (the documented Databricks caveat:
          // RESTORE does not reset COPY INTO's load metadata, because
          // the txn actions remain in the log)
          if (landings.nonEmpty && rnd.nextBoolean()) {
            val dir = landings(rnd.nextInt(landings.size))
            val (_, n) = DeltaLite.copyInto(spark, path, dir)
            assert(n === 0L, s"re-loading $dir must be a no-op")
          } else {
            val b = freshBatch(1 + rnd.nextInt(6))
            val dir = Files.createTempDirectory("graft_model_landing").toString
            b.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(dir)
            model = model ++ b
            DeltaLite.copyInto(spark, path, dir)
            landings += dir
          }
        case 11 => // deep clone side-fork: content equal at any mid-state,
          // zero commits on the source (pure read + copy)
          val vBefore = DeltaLite.latestVersion(path).get
          val dst = Files.createTempDirectory("graft_model_clone").toString + "/t"
          DeltaLite.cloneDeep(spark, path, dst)
          assert(asMap(DeltaLite.read(spark, dst)) === model)
          assert(DeltaLite.latestVersion(path).get === vBefore)
        case 12 => // toggle optimized write: a PHYSICAL layout knob only —
          // every later write/rewrite bin-packs (or stops) with identical
          // logical content, so the model needs no change at all
          val on = rnd.nextBoolean().toString
          propsModel += ("graft.optimizeWrite" -> on)
          DeltaLite.setProperties(path, Map("graft.optimizeWrite" -> on))
      }
      history += model
      verState(DeltaLite.latestVersion(path).get) = model
      // maintenance ops may or may not commit; track actual version count
    }

    assert(asMap(DeltaLite.read(spark, path)) === history.last)
    // metadata commits mixed through the run must agree with the model
    // (RESTORE rolls properties back to the restored version's metadata,
    // so compare against what each recorded version carried — here the
    // final snapshot simply must be internally consistent with its log)
    assert(DeltaLite.snapshot(path).properties.keySet.subsetOf(
      (0 to 3).map(i => s"tag$i").toSet + "graft.optimizeWrite" +
        "graft.cluster.curve" +
        DeltaLite.ProtocolReaderKey + DeltaLite.ProtocolWriterKey))
    // time travel: every committed version must equal SOME prefix state
    // (maintenance ops commit without changing data, so walk both seqs)
    val latest = DeltaLite.latestVersion(path).get
    var hi = 0
    (0L to latest).foreach { v =>
      val snap = asMap(DeltaLite.read(spark, path, Some(v)))
      while (hi < history.length && history(hi) != snap) hi += 1
      assert(hi < history.length,
        s"version $v matches no model state (first mismatch after index $hi)")
    }

    // log cleanup composes with the whole messy history (DVs, clones,
    // restores, COPY INTO txns, curve flips, checkpoints): prune to the
    // newest 5 versions, then the retained range must still replay to
    // the same model states and the tip must be untouched
    DeltaLite.clearSnapshotCache()
    DeltaLite.cleanupLogs(path, keepVersions = 5)
    val floor = DeltaLite.earliestVersion(path).get
    assert(asMap(DeltaLite.read(spark, path)) === history.last)
    var hi2 = 0
    (floor to latest).foreach { v =>
      val snap = asMap(DeltaLite.read(spark, path, Some(v)))
      while (hi2 < history.length && history(hi2) != snap) hi2 += 1
      assert(hi2 < history.length,
        s"post-cleanup version $v matches no model state")
    }
    if (floor > 0)
      intercept[IllegalArgumentException](
        DeltaLite.read(spark, path, Some(floor - 1)))
  }

  test("DeltaLite partitioned model check: 20 random ops on a Hive-layout table") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val path = Files.createTempDirectory("graft_pmodel").toString
    // model: key -> (partition, value); table (k, part, v) partitioned
    var model = Map.empty[Long, (String, Double)]
    var nextKey = 0L
    def freshBatch(n: Int): Seq[(Long, String, Double)] = {
      val b = (0 until n).map(i =>
        (nextKey + i, s"p${rnd.nextInt(3)}", rnd.nextInt(1000) * 1.0))
      nextKey += n
      b
    }
    val b0 = freshBatch(30)
    model = b0.map(r => r._1 -> (r._2, r._3)).toMap
    DeltaLite.create(spark, path, b0.toDF("k", "part", "v").repartition(2),
      partitionBy = Seq("part"))
    val history = scala.collection.mutable.ArrayBuffer(model)
    val verState = scala.collection.mutable.Map(
      DeltaLite.latestVersion(path).get -> model)

    (1 to 20).foreach { _ =>
      rnd.nextInt(7) match {
        case 0 => // append across partitions
          val b = freshBatch(1 + rnd.nextInt(8))
          model = model ++ b.map(r => r._1 -> (r._2, r._3))
          DeltaLite.append(spark, path, b.toDF("k", "part", "v").coalesce(1))
        case 1 => // delete a whole partition's residue class
          val part = s"p${rnd.nextInt(3)}"
          model = model.filterNot { case (k, (p, _)) => p == part && k % 2 == 0 }
          DeltaLite.delete(spark, path,
            col("part") === part && pmod(col("k"), lit(2)) === 0)
        case 2 => // update values within one partition
          val part = s"p${rnd.nextInt(3)}"
          model = model.map { case (k, (p, v)) =>
            if (p == part) k -> (p, v + 7) else k -> (p, v)
          }
          DeltaLite.update(spark, path, col("part") === part,
            Map("v" -> (col("v") + 7)))
        case 3 => // partition-scoped maintenance: no logical change
          val part = s"p${rnd.nextInt(3)}"
          val b = Seq(DeltaLite.ColumnBound("part", Some(part), Some(part)))
          if (rnd.nextBoolean()) DeltaLite.compactPartition(spark, path, b)
          else DeltaLite.clusterZPartition(spark, path, b, "k", "v", numFiles = 2)
        case 4 => // replaceWhere one partition with fresh rows bound for it
          val part = s"p${rnd.nextInt(3)}"
          val repl = freshBatch(4).map(r => (r._1, part, r._3))
          model = model.filterNot { case (_, (p, _)) => p == part } ++
            repl.map(r => r._1 -> (r._2, r._3))
          DeltaLite.replaceWhere(spark, path, col("part") === part,
            repl.toDF("k", "part", "v").coalesce(1))
        case 5 => // merge: moves a key's row ACROSS partitions
          val moved = model.keys.toSeq.sorted.take(4)
            .map(k => (k, s"p${rnd.nextInt(3)}", -1.0 * k))
          val src = moved ++ freshBatch(rnd.nextInt(3))
          model = model ++ src.map(r => r._1 -> (r._2, r._3))
          DeltaLite.merge(spark, path, src.toDF("k", "part", "v").coalesce(1),
            Seq("k"))
        case 6 => // restore to a random earlier version
          val versions = verState.keys.toSeq.sorted
          val rv = versions(rnd.nextInt(versions.length))
          model = verState(rv)
          DeltaLite.restore(spark, path, rv)
      }
      history += model
      verState(DeltaLite.latestVersion(path).get) = model
    }

    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Double)] =
      df.as[(Long, String, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    assert(asMap(DeltaLite.read(spark, path).select("k", "part", "v"))
      === history.last)
    // partition-value bookkeeping never drifts: every live file's logged
    // pv agrees with every row it holds, at every surviving version
    val snap = DeltaLite.snapshot(path)
    assert(snap.partitionBy === Seq("part"))
    assert(snap.files.forall(_.pv.contains("part")))
    assert(DeltaLite.read(spark, path)
      .filter(col("part").isNull).count() === 0)
    // partition pruning stays exact after the whole op mix
    val p0 = asMap(DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("part", Some("p0"), Some("p0"))))
      .filter($"part" === "p0").select("k", "part", "v"))
    assert(p0 === history.last.filter { case (_, (p, _)) => p == "p0" })
    // time travel: every version's state appears in model history order
    val latest = DeltaLite.latestVersion(path).get
    var hi = 0
    (0L to latest).foreach { v =>
      val s = asMap(DeltaLite.read(spark, path, Some(v)).select("k", "part", "v"))
      while (hi < history.length && history(hi) != s) hi += 1
      assert(hi < history.length, s"version $v matches no model state")
    }
  }

  test("DeltaLite generated-column pruning soundness: 30 random ts bounds vs the model") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val path = Files.createTempDirectory("graft_genmodel").toString
    // rows spread over 60 days; day = date(ts) is the generated partition
    def ts(day: Int, hour: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-${(day % 28) + 1}%02d $hour%02d:00:00")
    var rows = (0L until 200L).map(i =>
      (i, ts(rnd.nextInt(28), rnd.nextInt(24)), i * 1.0))
    DeltaLite.create(spark, path, rows.toDF("k", "ts", "v").repartition(3),
      partitionBy = Seq("day"), generated = Map("day" -> "date(ts)"))
    // a few appends so multiple files per partition exist
    (0 until 3).foreach { _ =>
      val extra = (0 until 40).map(i =>
        (1000L + rnd.nextInt(100000), ts(rnd.nextInt(28), rnd.nextInt(24)),
          rnd.nextInt(100) * 1.0))
      rows = rows ++ extra
      DeltaLite.append(spark, path, extra.toDF("k", "ts", "v").coalesce(1))
    }
    // soundness: for random [lo, hi] bounds on the BASE column, the
    // derived-bound scan + exact filter must return EXACTLY the model's
    // rows — a wrongly pruned partition would lose rows
    (1 to 30).foreach { _ =>
      val a = ts(rnd.nextInt(28), rnd.nextInt(24))
      val b = ts(rnd.nextInt(28), rnd.nextInt(24))
      val (lo, hi) = if (a.before(b)) (a, b) else (b, a)
      val got = DeltaLite.scan(spark, path,
          Seq(DeltaLite.ColumnBound("ts", Some(lo), Some(hi))))
        .filter($"ts".between(lo, hi))
        .select("k", "ts").as[(Long, java.sql.Timestamp)].collect().toSet
      val want = rows.filter(r => !r._2.before(lo) && !r._2.after(hi))
        .map(r => (r._1, r._2)).toSet
      assert(got === want, s"derived pruning lost/invented rows for [$lo, $hi]")
    }
  }

  test("DeltaLite bloom pruning soundness: 60 random point lookups never lose a row") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val path = Files.createTempDirectory("graft_bloommodel").toString
    // keys hash-scattered across files AND a string bloom column too
    val rows = (0L until 3000L).map(i => (i, s"u${i % 977}", i * 0.5))
    DeltaLite.create(spark, path,
      rows.toDF("k", "u", "v").repartition(6, pmod(col("k"), lit(6))),
      properties = Map("graft.bloom.columns" -> "k,u"))
    (1 to 60).foreach { _ =>
      if (rnd.nextBoolean()) {
        // long key: half present, half absent
        val key = if (rnd.nextBoolean()) rnd.nextInt(3000).toLong
                  else 100000L + rnd.nextInt(1000)
        val got = DeltaLite.scan(spark, path,
            Seq(DeltaLite.ColumnBound("k", Some(key), Some(key))))
          .filter($"k" === key).count()
        assert(got === rows.count(_._1 == key).toLong,
          s"bloom lookup lost rows for k=$key")
      } else {
        val u = if (rnd.nextBoolean()) s"u${rnd.nextInt(977)}"
                else s"missing${rnd.nextInt(50)}"
        val got = DeltaLite.scan(spark, path,
            Seq(DeltaLite.ColumnBound("u", Some(u), Some(u))))
          .filter($"u" === u).count()
        assert(got === rows.count(_._2 == u).toLong,
          s"bloom lookup lost rows for u=$u")
      }
    }
  }

  test("DeltaLite DELETE / UPDATE / schema evolution") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_dml").toString
    DeltaLite.create(spark, path,
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "s", "v"))

    DeltaLite.delete(spark, path, col("k") === 2L)
    assert(DeltaLite.read(spark, path).count() === 2)

    DeltaLite.update(spark, path, col("k") === 3L,
      Map("v" -> (col("v") * 10), "s" -> upper(col("s"))))
    val updated = DeltaLite.read(spark, path).filter(col("k") === 3L)
      .as[(Long, String, Double)].head()
    assert(updated === ((3L, "C", 30.0)))
    // untouched row unchanged
    assert(DeltaLite.read(spark, path).filter(col("k") === 1L)
      .as[(Long, String, Double)].head() === ((1L, "a", 1.0)))

    DeltaLite.appendEvolve(spark, path,
      Seq((4L, "d", 4.0, "extra")).toDF("k", "s", "v", "note"))
    val evolved = DeltaLite.read(spark, path)
    assert(evolved.columns.toSeq === Seq("k", "s", "v", "note"))
    assert(evolved.filter(col("note").isNull).count() === 2)
    // full history still readable (time travel across schema change)
    assert(DeltaLite.read(spark, path, Some(0L)).columns.length === 3)
  }

  test("column DEFAULTs: write-time fill, insert-only in MERGE, checkpoint replay") {
    import spark.implicits._
    import graft.operators.Merge
    val path = Files.createTempDirectory("graft_defaults").toString
    DeltaLite.create(spark, path,
      Seq((1L, 10.0, "x")).toDF("k", "v", "tag"),
      defaults = Map("tag" -> "'d0'"))                                  // v0
    DeltaLite.append(spark, path, Seq((2L, 20.0)).toDF("k", "v"))       // v1
    // supplied values always win over the default
    DeltaLite.append(spark, path,
      Seq((3L, 30.0, "own")).toDF("k", "v", "tag"))                     // v2
    // ALTER to an expression default reading the batch's own columns
    DeltaLite.setColumnDefault(spark, path, "tag",
      "CASE WHEN v > 35 THEN 'hi' ELSE 'lo' END")                       // v3
    DeltaLite.append(spark, path, Seq((4L, 40.0)).toDF("k", "v"))       // v4
    // MERGE star clauses over a source that omits the defaulted column:
    // the default fills ONLY the insert branch; the matched update keeps
    // the target's existing tag
    DeltaLite.mergeClauses(spark, path,
      Seq((1L, 11.0), (5L, 5.0)).toDF("k", "v"), Seq("k"),
      Seq(Merge.MatchedUpdate(None), Merge.NotMatchedInsert(None)))     // v5
    def state(): Map[Long, (Double, Option[String])] =
      DeltaLite.read(spark, path).as[(Long, Double, Option[String])]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val m = state()
    assert(m(1L) === (11.0, Some("x")), "matched update must not apply the default")
    assert(m(2L) === (20.0, Some("d0")))
    assert(m(3L) === (30.0, Some("own")))
    assert(m(4L) === (40.0, Some("hi")))
    assert(m(5L) === (5.0, Some("lo")), "merge insert must take the default")
    // DROP DEFAULT: omitted column goes back to null
    DeltaLite.unsetColumnDefault(path, "tag")                           // v6
    DeltaLite.append(spark, path, Seq((6L, 60.0)).toDF("k", "v"))       // v7
    assert(state()(6L) === (60.0, None))
    // the default survives a checkpoint (v10 writes checkpoint-10.json):
    // replay from the checkpoint must still fill it
    DeltaLite.setColumnDefault(spark, path, "tag", "'ck'")              // v8
    DeltaLite.append(spark, path, Seq((7L, 70.0)).toDF("k", "v"))       // v9
    DeltaLite.append(spark, path, Seq((8L, 80.0)).toDF("k", "v"))       // v10
    assert(DeltaLite.snapshot(path).version === 10L)
    DeltaLite.append(spark, path, Seq((9L, 90.0)).toDF("k", "v"))       // v11
    assert(state()(9L) === (90.0, Some("ck")),
      "a default set before the checkpoint must apply after replay")
    // guards: unknown column fails at ALTER, not at some later write
    intercept[IllegalArgumentException] {
      DeltaLite.setColumnDefault(spark, path, "nope", "'x'")
    }
  }

  test("DROP COLUMN retires the physical name: a re-added column never resurrects dropped data") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_retire").toString
    DeltaLite.create(spark, path,
      Seq((1L, "old1"), (2L, "old2")).toDF("k", "s").coalesce(1))       // v0
    DeltaLite.dropColumn(path, "s")                                     // v1
    // re-adding 's' via schema evolution: the OLD files still physically
    // carry the dropped column — the new one must be born under a fresh
    // physical name, so history reads it as null, never as stale data
    DeltaLite.appendEvolve(spark, path,
      Seq((3L, "new3")).toDF("k", "s").coalesce(1))                     // v2
    val snap = DeltaLite.snapshot(path)
    assert(snap.phys("s") !== "s",
      "re-added column must get a fresh physical name")
    val rows = DeltaLite.read(spark, path).as[(Long, Option[String])]
      .collect().toMap
    assert(rows(1L) === None && rows(2L) === None,
      "pre-drop rows must read the re-added column as null")
    assert(rows(3L) === Some("new3"))
    // time travel before the drop still shows the original values
    assert(DeltaLite.read(spark, path, asOf = Some(0L))
      .as[(Long, String)].collect().toMap.apply(1L) === "old1")
    // the MERGE evolution path honors retirement the same way
    DeltaLite.dropColumn(path, "s")                                     // v3
    DeltaLite.mergeClauses(spark, path,
      Seq((1L, "merged1")).toDF("k", "s"), Seq("k"),
      Seq(graft.operators.Merge.MatchedUpdate(None),
        graft.operators.Merge.NotMatchedInsert(None)),
      schemaEvolution = true)                                           // v4
    val rows2 = DeltaLite.read(spark, path).as[(Long, Option[String])]
      .collect().toMap
    assert(rows2(1L) === Some("merged1"))
    assert(rows2(3L) === None,
      "rows untouched by the merge must not resurrect v2's physical data")
  }

  test("type widening: metadata-only, stats keep pruning, narrow history reads wide") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val path = Files.createTempDirectory("graft_widen").toString
    DeltaLite.create(spark, path,
      Seq((1, 1.5f, "a"), (2, 2.5f, "b")).toDF("n", "f", "s").coalesce(1)) // v0
    DeltaLite.append(spark, path,
      Seq((100, 9.5f, "c")).toDF("n", "f", "s").coalesce(1))               // v1
    val before = DeltaLite.snapshot(path)
    DeltaLite.widenColumnType(path, "n", LongType)                         // v2
    DeltaLite.widenColumnType(path, "f", DoubleType)                       // v3
    val after = DeltaLite.snapshot(path)
    // metadata-only: the data files are IDENTICAL by path
    assert(after.files.map(_.path).sorted === before.files.map(_.path).sorted,
      "widening must not rewrite any data file")
    assert(after.schema("n").dataType === LongType)
    assert(after.schema("f").dataType === DoubleType)
    // wide-era append: a value beyond Int.MaxValue lands natively
    DeltaLite.append(spark, path,
      Seq((5000000000L, 1.25, "d")).toDF("n", "f", "s").coalesce(1))       // v4
    val rows = DeltaLite.read(spark, path).as[(Long, Double, String)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 100L, 5000000000L))
    assert(rows.map(_._2).toSeq === Seq(1.5, 2.5, 9.5, 1.25))
    // narrow-era stats still prune under the WIDE type: a bound above
    // the first file's max must drop it
    val pruned = DeltaLite.pruneFiles(DeltaLite.snapshot(path),
      Seq(DeltaLite.ColumnBound("n", lower = Some(50L))))
    assert(pruned.size < DeltaLite.snapshot(path).files.size,
      "narrow-era files must still prune on the widened column's stats")
    // time travel BEFORE the widen reads the narrow schema
    assert(DeltaLite.read(spark, path, asOf = Some(1L))
      .schema("n").dataType === IntegerType)
    // a narrow batch still appends (up-cast through enforcement)
    DeltaLite.append(spark, path,
      Seq((7, 3.5f, "e")).toDF("n", "f", "s").coalesce(1))                 // v5
    assert(DeltaLite.read(spark, path).count() === 5)
    // refusals: narrowing, identity/partition/generated/bloom'd columns
    intercept[IllegalArgumentException] {
      DeltaLite.widenColumnType(path, "n", IntegerType)
    }
    val part = Files.createTempDirectory("graft_widen_p").toString
    DeltaLite.create(spark, part,
      Seq((1, "x")).toDF("k", "p"), partitionBy = Seq("p"))
    intercept[IllegalArgumentException] {
      DeltaLite.widenColumnType(part, "p", LongType)
    }
    val bl = Files.createTempDirectory("graft_widen_b").toString
    DeltaLite.create(spark, bl, Seq((1, "x")).toDF("k", "s"),
      properties = Map("graft.bloom.columns" -> "k"))
    intercept[IllegalArgumentException] {
      DeltaLite.widenColumnType(bl, "k", LongType)
    }
    // SQL spelling (commands run eagerly at sql()): string->string is
    // refused — the DeltaLite error, not a parse error, proves the
    // statement routed through the graft parser
    val err = intercept[Exception] {
      spark.sql(s"ALTER '$path' ALTER COLUMN s TYPE string")
    }
    assert(err.getMessage.contains("unsupported type change"))
  }

  test("protocol table features: foreign reader feature refuses reads; writer feature refuses commits") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_proto").toString
    DeltaLite.create(spark, path, Seq((1L, "a"), (2L, "gone")).toDF("k", "s"))
    // auto-registration: the first REAL DV requires the reader feature
    DeltaLite.deleteVectorized(spark, path, col("k") === 2L)
    assert(DeltaLite.snapshot(path).properties
      .getOrElse(DeltaLite.ProtocolReaderKey, "").contains("deletionVectors"))
    // a feature this engine implements can be required explicitly
    DeltaLite.enableTableFeature(path, "columnMapping", reader = true)
    assert(DeltaLite.read(spark, path).count() === 1)
    // a feature we DON'T implement cannot be enabled (the table would
    // refuse itself)
    intercept[IllegalArgumentException] {
      DeltaLite.enableTableFeature(path, "futureMagic")
    }
    // our own writer refuses to REQUIRE a foreign writer feature too —
    // the property channel is still a commit, and commits are gated
    intercept[UnsupportedOperationException] {
      DeltaLite.setProperties(path,
        Map(DeltaLite.ProtocolWriterKey -> "deletionVectors,futureWriteMagic"))
    }
    // a FOREIGN log (another implementation's commit) is emulated by
    // crafting the commit file directly: header + metaData re-stated
    // with the feature merged into properties
    def foreignCommit(tbl: String, v: Long, key: String, feature: String): Unit = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val log = Paths.get(tbl).resolve("_graft_log")
      val metaLine = Files.readAllLines(log.resolve(s"${v - 1}.json")).asScala
        .find(_.contains("\"metaData\"")).get
      val merged = JsonMethods.parse(metaLine) merge
        JObject("metaData" -> JObject("properties" ->
          JObject(key -> JString(feature))))
      Files.write(log.resolve(s"$v.json"), java.util.List.of(
        """{"commit":{"op":"FOREIGN","committedAtMs":0}}""",
        JsonMethods.compact(merged)))
      DeltaLite.clearSnapshotCache()
    }
    // foreign WRITER feature: reads stay fine, commits refuse
    val pathW = Files.createTempDirectory("graft_protoW").toString
    DeltaLite.create(spark, pathW, Seq((1L, "a")).toDF("k", "s"))
    foreignCommit(pathW, 1L, DeltaLite.ProtocolWriterKey, "futureWriteMagic")
    assert(DeltaLite.read(spark, pathW).count() === 1, "reads must survive")
    val e1 = intercept[UnsupportedOperationException] {
      DeltaLite.append(spark, pathW, Seq((2L, "b")).toDF("k", "s"))
    }
    assert(e1.getMessage.contains("futureWriteMagic"))
    // foreign READER feature: even snapshot resolution refuses loudly
    val path2 = Files.createTempDirectory("graft_proto2").toString
    DeltaLite.create(spark, path2, Seq((1L, "a")).toDF("k", "s"))
    foreignCommit(path2, 1L, DeltaLite.ProtocolReaderKey, "v9Checkpoint")
    val e2 = intercept[UnsupportedOperationException] {
      DeltaLite.read(spark, path2)
    }
    assert(e2.getMessage.contains("v9Checkpoint"))
    // time travel BEFORE the foreign feature still reads (the gate is
    // per-resolved-snapshot, exactly Delta's semantics)
    assert(DeltaLite.read(spark, path2, asOf = Some(0L)).count() === 1)
  }

  test("type widening races concurrent appends: all commits land, widened schema wins") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = Files.createTempDirectory("graft_widen_race").toString
    DeltaLite.create(spark, path, Seq((0, "seed")).toDF("n", "s").coalesce(1))
    // 4 appender threads × 5 batches race one widening thread; appends
    // auto-retry on conflicts (re-resolving the schema each attempt, so
    // post-widen retries re-state the WIDE schema), the widen retries
    // its exclusive commit until it claims a version
    val appenders = (1 to 4).map { t =>
      Future {
        (0 until 5).foreach { i =>
          DeltaLite.append(spark, path,
            Seq((t * 100 + i, s"b$t-$i")).toDF("n", "s").coalesce(1))
        }
      }
    }
    val widener = Future {
      var done = false
      while (!done) {
        try { DeltaLite.widenColumnType(path, "n", LongType); done = true }
        catch { case _: java.util.ConcurrentModificationException => () }
      }
    }
    Await.result(Future.sequence(appenders :+ widener), 120.seconds)
    val snap = DeltaLite.snapshot(path)
    assert(snap.schema("n").dataType === LongType,
      "the widen must survive the append storm")
    val rows = DeltaLite.read(spark, path).as[(Long, String)].collect()
    assert(rows.length === 21, s"all 21 rows must land, got ${rows.length}")
    assert(rows.map(_._1).toSet.size === 21, "no duplicated appends")
    // wide values append fine after the dust settles
    DeltaLite.append(spark, path,
      Seq((7000000000L, "wide")).toDF("n", "s").coalesce(1))
    assert(DeltaLite.read(spark, path).count() === 22)
  }

  test("protocol features survive checkpoint replay and RESTORE") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_proto_ckpt").toString
    DeltaLite.create(spark, path, Seq((1L, "a")).toDF("k", "s"))
    DeltaLite.enableTableFeature(path, "columnMapping", reader = true)   // v1
    val vFeature = DeltaLite.latestVersion(path).get
    // cross a checkpoint boundary (interval = 10) so the next replay
    // resolves from the checkpoint, not the original commits
    (0 until 12).foreach { i =>
      DeltaLite.append(spark, path, Seq((10L + i, s"b$i")).toDF("k", "s"))
    }
    DeltaLite.clearSnapshotCache()
    val snap = DeltaLite.snapshot(path)
    assert(DeltaLite.featurePresent(snap.properties, reader = true,
      "columnMapping"), "reader feature must survive checkpoint replay")
    // RESTORE to BEFORE the feature rolls the requirement back with the
    // metadata (protocol rides properties; Delta proper never downgrades
    // — ours documents the divergence by construction of the channel)
    DeltaLite.restore(spark, path, vFeature - 1)
    assert(!DeltaLite.featurePresent(DeltaLite.snapshot(path).properties,
      reader = true, "columnMapping"))
  }

  test("incremental clustering: only post-cluster files rewrite; pruning tightens") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_liquid").toString
    // 2-D keyed rows scattered across 4 unclustered files
    val rows1 = (0 until 800).map(i => (i.toLong % 40, (i / 40).toLong, i))
    DeltaLite.create(spark, path, rows1.toDF("x", "y", "v").repartition(4),
      properties = Map("graft.clusterBy" -> "x,y"))
    val v1 = DeltaLite.clusterIncremental(spark, path, Seq("x", "y"))
    val clustered1 = DeltaLite.snapshot(path).files.map(_.path).toSet
    // append a second wave; the next pass must touch ONLY those files
    val rows2 = (800 until 1200).map(i => (i.toLong % 40, (i / 40).toLong, i))
    DeltaLite.append(spark, path, rows2.toDF("x", "y", "v").repartition(3))
    val v2 = DeltaLite.clusterIncremental(spark, path, Seq("x", "y"))
    assert(v2 === v1 + 2)
    val after = DeltaLite.snapshot(path).files.map(_.path).toSet
    assert(clustered1.subsetOf(after),
      "files clustered by pass 1 must keep their identities through pass 2")
    // logical content is untouched by both passes
    assert(DeltaLite.read(spark, path).as[(Long, Long, Int)].collect().toSet
      === (rows1 ++ rows2).map(t => (t._1, t._2, t._3)).toSet)
    // a 2-D box bound prunes: Morton order means a tight (x, y) box
    // can't need every file
    val snap = DeltaLite.snapshot(path)
    val pruned = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("x", Some(0L), Some(4L)),
        DeltaLite.ColumnBound("y", Some(0L), Some(4L))))
    assert(pruned.size < snap.files.size,
      "a tight 2-D box must skip at least one clustered file")
    // nothing new since pass 2 → a third pass is a NO-OP (same version)
    assert(DeltaLite.clusterIncremental(spark, path, Seq("x", "y")) === v2)
    // plain OPTIMIZE on a clustered table routes to incremental
    // clustering, not compaction: appended sliver gets clustered
    DeltaLite.append(spark, path, Seq((1L, 1L, 9999)).toDF("x", "y", "v"))
    val v3 = spark.sql(s"OPTIMIZE '$path'").collect().head.getLong(0)
    assert(v3 === v2 + 2)
    assert(DeltaLite.read(spark, path).count() === 1201)
  }

  test("partition-scoped OPTIMIZE: string bounds parse; unresolvable bounds fail loudly") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_partopt3").toString
    def batch(part: Long, lo: Long, n: Long) =
      (lo until lo + n).map(i => (i, part, i * 1.0)).toDF("k", "part", "v")
        .coalesce(1)
    DeltaLite.create(spark, path, batch(0L, 0, 10), partitionBy = Seq("part"))
    (0 until 3).foreach(b => DeltaLite.append(spark, path, batch(1L, 100 + b * 10, 10)))
    val before = DeltaLite.snapshot(path)
    val p0Before = before.files.filter(_.pv("part") == "0").map(_.path).toSet
    // the SQL path hands a STRING bound for the long partition column —
    // it must parse and scope correctly
    DeltaLite.compactPartition(spark, path,
      Seq(DeltaLite.ColumnBound("part", Some("1"), Some("1"))))
    val after = DeltaLite.snapshot(path)
    assert(after.files.count(_.pv("part") == "1") === 1)
    assert(after.files.filter(_.pv("part") == "0").map(_.path).toSet === p0Before)
    // an unresolvable bound must FAIL, never silently rewrite the table
    val filesBefore = DeltaLite.snapshot(path).files.map(_.path).toSet
    intercept[IllegalArgumentException] {
      DeltaLite.compactPartition(spark, path,
        Seq(DeltaLite.ColumnBound("part", Some("oops"), Some("oops"))))
    }
    intercept[IllegalArgumentException] {
      DeltaLite.clusterZPartition(spark, path,
        Seq(DeltaLite.ColumnBound("part", Some("oops"), Some("oops"))),
        "k", "k", 1)
    }
    assert(DeltaLite.snapshot(path).files.map(_.path).toSet === filesBefore,
      "a failed partition-scoped OPTIMIZE must leave every file identity intact")
  }

  test("generated date_format pruning is width-safe: far-future years are never wrongly pruned") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_genwidth").toString
    val normal = (0L until 20L).map(i =>
        (i, java.sql.Timestamp.valueOf(f"1997-0${(i % 2) + 1}%d-05 10:00:00"), i * 1.0))
      .toDF("k", "ts", "v").coalesce(1)
    DeltaLite.create(spark, path, normal, partitionBy = Seq("ym"),
      generated = Map("ym" -> "date_format(ts, 'yyyy-MM')"))
    // a year-10000 row: date_format emits a NON-4-digit year whose string
    // sorts LOW ("+10000-01" / "10000-01" < "1997-01" lexically)
    DeltaLite.append(spark, path,
      Seq((999L, 5.0)).toDF("k", "v")
        .withColumn("ts", expr("make_timestamp(10000, 1, 1, 0, 0, 0)"))
        .select($"k", $"ts", $"v").coalesce(1))
    // bound ts >= 2200: the 1997 partitions are legitimately pruned
    // (equal-width exact stat), but the year-10000 partition MUST survive
    // even though its formatted value sorts below the derived bound
    val lo = java.sql.Timestamp.valueOf("2200-01-01 00:00:00")
    val scanned = DeltaLite.scan(spark, path,
      Seq(DeltaLite.ColumnBound("ts", Some(lo), None)))
    val ks = scanned.select($"k").as[Long].collect().toSet
    assert(ks === Set(999L),
      s"expected only the far-future row to survive pruning, got $ks")
  }

  test("inventory-based VACUUM: anti-join candidates, inventory-scoped, traversal-safe") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_vacinv").toString
    DeltaLite.create(spark, path,
      (0L until 20L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(4))
    // create orphans: overwrite-style delete+insert rewrites touched files
    DeltaLite.delete(spark, path, $"k" < 10L)
    DeltaLite.append(spark, path,
      (100L until 110L).map(i => (i, 0.0)).toDF("k", "v").repartition(2))
    val r = java.nio.file.Paths.get(path).toAbsolutePath.normalize()
    def listing(): Set[String] = {
      val w = Files.walk(r)
      try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => r.relativize(p).toString).toSet
      finally w.close()
    }
    // the storage-inventory report = the full listing, as a DataFrame
    val fullInv = listing().toSeq.toDF("path")
    val expected = DeltaLite.vacuum(path, keepVersions = 1, dryRun = true)
    val viaInv = DeltaLite.vacuumInventory(spark, path, fullInv,
      keepVersions = 1, dryRun = true)
    assert(viaInv === expected.toLong,
      "inventory anti-join must find exactly the walk-based victim set")
    assert(viaInv > 0, "the rewrite must have produced orphans")
    // inventory-SCOPED: holding one orphan out of the inventory keeps it
    val orphans = {
      val live = DeltaLite.snapshot(path).files.map(_.path).toSet
      listing().filterNot(live.contains).filterNot(_.startsWith("_graft_log/"))
    }
    val heldOut = orphans.head
    val partialInv = listing().filterNot(_ == heldOut).toSeq.toDF("path")
      // hostile rows must be ignored, not resolved
      .union(Seq("../outside.parquet", "/etc/passwd.parquet").toDF("path"))
    val deleted = DeltaLite.vacuumInventory(spark, path, partialInv,
      keepVersions = 1)
    assert(deleted === viaInv - 1)
    assert(Files.exists(r.resolve(heldOut)),
      "a file absent from the inventory must survive the pass")
    // referenced data is intact; the held-out orphan goes next pass —
    // driven through the SQL spelling this time
    assert(DeltaLite.read(spark, path).count() === 20)
    listing().toSeq.toDF("path").createOrReplaceTempView("storage_inventory")
    val viaSql = spark.sql(
      s"VACUUM '$path' USING INVENTORY (SELECT path FROM storage_inventory) " +
        "RETAIN 1 VERSIONS")
      .collect()(0).getLong(0)
    assert(viaSql === 1L)
    assert(DeltaLite.read(spark, path).count() === 20)
  }

  test("v2 checkpoints: sidecar manifest replay + incremental sidecar reuse") {
    // the table declares the v2Checkpoint reader feature, so every cold
    // replay below also passes the reader-feature gate
    val path = synthTable(10000, upTo = 9)
    DeltaLite.enableTableFeature(path, "v2Checkpoint", reader = true)   // v10
    val ld = java.nio.file.Paths.get(path, "_graft_log")
    assert(Files.exists(ld.resolve("checkpoint-10.v2.json")),
      "a 10,000-file table must write a manifest, not a classic checkpoint")
    assert(!Files.exists(ld.resolve("checkpoint-10.json")))
    val s10 = sidecarsOf(path, 10)
    assert(s10.nonEmpty && s10.forall(_.startsWith("_sidecars/")))
    assert(s10.forall(f => Files.exists(ld.resolve(f))))
    // cache-cleared resolution through the manifest equals the live state
    val before = DeltaLite.snapshot(path).files
      .map(f => (f.path, f.rows, f.bytes, f.baseRowId)).toSet
    DeltaLite.clearSnapshotCache()
    assert(DeltaLite.snapshot(path).files
      .map(f => (f.path, f.rows, f.bytes, f.baseRowId)).toSet === before)
    // 9 metadata-only commits + ONE single-file append → checkpoint 20
    // touches exactly one bucket; every other sidecar must be REUSED
    (1 to 9).foreach(i =>
      DeltaLite.setProperties(path, Map(s"audit.k$i" -> i.toString)))
    DeltaLite.commit(path, DeltaLite.snapshot(path), "APPEND",
      adds = Seq(synthAdd(20L, 0)))
    assert(DeltaLite.latestVersion(path).get === 20)
    val s20 = sidecarsOf(path, 20)
    assert((s20.toSet -- s10.toSet).size === 1,
      s"one appended file rewrites exactly its own bucket; " +
        s"got new sidecars ${(s20.toSet -- s10.toSet)}")
    assert((s10.toSet intersect s20.toSet).size === 15,
      "unchanged buckets must reuse their sidecar files by reference")
    // hard replay proof: with commits 0..19 gone, only the manifest +
    // sidecars can resolve the table
    val at20 = DeltaLite.snapshot(path)
    (0L until 20L).foreach(v => Files.deleteIfExists(ld.resolve(s"$v.json")))
    DeltaLite.clearSnapshotCache()
    val cold = DeltaLite.snapshot(path)
    assert(cold.files.toSet === at20.files.toSet && cold.files.size === 10001)
    assert(cold.properties.get("audit.k9") === Some("9"))
    assert(DeltaLite.featurePresent(cold.properties, reader = true,
      "v2Checkpoint"))
  }

  test("sidecar reuse re-encodes every bucket after a schema change") {
    // dropping k drops its stats from every encoded add: no bucket's old
    // sidecar matches what the writer would write now, though only one
    // bucket's files changed
    val path = synthTable(10000)
    val ld = Paths.get(path, "_graft_log")
    val s10 = sidecarsOf(path, 10)
    DeltaLite.dropColumn(path, "k")                                     // v11
    (12 to 19).foreach(i =>
      DeltaLite.setProperties(path, Map(s"audit.k$i" -> i.toString)))
    DeltaLite.commit(path, DeltaLite.snapshot(path), "APPEND",
      adds = Seq(synthAdd(20L, 0)))                                     // v20
    val s20 = sidecarsOf(path, 20)
    assert(s20.size === 16 && (s20.toSet intersect s10.toSet).isEmpty,
      "a schema change re-encodes every bucket; none may reuse its sidecar")
    // the rewritten sidecars resolve the live file set (stats of the
    // dropped column are not re-encoded, so compare paths)
    val live = DeltaLite.snapshot(path)
    DeltaLite.clearSnapshotCache()
    val cold = DeltaLite.snapshot(path)
    assert(cold.files.map(_.path).toSet === live.files.map(_.path).toSet &&
      cold.files.size === 10001 && !cold.schema.fieldNames.contains("k"))
    assert(Files.list(ld.resolve("_sidecars")).iterator().asScala.size === 32)
  }

  test("a checkpoint that fails to write never fails its committed version") {
    val path = synthTable(10000, upTo = 9)
    val ld = Paths.get(path, "_graft_log")
    // a plain file where the sidecar directory goes: the manifest write fails
    Files.write(ld.resolve("_sidecars"), Array[Byte](1))
    assert(DeltaLite.setProperties(path, Map("pad.k10" -> "10")) === 10L)
    assert(DeltaLite.latestVersion(path) === Some(10L))
    assert(!Files.exists(ld.resolve("checkpoint-10.v2.json")) &&
      !Files.exists(ld.resolve("checkpoint-10.json")))
    DeltaLite.clearSnapshotCache()
    val snap = DeltaLite.snapshot(path)
    assert(snap.version === 10 && snap.files.size === 10000)
  }

  test("cleanupLogs prunes pre-anchor history; retained range stays resolvable") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_logclean").toString
    DeltaLite.create(spark, path,
      Seq((0L, "a")).toDF("k", "s").coalesce(1))                        // v0
    (1 to 25).foreach(i =>
      DeltaLite.append(spark, path,
        Seq((i.toLong, s"s$i")).toDF("k", "s").coalesce(1)))            // v1..v25
    val ld = Paths.get(path, "_graft_log")
    assert(Files.exists(ld.resolve("checkpoint-20.json")) ||
      Files.exists(ld.resolve("checkpoint-20.v2.json")) ||
      Files.exists(ld.resolve("checkpoint-20.parquet")),
      "expected a checkpoint at v20 (every 10 commits)")

    // retain 5 → earliest retained v21; anchor = checkpoint 20; commits
    // 0..19 and checkpoint-10 are victims, checkpoint-20 survives
    val dry = DeltaLite.cleanupLogs(path, keepVersions = 5, dryRun = true)
    assert(dry === 21, s"dry run must count 20 commits + checkpoint-10, got $dry")
    assert(Files.exists(ld.resolve("0.json")), "dry run deletes nothing")
    val deleted = DeltaLite.cleanupLogs(path, keepVersions = 5)
    assert(deleted === 21)
    assert(!Files.exists(ld.resolve("0.json")))
    assert(!Files.exists(ld.resolve("19.json")))
    assert(Files.exists(ld.resolve("20.json")), "anchor version's commit survives")
    assert(!Files.exists(ld.resolve("checkpoint-10.json")))
    assert(DeltaLite.earliestVersion(path) === Some(20L))

    // retained range fully resolvable from the anchor checkpoint
    DeltaLite.clearSnapshotCache()
    assert(DeltaLite.read(spark, path).count() === 26L)
    assert(DeltaLite.read(spark, path, Some(21L)).count() === 22L)
    // history reports only the retained range, newest first
    val hist = DeltaLite.history(spark, path).select("version")
      .as[Long].collect().toSeq
    assert(hist === (20L to 25L).reverse)
    // pruned version fails LOUDLY with the cleanup message
    val e = intercept[IllegalArgumentException](DeltaLite.snapshot(path, Some(5L)))
    assert(e.getMessage.contains("pruned by log retention cleanup"))
    // post-cleanup commits + further cleanup stay healthy
    DeltaLite.append(spark, path, Seq((99L, "z")).toDF("k", "s").coalesce(1)) // v26
    assert(DeltaLite.read(spark, path).count() === 27L)
    // keep=30 covers everything retained → nothing more to delete
    assert(DeltaLite.cleanupLogs(path, keepVersions = 30) === 0)
    // SQL spelling end-to-end (dry run keeps state)
    val n = spark.sql(s"VACUUM '$path' LOGS RETAIN 5 VERSIONS DRY RUN")
      .collect()(0).getInt(0)
    assert(n === 0, "anchor is already the newest checkpoint ≤ earliest retained")
  }

  /** In-memory conditional-PUT mock of [[DeltaLite.CommitClaimStore]]:
    * the claim races on a memory CAS (`If-None-Match: *` against the
    * store's state — disk presence plus a claimed-key set) and the PUT
    * itself is ONE plain CREATE_NEW write — no temp file, no link(2) —
    * exactly the object-store shape (S3 conditional PUT / GCS
    * generation-match 0 / Azure ETag). Running the whole engine through
    * it proves the port story is "implement one trait". */
  private object MemoryConditionalPutStore
      extends DeltaLite.CommitClaimStore {
    private val claimed =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    override def claim(target: java.nio.file.Path,
        content: Array[Byte]): Unit = {
      val key = target.toAbsolutePath.toString
      if (Files.exists(target) || !claimed.add(key))
        throw new java.nio.file.FileAlreadyExistsException(key)
      try Files.write(target, content,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      catch { case e: Throwable => claimed.remove(key); throw e }
    }
    override def readImmutable(target: java.nio.file.Path): Seq[String] =
      Files.readAllLines(target).asScala.toSeq
    override def listLog(dir: java.nio.file.Path): Seq[String] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val st = Files.list(dir)
        try st.iterator().asScala.map(_.getFileName.toString).toList
        finally st.close()
      }
  }

  test("commit claim contract (POSIX link store): one winner per version, immutable won commits, no temp litter") {
    claimContract()
  }

  test("commit claim contract (in-memory conditional-PUT store): OCC, rebase and replay pass against the mock") {
    import spark.implicits._
    DeltaLite.withClaimStore(MemoryConditionalPutStore) {
      // the full contract scenario (OCC race + rebase + immutability)
      // against the mock store
      claimContract()
      // and the replay surface: cold full replay + time travel read the
      // mock-claimed commits back
      val path = Files.createTempDirectory("graft_claim_mock").toString
      DeltaLite.create(spark, path, Seq((1L, "a")).toDF("k", "s").coalesce(1))
      DeltaLite.append(spark, path, Seq((2L, "b")).toDF("k", "s").coalesce(1))
      DeltaLite.delete(spark, path, col("k") === 1L)
      DeltaLite.clearSnapshotCache() // force a cold from-zero replay
      assert(DeltaLite.read(spark, path).select("k").as[Long]
        .collect().toSeq === Seq(2L))
      assert(DeltaLite.read(spark, path, asOf = Some(1L)).orderBy("k")
        .select("k").as[Long].collect().toSeq === Seq(1L, 2L),
        "time travel must replay mock-claimed history")
    }
  }

  test("commit claim contract (HTTP conditional-PUT object store): the wire backend passes OCC, replay, checkpointed cold start, and retention cleanup") {
    import spark.implicits._
    val srv = new TestObjectStore.Server()
    try {
      val http = new graft.sources.HttpObjectStoreClaimStore(
        srv.endpoint, "graft-logs")
      DeltaLite.withClaimStore(http) {
        // the full contract scenario over the wire — every commit claim
        // is a real conditional PUT; commit bytes live ONLY in the
        // object store (nothing under _graft_log on disk)
        claimContract(http)
        val path = Files.createTempDirectory("graft_claim_http").toString
        DeltaLite.create(spark, path,
          Seq((1L, "a")).toDF("k", "s").coalesce(1))
        DeltaLite.append(spark, path,
          Seq((2L, "b")).toDF("k", "s").coalesce(1))
        DeltaLite.delete(spark, path, col("k") === 1L)
        assert(!Files.exists(Paths.get(path, "_graft_log", "0.json")),
          "commit artifacts must live in the object store, not on disk")
        DeltaLite.clearSnapshotCache()
        assert(DeltaLite.read(spark, path).select("k").as[Long]
          .collect().toSeq === Seq(2L))
        assert(DeltaLite.read(spark, path, asOf = Some(1L)).orderBy("k")
          .select("k").as[Long].collect().toSeq === Seq(1L, 2L),
          "time travel must replay HTTP-claimed history")
        // drive past the checkpoint cadence: the JSON checkpoint is
        // claimed into the store, a cold replay starts from it, and
        // cleanupLogs prunes pre-anchor commits with HTTP DELETEs
        (3L to 11L).foreach(k => DeltaLite.append(spark, path,
          Seq((k, s"s$k")).toDF("k", "s").coalesce(1)))
        val log = Paths.get(path, "_graft_log")
        assert(http.listLog(log).exists(_.startsWith("checkpoint-")),
          s"cadence checkpoint must land in the store: ${http.listLog(log)}")
        DeltaLite.clearSnapshotCache()
        assert(DeltaLite.read(spark, path).count() === 10L)
        val pruned = DeltaLite.cleanupLogs(path, keepVersions = 2)
        assert(pruned > 0, "retention cleanup must prune over HTTP")
        assert(!http.exists(log.resolve("0.json")),
          "pruned commits must be deleted from the object store")
        DeltaLite.clearSnapshotCache()
        assert(DeltaLite.read(spark, path).count() === 10L,
          "post-cleanup replay must reconstruct from the checkpoint")
      }
    } finally srv.stop()
  }

  test("flaky weather over the HTTP object store: ambiguity, stale lists, and transient reads recover identically on the wire backend") {
    val srv = new TestObjectStore.Server()
    try {
      flakyScenario(new FlakyClaimStore(
        new graft.sources.HttpObjectStoreClaimStore(
          srv.endpoint, "graft-logs")))
    } finally srv.stop()
  }

  private def claimContract(
      store: DeltaLite.CommitClaimStore = DeltaLite.PosixCommitClaimStore)
      : Unit = {
    // The three properties every object-store port of the claim
    // primitive must preserve (the [[DeltaLite.CommitClaimStore]]
    // contract): (1) exactly one winner per version, (2) a won
    // N.json is immutable, (3) a failed claim leaves nothing behind.
    import spark.implicits._
    val path = Files.createTempDirectory("graft_claim").toString
    DeltaLite.create(spark, path, Seq((1L, "a")).toDF("k", "s").coalesce(1)) // v0
    DeltaLite.append(spark, path, Seq((2L, "b")).toDF("k", "s").coalesce(1)) // v1
    val log = java.nio.file.Paths.get(path, "_graft_log")
    // log artifacts are read back THROUGH the store under test — a pure
    // remote store holds the only copy (nothing need exist on disk)
    def bytes(v: Long): Seq[String] =
      store.readImmutable(log.resolve(s"$v.json"))
    // a winner takes v2 inside the loser's snapshot→commit window; the
    // losing OPTIMIZE's claim on v2 FAILS and it rebases to v3
    var v2AtWin: Seq[String] = null
    DeltaLite.testHookBeforeCommit = () => {
      DeltaLite.testHookBeforeCommit = () => ()
      DeltaLite.append(spark, path, Seq((3L, "c")).toDF("k", "s").coalesce(1))
      v2AtWin = bytes(2L)
    }
    try {
      assert(DeltaLite.compactSmall(spark, path, minRows = 100) === 3L)
    } finally DeltaLite.testHookBeforeCommit = () => ()
    // (2) the winner's commit file survives the losing claim byte-for-byte
    assert(bytes(2L) === v2AtWin,
      "a won commit must never be replaced by a losing claim")
    // (1) exactly one commit file per version, contiguous 0..3
    val commits = store.listLog(log)
      .filter(_.matches("""\d+\.json""")).sorted
    assert(commits === Seq("0.json", "1.json", "2.json", "3.json"))
    // (3) no temp/partial claim state litters the log
    val litter = store.listLog(log).filter(_.endsWith(".tmp"))
    assert(litter.isEmpty, s"failed claims must clean up, found $litter")
    // a stale direct claim at an already-won version fails LOUDLY and
    // leaves the won file untouched
    val tip = DeltaLite.snapshot(path)
    val tipBytes = bytes(tip.version)
    val e = intercept[java.util.ConcurrentModificationException] {
      DeltaLite.commit(path, DeltaLite.snapshot(path, Some(tip.version - 1)),
        "TEST_CLAIM")
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(bytes(tip.version) === tipBytes)
    // all four effects are readable: both appends + the base row survive
    assert(DeltaLite.read(spark, path).orderBy("k").select("k")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
  }

  /** Failure-injecting wrapper over a real claim store — the object-
    * store weather the recovery contract on [[DeltaLite.CommitClaimStore]]
    * exists for: claims whose outcome is unknown (landed or dropped),
    * eventually-consistent listings that omit the newest commit, and
    * transient read errors. Budgets are consumed one call at a time. */
  private final class FlakyClaimStore(delegate: DeltaLite.CommitClaimStore)
      extends DeltaLite.CommitClaimStore {
    var ambiguousLanded = 0 // claim applies, then the response "drops"
    var ambiguousDropped = 0 // claim does NOT apply, response "drops"
    var staleLists = 0 // listLog omits the newest commit
    var failedReads = 0 // readImmutable throws transiently
    var claimCalls = 0
    /** Race-injection hook: runs BEFORE the delegate claim — lets a
      * test land a foreign commit between a writer's replay and its
      * claim (the window a wall-clock race needs luck to hit). */
    var beforeClaim: java.nio.file.Path => Unit = _ => ()
    override def claim(target: java.nio.file.Path,
        content: Array[Byte]): Unit = {
      claimCalls += 1
      beforeClaim(target)
      if (ambiguousLanded > 0) {
        ambiguousLanded -= 1
        delegate.claim(target, content)
        throw new DeltaLite.AmbiguousClaimException(target)
      }
      if (ambiguousDropped > 0) {
        ambiguousDropped -= 1
        throw new DeltaLite.AmbiguousClaimException(target)
      }
      delegate.claim(target, content)
    }
    override def readImmutable(target: java.nio.file.Path): Seq[String] = {
      if (failedReads > 0) {
        failedReads -= 1
        throw new java.io.IOException("injected transient read failure")
      }
      delegate.readImmutable(target)
    }
    override def exists(target: java.nio.file.Path): Boolean =
      delegate.exists(target)
    override def deleteLog(target: java.nio.file.Path): Unit =
      delegate.deleteLog(target)
    override def listLog(dir: java.nio.file.Path): Seq[String] = {
      val l = delegate.listLog(dir)
      if (staleLists > 0) {
        staleLists -= 1
        val commits = l.filter(_.matches("""\d+\.json"""))
          .map(_.stripSuffix(".json").toLong)
        if (commits.isEmpty) l else l.filterNot(_ == s"${commits.max}.json")
      } else l
    }
  }

  test("flaky CHECKPOINT writes: ambiguous or dropped checkpoint claims never break the commit, replay, or a later checkpoint") {
    import spark.implicits._
    // injection targeted at checkpoint-*.json claims ONLY — commits
    // stay healthy, so this isolates the best-effort contract the
    // checkpoint path declares (a lost checkpoint costs replay time,
    // never correctness)
    val store = new DeltaLite.CommitClaimStore {
      private val delegate = DeltaLite.PosixCommitClaimStore
      @volatile var mode: String = "off" // ambiguousDropped | ambiguousLanded
      @volatile var hits = 0
      override def claim(target: java.nio.file.Path,
          content: Array[Byte]): Unit =
        if (target.getFileName.toString.startsWith("checkpoint-") &&
            mode != "off") {
          hits += 1
          mode match {
            case "ambiguousLanded" =>
              delegate.claim(target, content)
              throw new DeltaLite.AmbiguousClaimException(target)
            case _ =>
              throw new DeltaLite.AmbiguousClaimException(target)
          }
        } else delegate.claim(target, content)
      override def readImmutable(target: java.nio.file.Path): Seq[String] =
        delegate.readImmutable(target)
      override def listLog(dir: java.nio.file.Path): Seq[String] =
        delegate.listLog(dir)
    }
    DeltaLite.withClaimStore(store) {
      val path = Files.createTempDirectory("graft_ckpt_flaky").toString
      DeltaLite.create(spark, path,
        Seq((0L, "a")).toDF("k", "s").coalesce(1))                    // v0
      // the v10 checkpoint claim DROPS ambiguously: the commit must
      // land anyway, no checkpoint file, and replay walks the commits
      store.mode = "ambiguousDropped"
      (1 to 10).foreach(i => DeltaLite.append(spark, path,
        Seq((i.toLong, "a")).toDF("k", "s").coalesce(1)))
      assert(store.hits === 1, "exactly the v10 checkpoint claim injects")
      assert(DeltaLite.latestVersion(path) === Some(10L),
        "a failed best-effort checkpoint must not fail its commit")
      assert(!Files.exists(java.nio.file.Paths.get(path)
          .resolve("_graft_log").resolve("checkpoint-10.json")),
        "the dropped claim must leave no checkpoint")
      DeltaLite.clearSnapshotCache()
      assert(DeltaLite.read(spark, path).count() === 11L,
        "cold replay without the checkpoint stays exact")
      // the v20 checkpoint claim LANDS but the response drops: the
      // file is valid (claims are atomic), cold replay may use it
      store.mode = "ambiguousLanded"
      (11 to 20).foreach(i => DeltaLite.append(spark, path,
        Seq((i.toLong, "a")).toDF("k", "s").coalesce(1)))
      assert(store.hits === 2)
      assert(Files.exists(java.nio.file.Paths.get(path)
          .resolve("_graft_log").resolve("checkpoint-20.json")),
        "an ambiguous-but-landed checkpoint claim leaves the valid file")
      DeltaLite.clearSnapshotCache()
      assert(DeltaLite.read(spark, path).count() === 21L,
        "cold replay THROUGH the ambiguously-landed checkpoint is exact")
      // a later healthy checkpoint still writes (no poisoned state)
      store.mode = "off"
      (21 to 30).foreach(i => DeltaLite.append(spark, path,
        Seq((i.toLong, "a")).toDF("k", "s").coalesce(1)))
      assert(Files.exists(java.nio.file.Paths.get(path)
        .resolve("_graft_log").resolve("checkpoint-30.json")))
      DeltaLite.clearSnapshotCache()
      assert(DeltaLite.read(spark, path).count() === 31L)
    }
  }

  test("flaky claim store: ambiguous claims, stale listings, transient reads — one winner, no double-apply, no fork") {
    flakyScenario(new FlakyClaimStore(DeltaLite.PosixCommitClaimStore))
  }

  test("flaky claim store over the standard-Delta EXPORT path: ambiguity resolves, lost races rebase, foreign commits survive, no double-apply") {
    import spark.implicits._
    import graft.sources.DeltaInterop
    val flaky = new FlakyClaimStore(DeltaLite.PosixCommitClaimStore)
    DeltaLite.withClaimStore(flaky) {
      val path = Files.createTempDirectory("graft_export_occ").toString
      DeltaInterop.exportToDelta(spark,
        Seq((1L, "a")).toDF("k", "s").coalesce(1), path)            // v0
      // (a) ambiguous but LANDED: read-back compare reports success —
      // exactly one commit, no duplicate rows
      flaky.ambiguousLanded = 1
      DeltaInterop.exportAppend(spark,
        Seq((2L, "b")).toDF("k", "s").coalesce(1), path)            // v1
      assert(DeltaInterop.latestVersion(path) === Some(1L))
      assert(DeltaInterop.read(spark, path).count() === 2L)
      // (b) ambiguous and DROPPED: the claim retries and lands once
      flaky.ambiguousDropped = 1
      val calls = flaky.claimCalls
      DeltaInterop.exportAppend(spark,
        Seq((3L, "c")).toDF("k", "s").coalesce(1), path)            // v2
      assert(flaky.claimCalls - calls >= 2, "a dropped claim must retry")
      assert(DeltaInterop.read(spark, path).count() === 3L)
      // (c) a REAL RACE: a foreign writer (the reference stack) claims
      // the next version first — the export must REBASE to the version
      // after, and the foreign commit's bytes survive untouched
      val logDir = Paths.get(path, "_delta_log")
      val foreignTarget = logDir.resolve(f"${3L}%020d.json")
      val foreignLine =
        """{"commitInfo":{"timestamp":1700000000000,"operation":"FOREIGN"}}"""
      DeltaLite.PosixCommitClaimStore.claim(foreignTarget,
        foreignLine.getBytes("UTF-8"))
      DeltaInterop.exportAppend(spark,
        Seq((4L, "d")).toDF("k", "s").coalesce(1), path)            // v4!
      assert(DeltaInterop.latestVersion(path) === Some(4L),
        "the lost claim must rebase to the next version")
      assert(new String(Files.readAllBytes(foreignTarget), "UTF-8").trim
        === foreignLine, "the foreign commit must never be clobbered")
      assert(DeltaInterop.read(spark, path).count() === 4L)
      // (d) the DOUBLE-APPLY trap: ambiguity whose recovery reads also
      // fail — the retried claim hits FileAlreadyExists on the
      // writer's OWN landed commit; verified read-back resolves it as
      // success instead of feeding the rebase loop a duplicate
      flaky.ambiguousLanded = 1
      flaky.failedReads = 3
      DeltaInterop.exportAppend(spark,
        Seq((5L, "e")).toDF("k", "s").coalesce(1), path)            // v5
      assert(DeltaInterop.read(spark, path).count() === 5L,
        "the landed-ambiguous export must not re-apply through a rebase")
      assert(DeltaInterop.latestVersion(path) === Some(5L))
      // (e) overwrite under weather: ambiguity resolves, and the final
      // state is exactly the new batch (every prior file removed)
      flaky.ambiguousLanded = 1
      DeltaInterop.exportOverwrite(spark,
        Seq((9L, "z")).toDF("k", "s").coalesce(1), path)            // v6
      assert(DeltaInterop.read(spark, path).collect()
        .map(_.toString).toSeq === Seq("[9,z]"))
      assert(DeltaInterop.latestVersion(path) === Some(6L))
      // (f) layout race: a foreign commit that CHANGES the table's
      // partitioning (same columns, so the schema gate passes) lands
      // in the window between the export's replay and its claim — the
      // rebased export must DECLINE, because its staged files were
      // laid out under the old partitioning and committing them would
      // attach stale partitionValues (NULL partition columns for
      // foreign readers)
      val foreignRepartition = logDir.resolve(f"${7L}%020d.json")
      flaky.beforeClaim = { t =>
        if (t.getFileName.toString == f"${7L}%020d.json") {
          flaky.beforeClaim = _ => ()
          DeltaLite.PosixCommitClaimStore.claim(foreignRepartition,
            """{"metaData":{"partitionColumns":["s"]}}"""
              .getBytes("UTF-8"))
        }
      }
      val layoutErr = intercept[IllegalArgumentException] {
        DeltaInterop.exportAppend(spark,
          Seq((10L, "y")).toDF("k", "s").coalesce(1), path)
      }
      assert(layoutErr.getMessage.contains("partitioning changed"),
        s"unexpected decline: ${layoutErr.getMessage}")
      assert(DeltaInterop.latestVersion(path) === Some(7L),
        "the declined export must leave the foreign commit standing")
      // (g) DV-delete race, on a FRESH table (the layout race above
      // left `path` with a foreign partitioning): a foreign commit
      // REMOVES the touched file in the replay→claim window — the
      // rebased delete must decline (committing the stale DV flip
      // would resurrect the whole file), never silently re-add a file
      // a concurrent writer deleted
      val path2 = Files.createTempDirectory("graft_export_dv_occ").toString
      DeltaInterop.exportToDelta(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), path2) // v0
      val livePath = DeltaInterop.snapshot(spark, path2).files.head.path
      val log2 = Paths.get(path2, "_delta_log")
      flaky.beforeClaim = { t =>
        if (t.getFileName.toString == f"${1L}%020d.json") {
          flaky.beforeClaim = _ => ()
          DeltaLite.PosixCommitClaimStore.claim(
            log2.resolve(f"${1L}%020d.json"),
            (s"""{"remove":{"path":"$livePath","deletionTimestamp":1700000000002,"dataChange":true}}""")
              .getBytes("UTF-8"))
        }
      }
      val dvRace = intercept[RuntimeException] {
        DeltaInterop.exportDeleteWhere(spark, path2, "k = 1")
      }
      assert(dvRace.getMessage.contains("concurrent"),
        s"unexpected decline: ${dvRace.getMessage}")
      assert(DeltaInterop.latestVersion(path2) === Some(1L),
        "the declined DV delete must leave the foreign remove standing")
      // (h) DV-delete vs concurrent APPEND: the foreign file may hold
      // rows matching the predicate this delete never evaluated —
      // committing over it would be a non-serializable history
      // (delta-spark's ConcurrentAppendException), so it declines
      val path3 = Files.createTempDirectory("graft_export_dv_app").toString
      DeltaInterop.exportToDelta(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), path3) // v0
      val log3 = Paths.get(path3, "_delta_log")
      flaky.beforeClaim = { t =>
        if (t.getFileName.toString == f"${1L}%020d.json") {
          flaky.beforeClaim = _ => ()
          DeltaLite.PosixCommitClaimStore.claim(
            log3.resolve(f"${1L}%020d.json"),
            """{"add":{"path":"dforeign/part-0.parquet","partitionValues":{},"size":9,"modificationTime":1,"dataChange":true}}"""
              .getBytes("UTF-8"))
        }
      }
      val appendRace = intercept[IllegalArgumentException] {
        DeltaInterop.exportDeleteWhere(spark, path3, "k = 2")
      }
      assert(appendRace.getMessage.contains("appended concurrently"),
        s"unexpected decline: ${appendRace.getMessage}")
      assert(DeltaInterop.latestVersion(path3) === Some(1L),
        "the declined DV delete must leave the foreign append standing")
      // (i) UPDATE vs a concurrent foreign DV flip of the touched
      // file: the rebase re-verifies the DV identity and declines —
      // committing the stale union would resurrect the foreign delete
      val path4 = Files.createTempDirectory("graft_export_upd_occ").toString
      DeltaInterop.exportToDelta(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), path4) // v0
      DeltaInterop.exportDeleteWhere(spark, path4, "k = 2")          // v1 (DV)
      val snap4 = DeltaInterop.snapshot(spark, path4)
      val f4 = snap4.files.head
      val log4 = Paths.get(path4, "_delta_log")
      // foreign flip: same path, a DIFFERENT DV identity (the fake
      // u-typed descriptor is never dereferenced — the rebase's
      // identity check declines before any DV read)
      flaky.beforeClaim = { t =>
        if (t.getFileName.toString == f"${2L}%020d.json") {
          flaky.beforeClaim = _ => ()
          val oldDvJson = graft.sources.DeletionVectors.toJson(f4.dv.get)
          DeltaLite.PosixCommitClaimStore.claim(
            log4.resolve(f"${2L}%020d.json"),
            (s"""{"remove":{"path":"${f4.path}","deletionTimestamp":1700000000003,"dataChange":true,"deletionVector":$oldDvJson}}""" + "\n" +
              s"""{"add":{"path":"${f4.path}","partitionValues":{},"size":${f4.bytes},"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"aaaaaaaaaaaaaaaaaaaa","offset":1,"sizeInBytes":8,"cardinality":1}}}""")
              .getBytes("UTF-8"))
        }
      }
      val updRace = intercept[RuntimeException] {
        DeltaInterop.exportUpdateWhere(spark, path4, "k = 1",
          Map("s" -> "'z'"))
      }
      assert(updRace.getMessage.contains("concurrent"),
        s"unexpected decline: ${updRace.getMessage}")
      assert(DeltaInterop.latestVersion(path4) === Some(2L),
        "the declined update must leave the foreign flip standing")
      // (j) MERGE vs a concurrent foreign APPEND: the appended file
      // may hold matching keys the merge never evaluated (it would
      // insert a duplicate instead of updating) — declines
      val path5 = Files.createTempDirectory("graft_export_mrg_occ").toString
      DeltaInterop.exportToDelta(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), path5) // v0
      val log5 = Paths.get(path5, "_delta_log")
      flaky.beforeClaim = { t =>
        if (t.getFileName.toString == f"${1L}%020d.json") {
          flaky.beforeClaim = _ => ()
          DeltaLite.PosixCommitClaimStore.claim(
            log5.resolve(f"${1L}%020d.json"),
            """{"add":{"path":"dforeign/part-0.parquet","partitionValues":{},"size":9,"modificationTime":1,"dataChange":true}}"""
              .getBytes("UTF-8"))
        }
      }
      val mergeRace = intercept[IllegalArgumentException] {
        DeltaInterop.exportMerge(spark, path5,
          Seq((2L, "B"), (3L, "C")).toDF("k", "s"), Seq("k"))
      }
      assert(mergeRace.getMessage.contains("appended concurrently"),
        s"unexpected decline: ${mergeRace.getMessage}")
      assert(DeltaInterop.latestVersion(path5) === Some(1L),
        "the declined merge must leave the foreign append standing")
      // (k) a CLEAN lost race with no semantic conflict: a foreign
      // commitInfo-only commit lands in the window — the update
      // REBASES past it and commits at the next version
      val path6 = Files.createTempDirectory("graft_export_upd_rb").toString
      DeltaInterop.exportToDelta(spark,
        Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1), path6) // v0
      val log6 = Paths.get(path6, "_delta_log")
      flaky.beforeClaim = { t =>
        if (t.getFileName.toString == f"${1L}%020d.json") {
          flaky.beforeClaim = _ => ()
          DeltaLite.PosixCommitClaimStore.claim(
            log6.resolve(f"${1L}%020d.json"),
            """{"commitInfo":{"timestamp":1700000000004,"operation":"FOREIGN"}}"""
              .getBytes("UTF-8"))
        }
      }
      val v6 = DeltaInterop.exportUpdateWhere(spark, path6, "k = 1",
        Map("s" -> "'z'"))
      assert(v6 === 2L, "a conflict-free lost race must rebase and land")
      assert(DeltaInterop.read(spark, path6).collect()
        .map(_.toString).sorted.toSeq === Seq("[1,z]", "[2,b]"))
    }
  }

  /** The full injected-weather recovery scenario, parameterized over
    * the UNDERLYING store — run against the POSIX store and the HTTP
    * conditional-PUT object store, proving the recovery contract is a
    * property of the engine's claim protocol, not of one backend. */
  private def flakyScenario(flaky: FlakyClaimStore): Unit = {
    import spark.implicits._
    DeltaLite.withClaimStore(flaky) {
      val path = Files.createTempDirectory("graft_claim_flaky").toString
      DeltaLite.create(spark, path,
        Seq((1L, "a")).toDF("k", "s").coalesce(1))                    // v0
      // (a) ambiguous but LANDED: read-back compare recognizes the
      // writer's own payload — reported success, exactly one commit
      flaky.ambiguousLanded = 1
      DeltaLite.append(spark, path,
        Seq((2L, "b")).toDF("k", "s").coalesce(1))                    // v1
      assert(DeltaLite.latestVersion(path) === Some(1L))
      assert(DeltaLite.read(spark, path).count() === 2L)
      // (b) ambiguous and DROPPED: the claim retries and lands once
      flaky.ambiguousDropped = 1
      val calls = flaky.claimCalls
      DeltaLite.append(spark, path,
        Seq((3L, "c")).toDF("k", "s").coalesce(1))                    // v2
      assert(flaky.claimCalls - calls >= 2, "a dropped claim must retry")
      assert(DeltaLite.latestVersion(path) === Some(2L))
      assert(DeltaLite.read(spark, path).count() === 3L)
      // (c) the DOUBLE-APPLY trap: ambiguity whose recovery read ALSO
      // fails transiently — the retried claim then hits
      // FileAlreadyExists on the writer's OWN landed commit, and a
      // naive rebase would append the same rows again; the verified
      // read-back resolves it as success instead
      flaky.ambiguousLanded = 1
      flaky.failedReads = 3 // exactly the recovery read budget
      DeltaLite.append(spark, path,
        Seq((4L, "d")).toDF("k", "s").coalesce(1))                    // v3
      assert(DeltaLite.read(spark, path).count() === 4L,
        "the landed-ambiguous commit must not re-apply through a rebase")
      assert(DeltaLite.latestVersion(path) === Some(3L))
      // (d) UNRESOLVABLE ambiguity (every read fails too): the engine
      // fails LOUDLY — ambiguous, never silently rebased — and the
      // txn-keyed append surface turns the caller's retry into the
      // documented exactly-once no-op
      flaky.ambiguousLanded = 1
      flaky.failedReads = 100
      intercept[DeltaLite.AmbiguousClaimException] {
        DeltaLite.appendOnce(spark, path,
          Seq((5L, "e")).toDF("k", "s").coalesce(1),
          app = "flaky-writer", txnVersion = 7L)                      // v4 (landed!)
      }
      flaky.failedReads = 0
      assert(DeltaLite.latestVersion(path) === Some(4L),
        "the ambiguous claim had in fact landed")
      // caller-side recovery: replay the SAME txn — a no-op, not a dup
      DeltaLite.appendOnce(spark, path,
        Seq((5L, "e")).toDF("k", "s").coalesce(1),
        app = "flaky-writer", txnVersion = 7L)
      assert(DeltaLite.latestVersion(path) === Some(4L),
        "a replayed txn after ambiguity must be a no-op")
      assert(DeltaLite.read(spark, path).filter($"k" === 5L).count() === 1L)
      // (e) STALE LISTING (eventual consistency): the next writer plans
      // against a prefix snapshot, loses the claim at the stale tip to
      // the real one, and the rebase loop converges as the list does —
      // versions stay contiguous, no commit is ever overwritten
      DeltaLite.clearSnapshotCache()
      flaky.staleLists = 2
      DeltaLite.append(spark, path,
        Seq((6L, "f")).toDF("k", "s").coalesce(1))                    // v5
      assert(DeltaLite.latestVersion(path) === Some(5L))
      val commits = flaky
        .listLog(java.nio.file.Paths.get(path, "_graft_log"))
        .filter(_.matches("""\d+\.json""")).sorted
      assert(commits === (0 to 5).map(v => s"$v.json"),
        s"contiguous one-winner history expected: $commits")
      DeltaLite.clearSnapshotCache()
      assert(DeltaLite.read(spark, path).orderBy("k").select("k")
        .as[Long].collect().toSeq === (1L to 6L),
        "every effect exactly once through all injected weather")
    }
  }

  test("conflict resolution: OPTIMIZE rebases over a concurrent append, keeps both effects") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_rebase_opt").toString
    DeltaLite.create(spark, path, Seq((1L, "a")).toDF("k", "s").coalesce(1))
    DeltaLite.append(spark, path, Seq((2L, "b")).toDF("k", "s").coalesce(1))
    DeltaLite.append(spark, path, Seq((3L, "c")).toDF("k", "s").coalesce(1))
    // inject an append into exactly the snapshot→commit window
    DeltaLite.testHookBeforeCommit = () => {
      DeltaLite.testHookBeforeCommit = () => ()
      DeltaLite.append(spark, path, Seq((99L, "z")).toDF("k", "s").coalesce(1))
    }
    try {
      val v = DeltaLite.compactSmall(spark, path, minRows = 100)
      // base was v2, the racer took v3 → the rebased compaction lands at v4
      assert(v === 4L, s"expected rebased commit at v4, got $v")
    } finally DeltaLite.testHookBeforeCommit = () => ()
    val rows = DeltaLite.read(spark, path).orderBy("k").select("k")
      .as[Long].collect().toSeq
    assert(rows === Seq(1L, 2L, 3L, 99L), "both effects must survive")
    // the racer's file was NOT a compaction victim and stays live
    val snap = DeltaLite.snapshot(path)
    assert(snap.files.exists(_.rows == 1L),
      "the concurrently appended file must survive the rebased OPTIMIZE")
  }

  test("conflict resolution: DELETE rebases over non-matching appends, conflicts on matching ones") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_rebase_del").toString
    DeltaLite.create(spark, path,
      (0L until 10L).map(k => (k, s"s$k")).toDF("k", "s").coalesce(1))
    // non-matching concurrent append (k=100 doesn't satisfy k < 5) → rebase
    DeltaLite.testHookBeforeCommit = () => {
      DeltaLite.testHookBeforeCommit = () => ()
      DeltaLite.append(spark, path, Seq((100L, "x")).toDF("k", "s").coalesce(1))
    }
    try DeltaLite.delete(spark, path, col("k") < 5L)
    finally DeltaLite.testHookBeforeCommit = () => ()
    assert(DeltaLite.read(spark, path).orderBy("k").select("k")
      .as[Long].collect().toSeq === (5L until 10L) :+ 100L)
    // matching concurrent append (k=3 satisfies k < 5) → genuine conflict
    DeltaLite.testHookBeforeCommit = () => {
      DeltaLite.testHookBeforeCommit = () => ()
      DeltaLite.append(spark, path, Seq((3L, "y")).toDF("k", "s").coalesce(1))
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        DeltaLite.delete(spark, path, col("k") < 5L))
      assert(e.getMessage.contains("match the operation's predicate"))
    } finally DeltaLite.testHookBeforeCommit = () => ()
    // a concurrent metadata change can never be rebased over
    DeltaLite.testHookBeforeCommit = () => {
      DeltaLite.testHookBeforeCommit = () => ()
      DeltaLite.setProperties(path, Map("team" -> "ingest"))
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        DeltaLite.delete(spark, path, col("k") >= 100L))
      assert(e.getMessage.contains("metadata changed"))
    } finally DeltaLite.testHookBeforeCommit = () => ()
  }

  test("lost race declines: a DV delete that matches nothing loses to a concurrent append") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_dv_empty_race").toString
    DeltaLite.create(spark, path, Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1))
    DeltaLite.testHookBeforeCommit = () => {
      DeltaLite.testHookBeforeCommit = () => ()
      DeltaLite.append(spark, path, Seq((3L, "c")).toDF("k", "s").coalesce(1))
    }
    try {
      val e = intercept[java.util.ConcurrentModificationException](
        DeltaLite.deleteVectorized(spark, path, col("k") === 99L))
      assert(e.getMessage.contains("concurrent commit"))
      assert(e.getMessage.contains("DELETE_DV"))
    } finally DeltaLite.testHookBeforeCommit = () => ()
    assert(DeltaLite.snapshot(path).version === 1L)
    assert(DeltaLite.read(spark, path).orderBy("k").select("k")
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
  }

  test("lost race declines: MERGE and an identity-column APPEND lose to a concurrent append, the winner stands") {
    import spark.implicits._
    // `winner` runs inside the loser's snapshot→commit window; the loser
    // must throw naming its op, leave the winner's commit file byte for
    // byte, and land nothing
    def losesTo(path: String, op: String, winner: => Unit)(loser: => Long): Unit = {
      val won = DeltaLite.snapshot(path).version + 1
      val file = Paths.get(path, "_graft_log", s"$won.json")
      var atWin: Seq[Byte] = null
      DeltaLite.testHookBeforeCommit = () => {
        DeltaLite.testHookBeforeCommit = () => ()
        winner
        atWin = Files.readAllBytes(file).toSeq
      }
      val e =
        try intercept[java.util.ConcurrentModificationException](loser)
        finally DeltaLite.testHookBeforeCommit = () => ()
      assert(e.getMessage.contains(s"concurrent commit beat $op at version $won"),
        e.getMessage)
      assert(atWin != null && Files.readAllBytes(file).toSeq === atWin,
        "the winner's commit must survive the losing claim byte for byte")
      assert(DeltaLite.snapshot(path).version === won, "the loser must land nothing")
    }
    def rows(path: String): Seq[(Long, String)] =
      DeltaLite.read(spark, path).select("k", "s").as[(Long, String)]
        .collect().toSeq.sorted

    val merged = Files.createTempDirectory("graft_race_merge").toString
    DeltaLite.create(spark, merged,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s").coalesce(1))
    losesTo(merged, "MERGE", DeltaLite.append(spark, merged,
        Seq((10L, "w")).toDF("k", "s").coalesce(1))) {
      DeltaLite.merge(spark, merged,
        Seq((1L, "x"), (4L, "y")).toDF("k", "s").coalesce(1), Seq("k"))
    }
    assert(rows(merged) === Seq((1L, "a"), (2L, "b"), (3L, "c"), (10L, "w")))

    val ids = Files.createTempDirectory("graft_race_identity").toString
    DeltaLite.create(spark, ids,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s").coalesce(1),
      identity = Map("id" -> DeltaLite.IdentityCol(start = 1, step = 1)))
    losesTo(ids, "APPEND", DeltaLite.append(spark, ids,
        Seq((10L, "w")).toDF("k", "s").coalesce(1))) {
      DeltaLite.append(spark, ids, Seq((20L, "l")).toDF("k", "s").coalesce(1))
    }
    assert(rows(ids) === Seq((1L, "a"), (2L, "b"), (3L, "c"), (10L, "w")))
  }

  test("cleanupLogs refuses to cut the chain when no checkpoint anchors it") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_logclean_anchor").toString
    DeltaLite.create(spark, path,
      Seq((0L, "a")).toDF("k", "s").coalesce(1))                        // v0
    (1 to 5).foreach(i =>
      DeltaLite.append(spark, path,
        Seq((i.toLong, s"s$i")).toDF("k", "s").coalesce(1)))            // v1..v5
    // no checkpoint exists yet (first at v10) → cleanup must be a no-op
    assert(DeltaLite.cleanupLogs(path, keepVersions = 1) === 0)
    assert(Files.exists(Paths.get(path, "_graft_log", "0.json")))
    assert(DeltaLite.read(spark, path).count() === 6L)
  }

  test("inverted index serves term lookups from one hash-bucket partition") {
    // the l4_inverted_index 100 TB claim made concrete: persist the
    // posting table PARTITIONED BY a term-hash bucket, and a query
    // term's lookup must prune to exactly one partition directory —
    // the s27/AnnIndex serving discipline applied to sparse retrieval
    val path = Files.createTempDirectory("graft_invidx").toString
    val buckets = 16
    val postings = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets)))
    postings.write.mode("overwrite").partitionBy("bucket").parquet(path)
    // serve: a term probe computes its bucket FIRST (a literal at plan
    // time), so the scan binds a single partition value
    val term = "scan"
    val b = postings.sparkSession.range(1).select(
      pmod(xxhash64(lit(term)), lit(buckets))).head().getLong(0)
    val probe = spark.read.parquet(path)
      .filter(col("bucket") === b && col("term") === term)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains(s"PartitionFilters: [isnotnull(bucket"),
      s"bucket must be a partition filter:\n$plan")
    assert(plan.contains(s"(bucket#") && plan.contains(s"= $b)"),
      s"the probe must bind bucket = $b at plan time:\n$plan")
    // correctness: the pruned read returns exactly the term's postings
    val full = postings.filter(col("term") === term).count()
    assert(probe.count() === full && full > 0)
  }

  test("incremental_predicates: candidate files shrink, results identical; scope gates clauses") {
    import spark.implicits._
    val M = graft.operators.Merge
    def build(): String = {
      val path = Files.createTempDirectory("graft_incrpred").toString
      // wave 1 (Jan, odd keys) and wave 2 (Feb, even keys) — one file
      // each, disjoint day ranges, overlapping key ranges
      val jan = (1L to 399L by 2).map(k => (k, "2024-01-15", k * 1.0))
        .toDF("k", "d", "v").withColumn("day", to_date($"d")).drop("d")
        .select($"k", $"day", $"v").coalesce(1)
      val feb = (2L to 400L by 2).map(k => (k, "2024-02-15", k * 1.0))
        .toDF("k", "d", "v").withColumn("day", to_date($"d")).drop("d")
        .select($"k", $"day", $"v").coalesce(1)
      DeltaLite.create(spark, path, jan)
      DeltaLite.append(spark, path, feb)
      path
    }
    val preds = Seq("day >= DATE'2024-02-01'")
    // source keys 150/250 live ONLY in the Feb file; 401 is new. Key
    // bounds [150, 401] overlap BOTH files, so without the predicate
    // the key-confirm scan must read both; the predicate's stats bound
    // disproves the Jan file without opening it.
    val src = Seq((150L, "2024-03-01", -1.0), (250L, "2024-03-01", -2.0),
        (401L, "2024-03-01", -3.0))
      .toDF("k", "d", "v").withColumn("day", to_date($"d")).drop("d")
      .select($"k", $"day", $"v")
    val pathA = build()
    // the candidate step of the row locator, as mergeClauses calls it
    def mergeCandidates(ps: Seq[String]) = DeltaLite.candidateFiles(spark,
      DeltaLite.snapshot(pathA),
      DeltaLite.OnKeys(src, Seq("k"), ps.map(p => expr(p)).reduceOption(_ && _)))
    val without = mergeCandidates(Nil)
    val withPred = mergeCandidates(preds)
    assert(without.size === 2, "both waves overlap the source key bounds")
    assert(withPred.size === 1, "the Jan file must prune on the day bound")
    assert(withPred.size < without.size)
    // the same pruning from an IN list and from a foldable non-literal
    // bound — each shape once had only one of two extractors
    Seq("day IN (DATE'2024-02-15', DATE'2024-03-01')",
        "day >= date_add(DATE'2024-01-31', 1)").foreach { p =>
      val cands = mergeCandidates(Seq(p))
      assert(cands.map(_.path) === withPred.map(_.path),
        s"the Jan file must prune on $p: $cands")
    }
    // identical result either way (the semi-join confirm already
    // protected correctness; the predicate removes scan cost only)
    val clauses = Seq(
      M.MatchedUpdate(None, Map("v" -> M.src("v"))),
      M.NotMatchedInsert(None))
    val pathB = build()
    DeltaLite.mergeClauses(spark, pathA, src, Seq("k"), clauses,
      incrementalPredicates = preds)
    DeltaLite.mergeClauses(spark, pathB, src, Seq("k"), clauses)
    val a = DeltaLite.read(spark, pathA).orderBy("k").collect().toSeq
    val b = DeltaLite.read(spark, pathB).orderBy("k").collect().toSeq
    assert(a === b)
    assert(a.count(r => r.getDouble(2) < 0) === 3)
    // dbt's documented footgun carries over: a source key whose only
    // match is OUT of scope inserts a second row instead of updating
    val pathC = build()
    val srcOdd = Seq((151L, "2024-03-01", -9.0))
      .toDF("k", "d", "v").withColumn("day", to_date($"d")).drop("d")
      .select($"k", $"day", $"v")
    DeltaLite.mergeClauses(spark, pathC, srcOdd, Seq("k"), clauses,
      incrementalPredicates = preds)
    val c151 = DeltaLite.read(spark, pathC).filter($"k" === 151L)
      .orderBy($"v").collect()
    assert(c151.length === 2, "out-of-scope match must INSERT (dbt contract)")
    assert(c151.map(_.getDouble(2)).toSeq === Seq(-9.0, 151.0))
    // NOT MATCHED BY SOURCE clauses respect the scope too: delete
    // everything in-scope absent from the source — Jan rows (out of
    // scope) must all survive
    val pathD = build()
    DeltaLite.mergeClauses(spark, pathD, src, Seq("k"), Seq(
      M.MatchedUpdate(None, Map("v" -> M.src("v"))),
      M.NotMatchedBySourceDelete(None)),
      incrementalPredicates = preds)
    val d = DeltaLite.read(spark, pathD)
    assert(d.filter($"day" < to_date(lit("2024-02-01"))).count() === 200,
      "out-of-scope rows are invisible to by-source deletes")
    assert(d.filter($"day" >= to_date(lit("2024-02-01"))).count() === 2,
      "in-scope rows absent from the source are deleted")
  }

  /** Jobs that `body` submits from this thread. Suites share one
    * session, so only this thread's job group counts; a flush job in a
    * second group then proves every earlier job start was delivered
    * (one listener sees events in posting order). */
  private def jobsSubmitted(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"job-pin-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count pin")
      body
      sc.setJobGroup(s"$group-flush", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("log-driven scans run no listing job: one job per read over 40+ files") {
    // above 32 paths a Spark file listing is a job of its own; the scan
    // comes from the log's file list, so the write is the only job
    val rows = spark.range(0, 4500).select(col("id").as("k"), (col("id") * 2).as("v"))
      .repartitionByRange(45, col("k"))
    val lite = Files.createTempDirectory("graft_nolist").toString
    DeltaLite.create(spark, lite, rows)
    val liteFiles = DeltaLite.snapshot(lite).files.size
    assert(liteFiles >= 40, s"$liteFiles files")
    assert(jobsSubmitted(
      DeltaLite.read(spark, lite).write.format("noop").mode("overwrite").save()) === 1)
    val delta = Files.createTempDirectory("graft_nolist").resolve("t").toString
    graft.sources.DeltaInterop.exportToDelta(spark, rows, delta)
    assert(graft.sources.DeltaInterop.snapshot(spark, delta).files.size >= 40)
    assert(jobsSubmitted(graft.sources.DeltaInterop.read(spark, delta)
      .write.format("noop").mode("overwrite").save()) === 1)
    // BranchFilePruning drops the low-k files and rebuilds the scan
    // over the kept ones, still more than 32
    def pruned = DeltaLite.read(spark, lite).filter(col("k") >= 1000)
    val kept = pruned.inputFiles.length
    assert(kept > 32 && kept < liteFiles, s"kept $kept of $liteFiles")
    assert(jobsSubmitted(pruned.write.format("noop").mode("overwrite").save()) === 1)
    assert(pruned.count() === 3500)
  }

  test("planning a point scan evaluates bloom probes and generated bounds on the driver: no job") {
    import spark.implicits._
    // bloom-indexed: hash-bucketed files each span the whole key range,
    // so only the per-file blooms can drop files for a point bound
    val bloomy = Files.createTempDirectory("graft_bloom_nojob").toString
    DeltaLite.create(spark, bloomy,
      (0L until 4000L).map(i => (i, s"name$i")).toDF("k", "s")
        .repartition(8, pmod(col("k"), lit(8))),
      properties = Map("graft.bloom.columns" -> "k"))
    val all = DeltaLite.snapshot(bloomy).files.size
    var point: DataFrame = null
    assert(jobsSubmitted {
      point = DeltaLite.scan(spark, bloomy, Seq(DeltaLite.ColumnBound("k", Some(1234L), Some(1234L))))
      point.inputFiles
    } === 0)
    val needle = DeltaLite.read(spark, bloomy).filter(col("k") === 1234L).inputFiles.toSet
    assert(all > 2 && needle.size === 1)
    assert(needle.subsetOf(point.inputFiles.toSet) && point.inputFiles.length <= 2,
      s"the blooms keep the needle's file of $all: ${point.inputFiles.toSeq}")
    assert(point.filter(col("k") === 1234L).select("s").as[String].collect().toSeq === Seq("name1234"))
    // generated column day = date(ts): a point bound on ts maps to one day
    val gen = Files.createTempDirectory("graft_gen_nojob").toString
    DeltaLite.create(spark, gen, (0L until 240L).map(i =>
        (i, java.sql.Timestamp.valueOf(f"2024-06-${(i % 4) + 1}%02d 10:00:00")))
      .toDF("k", "ts").repartition(2), partitionBy = Seq("day"),
      generated = Map("day" -> "date(ts)"))
    val ts = java.sql.Timestamp.valueOf("2024-06-03 10:00:00")
    var onDay: DataFrame = null
    assert(jobsSubmitted {
      onDay = DeltaLite.scan(spark, gen, Seq(DeltaLite.ColumnBound("ts", Some(ts), Some(ts))))
      onDay.inputFiles
    } === 0)
    val dayFiles = DeltaLite.snapshot(gen).files.filter(_.pv("day") == "2024-06-03")
    assert(dayFiles.nonEmpty && onDay.inputFiles.length === dayFiles.size,
      s"the ts bound prunes to day 2024-06-03: ${onDay.inputFiles.toSeq}")
    assert(onDay.filter(col("ts") === ts).count() === 60L)
  }

  test("log-driven scans: same-snapshot reads match, cache serves them, file metadata kept") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val p = Files.createTempDirectory("graft_scan_id").toString
    DeltaLite.create(spark, p, spark.range(0, 200)
      .select(col("id").as("k"), (col("id") % 7).as("v")).repartition(4))
    assert(DeltaLite.read(spark, p).queryExecution.analyzed
      .sameResult(DeltaLite.read(spark, p).queryExecution.analyzed))
    // the scan reports each file as a plain parquet read of the same
    // files does: path, size and modification time from the file itself
    val files = DeltaLite.snapshot(p).files.map(f => Paths.get(p).resolve(f.path))
    val metaCols = Seq("file_path", "file_size", "file_modification_time")
      .map(c => col(s"_metadata.$c"))
    val meta = DeltaLite.read(spark, p).select(metaCols: _*).distinct().collect()
    assert(meta.length === files.size)
    meta.foreach { r =>
      val f = Paths.get(new java.net.URI(r.getString(0)))
      assert(r.getLong(1) === Files.size(f))
      assert(r.getTimestamp(2).getTime === Files.getLastModifiedTime(f).toMillis)
    }
    val plain = spark.read.parquet(files.map(_.toString): _*)
    assert(meta.toSet === plain.select(metaCols: _*).distinct().collect().toSet)
    assert(DeltaLite.read(spark, p).inputFiles.sorted === plain.inputFiles.sorted)
    def cachedIn(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])
    val cached = DeltaLite.read(spark, p).cache()
    try {
      assert(cached.count() === 200)
      val again = DeltaLite.read(spark, p)
      assert(cachedIn(again), "a second read of the version must hit the cache")
      assert(again.count() === 200)
      DeltaLite.append(spark, p, spark.range(200, 210)
        .select(col("id").as("k"), (col("id") % 7).as("v")))
      val after = DeltaLite.read(spark, p)
      assert(!cachedIn(after), "a read of the next version must not")
      assert(after.count() === 210)
    } finally cached.unpersist()
  }

  test("UPDATE: every SET and the predicate read the OLD row, through the API and SQL") {
    import spark.implicits._
    def table(): String = {
      val p = Files.createTempDirectory("graft_update_old_row").toString
      DeltaLite.create(spark, p,
        (0L until 10L).map(k => (k, k * 10.0 + 1)).toDF("k", "v").coalesce(1))
      p
    }
    def rows(p: String) =
      DeltaLite.read(spark, p).as[(Long, Double)].collect().toSeq.sorted
    val untouched = (5L until 10L).map(k => (k, k * 10.0 + 1))
    // SET k moves the matched rows out of the predicate; SET v must
    // still apply to every one of them
    val moved = ((0L until 5L).map(k => (k + 100, -1.0)) ++ untouched).sorted
    val a = table()
    DeltaLite.update(spark, a, col("k") < 5,
      Map("k" -> (col("k") + 100), "v" -> lit(-1.0)))
    assert(rows(a) === moved)
    val b = table()
    spark.sql(s"UPDATE '$b' SET k = k + 100, v = -1.0 WHERE k < 5").collect()
    assert(rows(b) === moved)
    // a swap: each SET reads the other column's OLD value
    val swapped = ((0L until 5L).map(k => ((k * 10 + 1), k * 1.0)) ++ untouched).sorted
    val c = table()
    DeltaLite.update(spark, c, col("k") < 5,
      Map("k" -> col("v"), "v" -> col("k")))
    assert(rows(c) === swapped)
    val d = table()
    spark.sql(s"UPDATE '$d' SET k = v, v = k WHERE k < 5").collect()
    assert(rows(d) === swapped)
  }

  test("UPDATE: a SET naming an unknown column throws and commits nothing, through the API and SQL") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_update_unknown_set").toString
    DeltaLite.create(spark, p,
      (0L until 10L).map(k => (k, k * 10.0 + 1)).toDF("k", "v").coalesce(1))
    val before = DeltaLite.latestVersion(p)
    val api = intercept[IllegalArgumentException](
      DeltaLite.update(spark, p, col("k") < 5, Map("nope" -> lit(1.0))))
    assert(api.getMessage.contains("SET names unknown column(s) nope"))
    assert(DeltaLite.latestVersion(p) === before)
    val sql = intercept[IllegalArgumentException](
      spark.sql(s"UPDATE '$p' SET nope = 1 WHERE k < 5").collect())
    assert(sql.getMessage.contains("SET names unknown column(s) nope"))
    assert(DeltaLite.latestVersion(p) === before)
    assert(DeltaLite.read(spark, p).as[(Long, Double)].collect().toSeq.sorted ===
      (0L until 10L).map(k => (k, k * 10.0 + 1)))
  }

  /** Every parquet scan over files under `root` that the actions of
    * `body` execute: its `numFiles` SQL metric and the files it reads.
    * Captured from each action's executed plan. */
  private def scansOf(root: String)(body: => Unit): Seq[(Long, Set[String])] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper
    withQueryExecutions(spark)(qe =>
      Plans.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
        .map(s => s.metrics("numFiles").value ->
          s.relation.location.inputFiles.map(new java.net.URI(_).getPath).toSet)
        .filter(_._2.exists(_.startsWith(root))))(body)
  }

  /** A byte-identical copy of a table directory (the log keeps
    * table-relative paths, so the copy is the same table). */
  private def copyTable(src: String): String = {
    val dst = Files.createTempDirectory("graft_table_copy").resolve("t")
    val walk = Files.walk(Paths.get(src))
    try walk.iterator().asScala.foreach { f =>
      Files.copy(f, dst.resolve(Paths.get(src).relativize(f).toString))
    } finally walk.close()
    dst.toString
  }

  test("row locator: every row-level op opens only the files whose stats admit its predicate") {
    import spark.implicits._
    // 20 files, each a range of 50 keys
    val base = Files.createTempDirectory("graft_locator_prune").toString
    DeltaLite.create(spark, base, spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") * 2.0).as("v"))
      .repartitionByRange(20, col("k")))
    val files = DeltaLite.snapshot(base).files
    assert(files.size === 20)
    // only one file's [min, max] of k admits the predicate
    val cond = col("k") >= 510L && col("k") < 515L
    val admitted = files.filter(f => f.stats("k") match {
      case DeltaLite.ColStats(Some(lo: Long), Some(hi: Long)) => lo < 515L && hi >= 510L
      case _ => true
    })
    assert(admitted.size === 1)
    val ops: Seq[(String, (String, Column) => Long)] = Seq(
      "delete" -> ((p, c) => DeltaLite.delete(spark, p, c)),
      "update" -> ((p, c) => DeltaLite.update(spark, p, c, Map("v" -> lit(-1.0)))),
      "replaceWhere" -> ((p, c) => DeltaLite.replaceWhere(spark, p, c,
        Seq((5000L, 0.0)).toDF("k", "v"))),
      "deleteVectorized" -> ((p, c) => DeltaLite.deleteVectorized(spark, p, c)))
    /** The op's commit: removed paths, re-added paths with their DV
      * cardinality, and the rows of the new data files. */
    def lastCommit(p: String) = {
      val after = DeltaLite.snapshot(p)
      val before = DeltaLite.snapshot(p, Some(after.version - 1)).files
      val added = after.files.filterNot(before.contains)
      val (readds, fresh) = added.partition(a => before.exists(_.path == a.path))
      (before.filterNot(after.files.contains).map(_.path).toSet,
        readds.map(a => a.path -> a.dv.map(_.cardinality)).toSet,
        DeltaLite.readFiles(spark, p, after.schema, fresh, Nil, Map.empty)
          .as[(Long, Double)].collect().toSeq.sorted)
    }
    ops.foreach { case (name, op) =>
      val pruned = copyTable(base)
      val scans = scansOf(pruned)(op(pruned, cond))
      val candidate = Set(Paths.get(pruned).resolve(admitted.head.path).toString)
      assert(scans.nonEmpty, s"$name ran no scan")
      assert(scans.forall(_ == (1L -> candidate)),
        s"$name must read only the admitted file: $scans")
      // reference: the same predicate in a form no bound is read from
      val reference = copyTable(base)
      val refScans = scansOf(reference)(
        op(reference, coalesce(cond, lit(false))))
      assert(refScans.exists(_._1 == 20L), s"$name reference: $refScans")
      val (removed, readds, freshRows) = lastCommit(pruned)
      assert(removed === Set(admitted.head.path), name)
      assert((removed, readds, freshRows) === lastCommit(reference), name)
      assert(DeltaLite.read(spark, pruned).as[(Long, Double)].collect().sorted ===
        DeltaLite.read(spark, reference).as[(Long, Double)].collect().sorted, name)
    }
  }

  test("strategy parity: copy-on-write, native DV and _delta_log DV agree with a model at every step") {
    import spark.implicits._
    import graft.sources.DeltaInterop
    val rnd = new scala.util.Random(19)
    sealed trait Step
    final case class Del(lo: Long, hi: Long) extends Step
    final case class Upd(lo: Long, hi: Long, add: Double) extends Step
    final case class Mrg(rows: Seq[(Long, Double)]) extends Step
    val initial = (0L until 200L).map(k => (k, k * 1.0))
    var nextKey = 200L
    val script: Seq[Step] = (1 to 10).map { _ =>
      val lo = rnd.nextInt(200).toLong
      val hi = lo + 1 + rnd.nextInt(40)
      rnd.nextInt(3) match {
        case 0 => Del(lo, hi)
        case 1 => Upd(lo, hi, 1 + rnd.nextInt(100))
        case _ =>
          val fresh = (0 until rnd.nextInt(4)).map(i => (nextKey + i, -1.0 * i))
          nextKey += fresh.size
          Mrg((lo until hi by 3).map(k => (k, 1000.0 + k)) ++ fresh)
      }
    }
    def cond(lo: Long, hi: Long) = col("k") >= lo && col("k") < hi
    def sqlCond(lo: Long, hi: Long) = s"k >= $lo AND k < $hi"
    final case class Strategy(name: String, create: (String, DataFrame) => Unit,
        run: (String, Step) => Unit, read: String => DataFrame)
    def nativeWith(name: String, del: (String, Column) => Unit) = Strategy(name,
      (p, df) => DeltaLite.create(spark, p, df),
      (p, step) => step match {
        case Del(lo, hi) => del(p, cond(lo, hi))
        case Upd(lo, hi, add) =>
          DeltaLite.update(spark, p, cond(lo, hi), Map("v" -> (col("v") + add)))
        case Mrg(rows) => DeltaLite.merge(spark, p, rows.toDF("k", "v"), Seq("k"))
      },
      p => DeltaLite.read(spark, p))
    val strategies = Seq(
      nativeWith("copy-on-write", (p, c) => DeltaLite.delete(spark, p, c)),
      nativeWith("native DV", (p, c) => DeltaLite.deleteVectorized(spark, p, c)),
      Strategy("_delta_log DV",
        (p, df) => DeltaInterop.exportToDelta(spark, df, p),
        (p, step) => step match {
          case Del(lo, hi) => DeltaInterop.exportDeleteWhere(spark, p, sqlCond(lo, hi))
          case Upd(lo, hi, add) => DeltaInterop.exportUpdateWhere(spark, p,
            sqlCond(lo, hi), Map("v" -> s"v + $add"))
          case Mrg(rows) => DeltaInterop.exportMerge(spark, p, rows.toDF("k", "v"), Seq("k"))
        },
        p => DeltaInterop.read(spark, p)))
    val paths = strategies.map { st =>
      val p = Files.createTempDirectory("graft_parity").resolve("t").toString
      st.create(p, initial.toDF("k", "v").repartitionByRange(8, col("k")))
      st -> p
    }
    var model = initial.toMap
    script.zipWithIndex.foreach { case (step, i) =>
      model = step match {
        case Del(lo, hi) => model.filter { case (k, _) => k < lo || k >= hi }
        case Upd(lo, hi, add) => model.map { case (k, v) =>
          k -> (if (k >= lo && k < hi) v + add else v) }
        case Mrg(rows) => model ++ rows
      }
      paths.foreach { case (st, p) =>
        st.run(p, step)
        assert(st.read(p).as[(Long, Double)].collect().toMap === model,
          s"${st.name} after step $i ($step)")
      }
    }
  }
}
