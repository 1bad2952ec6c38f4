package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-specific functions that cannot be DuckDB-oracle-checked
  * (SURVEY.md §2.11 rows T/R): approximate aggregates, seeded hashes,
  * uuid, Bernoulli sampling. */
class FunctionsSpec extends AnyFunSuite with TestSpark {

  test("interleave_bits: codegen equals interpreted equals reference morton") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
      (0xFFFFFFFFL, 0xFFFFFFFFL), (12345L, 67890L)).toDF("a", "b")
    val out = df.select(call_function("interleave_bits", $"a", $"b").as("z"))
      .as[Long].collect()
    val expected = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
      (0xFFFFFFFFL, 0xFFFFFFFFL), (12345L, 67890L))
      .map { case (a, b) => graft.functions.InterleaveBits.morton(a, b) }
    assert(out.toSeq === expected)
    assert(expected(1) === 1L)   // (1,0) -> bit 0
    assert(expected(2) === 2L)   // (0,1) -> bit 1
    assert(expected(4) === -1L)  // full 32+32 bits -> all 64 bits set
  }

  test("GraftExtensions injects vec_dot (no manual registration)") {
    // TestSpark's session was built with
    // spark.sql.extensions=graft.GraftExtensions — vec_dot must resolve
    // without GraftFunctions.register
    val r = Tables.t(spark, sf, "embeddings").limit(1)
      .select(expr("vec_dot(embedding, embedding)").as("d")).head()
    assert(r.getDouble(0) > 0.0)
  }

  test("GraftExtensions keeps generated classes: a re-generated projection reuses its class") {
    import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.LongType
    // TestSpark.beforeAll built the session, and with it the extension,
    // and made it this suite's active session before any test ran
    def projection(c: Long) = GenerateUnsafeProjection.generate(
      Seq(Add(BoundReference(0, LongType, nullable = false), Literal(c))))
    val first = projection(0L)
    // more distinct classes than Spark's default of 100 cached entries
    (1L to 150L).foreach(projection)
    assert(projection(0L).getClass eq first.getClass)
  }

  test("ActiveContextConf.setDefault leaves a key the conf already sets unchanged") {
    import org.apache.spark.sql.graft.ActiveContextConf
    import org.apache.spark.sql.internal.StaticSQLConf
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val set = GraftExtensions.GeneratedClassCacheEntries.toString
    assert(spark.sparkContext.getConf.get(key) === set)
    ActiveContextConf.setDefault(key, "7")
    assert(spark.sparkContext.getConf.get(key) === set)
  }

  test("collate_key: locale order beats binary order; strengths nest") {
    import spark.implicits._
    val words = Seq("zebra", "éclair", "apple", "BANANA", "banana")
      .toDF("w")
    def order(strength: String): Seq[String] = words
      .orderBy(expr(s"collate_key(w, 'en', '$strength')").asc, $"w".asc)
      .as[String].collect().toSeq
    // binary order exiles 'éclair' past 'zebra' and fronts 'BANANA';
    // en-primary interleaves case and puts é between e-words and f-words
    assert(order("primary") ===
      Seq("apple", "BANANA", "banana", "éclair", "zebra"))
    // tertiary adds case significance: lower sorts before upper in en
    assert(order("tertiary") ===
      Seq("apple", "banana", "BANANA", "éclair", "zebra"))
    // non-literal locale is rejected loudly, not silently defaulted
    intercept[Exception] {
      words.select(expr("collate_key(w, w)")).collect()
    }
  }

  test("A3: approx_count_distinct within 5% of exact") {
    val e = Tables.t(spark, sf, "events")
    val row = e.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("L4: approx_top_k sketch is exact across a 32-partition merge") {
    val toks = Tables.t(spark, sf, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("tok"))
      .filter(col("tok") =!= "")
    val exact = toks.groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 32 partitions forces one sketch per partition + a merge; with
    // vocab << tracked slots the merged sketch must reproduce exact counts.
    val sketched = toks.repartition(32)
      .agg(expr("approx_top_k(tok, 40, 1024)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketched == exact, s"sketch $sketched vs exact $exact")
  }

  test("A13: approx_percentile within 2% of the exact percentile") {
    val l = Tables.t(spark, sf, "lineitem")
    val row = l.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx")).head()
    val (exact, approx) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02,
      s"approx $approx vs exact $exact")
  }

  test("xxhash64 is deterministic and spreads (seeded, engine-native)") {
    val d = Tables.t(spark, sf, "documents")
    val h1 = d.select(xxhash64(col("text")).as("h")).collect().map(_.getLong(0))
    val h2 = d.select(xxhash64(col("text")).as("h")).collect().map(_.getLong(0))
    assert(h1.toSeq === h2.toSeq, "same input -> same hash across runs")
    assert(h1.distinct.length === h1.length, "distinct texts -> distinct hashes")
  }

  test("uuid() yields unique values per row") {
    val n = 1000
    val u = spark.range(n).select(expr("uuid()").as("u"))
      .distinct().count()
    assert(u === n)
  }

  test("P6: Bernoulli sample(fraction, seed) is reproducible and ~fraction") {
    val l = Tables.t(spark, sf, "lineitem")
    val total = l.count()
    val s1 = l.sample(withReplacement = false, 0.1, seed = 42).count()
    val s2 = l.sample(withReplacement = false, 0.1, seed = 42).count()
    assert(s1 === s2, "same seed -> same sample")
    assert(math.abs(s1.toDouble / total - 0.1) < 0.03,
      s"sampled $s1 of $total")
  }

  test("TextFunctions.tokenCount: BPE-ish regex path handles punctuation") {
    import spark.implicits._
    val df = Seq("hello, world! it's 2024.", "one  two").toDF("text")
    val counts = df.select(
      graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    // "hello , world ! it ' s 2024 ." = 9; "one two" = 2
    assert(counts === Seq(9, 2))
  }

  test("UnfoldDatePredicates: boundary-exact on date, NTZ and LTZ timestamps") {
    import spark.implicits._
    // NTZ boundaries straddling 1995: rule bounds must include exactly
    // the two 1995 instants and keep null-row semantics
    val ntz = Seq("1994-12-31 23:59:59.999999", "1995-01-01 00:00:00",
      "1995-12-31 23:59:59.999999", "1996-01-01 00:00:00", null)
      .toDF("s").select(col("s").cast("timestamp_ntz").as("ts"))
    def pick(df: org.apache.spark.sql.DataFrame, cond: String): Seq[String] =
      df.where(expr(cond)).select(col("ts").cast("string"))
        .collect().map(_.getString(0)).toSeq.sorted
    assert(pick(ntz, "year(ts) = 1995") ===
      Seq("1995-01-01 00:00:00", "1995-12-31 23:59:59.999999"))
    assert(pick(ntz, "year(ts) > 1995") === Seq("1996-01-01 00:00:00"))
    assert(pick(ntz, "year(ts) <= 1994") === Seq("1994-12-31 23:59:59.999999"))
    assert(pick(ntz, "1995 = year(ts)") === pick(ntz, "year(ts) = 1995"))
    // the rewrite actually fired (no year() survives in the plan)
    assert(!ntz.where(expr("year(ts) = 1995"))
      .queryExecution.optimizedPlan.toString.contains("year("))
    // DateType attribute form
    val dts = Seq("1994-12-31", "1995-01-01", "1995-12-31", "1996-01-01")
      .toDF("s").select(col("s").cast("date").as("d"))
    assert(dts.where(expr("year(d) = 1995")).count() === 2)
    // LTZ: bounds are built in the session zone, matching eval semantics
    val ltz = Seq("1994-12-31 23:59:59", "1995-01-01 00:00:00",
      "1995-12-31 23:59:59", "1996-01-01 00:00:00")
      .toDF("s").select(col("s").cast("timestamp").as("ts"))
    assert(ltz.where(expr("year(ts) = 1995")).count() === 2)
    assert(!ltz.where(expr("year(ts) = 1995"))
      .queryExecution.optimizedPlan.toString.contains("year("))
  }

  test("UnfoldDatePredicates: date_trunc grain predicates become range bounds") {
    import spark.implicits._
    def noTrunc(df: org.apache.spark.sql.DataFrame, cond: String): Boolean =
      !df.where(expr(cond)).queryExecution.optimizedPlan.toString
        .contains("date_trunc")
    // DATE attribute (the metric layer's grain-filter shape): month
    // boundary straddle, both literal spellings, every comparison class
    val d = Seq("2024-01-31", "2024-02-01", "2024-02-29", "2024-03-01", null)
      .toDF("s").select(col("s").cast("date").as("day"))
    def pickD(cond: String): Seq[String] =
      d.where(expr(cond)).select(col("day").cast("string"))
        .collect().map(_.getString(0)).toSeq.sorted
    assert(pickD("date_trunc('month', day) = TIMESTAMP '2024-02-01 00:00:00'")
      === Seq("2024-02-01", "2024-02-29"))
    assert(pickD("date_trunc('month', day) >= TIMESTAMP '2024-02-01 00:00:00'")
      === Seq("2024-02-01", "2024-02-29", "2024-03-01"))
    assert(pickD("date_trunc('month', day) > TIMESTAMP '2024-02-01 00:00:00'")
      === Seq("2024-03-01"))
    assert(pickD("date_trunc('month', day) < TIMESTAMP '2024-02-01 00:00:00'")
      === Seq("2024-01-31"))
    assert(pickD("TIMESTAMP '2024-02-01 00:00:00' = date_trunc('month', day)")
      === pickD("date_trunc('month', day) = TIMESTAMP '2024-02-01 00:00:00'"))
    assert(noTrunc(d,
      "date_trunc('month', day) = TIMESTAMP '2024-02-01 00:00:00'"),
      "the month-grain rewrite must fire on a date attribute")
    // week grain: Monday boundaries (2024-02-05 is a Monday)
    assert(pickD("date_trunc('week', day) = TIMESTAMP '2024-01-29 00:00:00'")
      === Seq("2024-01-31", "2024-02-01"))
    assert(noTrunc(d,
      "date_trunc('week', day) = TIMESTAMP '2024-01-29 00:00:00'"))
    // UNALIGNED literal: our rule declines (no interval exists) and the
    // answer stays correct — constant-false here, however Spark's own
    // optimizer chooses to express it
    assert(pickD("date_trunc('month', day) = TIMESTAMP '2024-02-02 00:00:00'")
      === Seq.empty)
    assert(pickD("date_trunc('month', day) >= TIMESTAMP '2024-02-02 00:00:00'")
      === Seq("2024-03-01"),
      "unaligned range comparisons keep exact eval semantics")
    // LTZ timestamp attribute: quarter grain in the session zone
    val ts = Seq("2024-03-31 23:59:59", "2024-04-01 00:00:00",
      "2024-06-30 23:59:59", "2024-07-01 00:00:00", null)
      .toDF("s").select(col("s").cast("timestamp").as("ts"))
    assert(ts.where(expr(
      "date_trunc('quarter', ts) = TIMESTAMP '2024-04-01 00:00:00'"))
      .count() === 2)
    assert(noTrunc(ts,
      "date_trunc('quarter', ts) = TIMESTAMP '2024-04-01 00:00:00'"))
    // NTZ attribute: year grain, zone-free
    val ntz2 = Seq("2023-12-31 23:59:59.999999", "2024-01-01 00:00:00",
      "2024-12-31 23:59:59.999999", "2025-01-01 00:00:00")
      .toDF("s").select(col("s").cast("timestamp_ntz").as("ts"))
    assert(ntz2.where(expr(
      "date_trunc('year', ts) = TIMESTAMP_NTZ '2024-01-01 00:00:00'"))
      .count() === 2)
    // sub-day grains: our rule declines (date-grain intervals don't
    // apply); eval semantics hold regardless of how Spark's own
    // optimizer then expresses the predicate
    assert(ts.where(expr(
      "date_trunc('hour', ts) = TIMESTAMP '2024-06-30 23:00:00'"))
      .count() === 1)
    // PLAN pin on a real parquet scan (local frames constant-fold, so
    // only a file-backed relation proves the rewrite): vanilla Spark
    // leaves date_trunc as an opaque DataFilter with EMPTY PushedFilters
    // (probed on this fixture); with the rule, the month predicate must
    // become pushed o_orderdate range bounds — the nested
    // CAST(CAST(ts AS DATE) AS TIMESTAMP) analyzer shape
    val q = Tables.t(spark, sf, "orders").where(expr(
      "date_trunc('month', CAST(o_orderdate AS DATE)) = TIMESTAMP '1995-02-01 00:00:00'"))
    assert(!q.queryExecution.optimizedPlan.toString.contains("date_trunc"),
      "the grain predicate must unfold on a parquet-backed scan")
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("PushedFilters: [IsNotNull(o_orderdate), " +
        "GreaterThanOrEqual(o_orderdate,") ||
      (exec.contains("PushedFilters: [") &&
        exec.contains("GreaterThanOrEqual(o_orderdate")),
      s"the unfolded bounds must reach the parquet scan:\n$exec")
    // and the unfolded month matches a hand-written range exactly
    val n1 = q.count()
    val n2 = Tables.t(spark, sf, "orders").where(expr(
      """o_orderdate >= TIMESTAMP '1995-02-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1995-03-01 00:00:00'""")).count()
    assert(n1 === n2 && n1 > 0L)
  }

  test("hilbert_index: known cells, full adjacency walk, codegen parity") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.HilbertIndex
    // order-1 square: the canonical U walk (0,0)→(0,1)→(1,1)→(1,0)
    // scaled to order 31 the first quadrant step is at bit 30
    assert(HilbertIndex.xy2d(0L, 0L) === 0L)
    // adjacency: EVERY consecutive pair of d along an order-5 curve
    // (1024 cells) is grid-adjacent — the property Morton lacks
    val pts = (0L until 1024L).map(HilbertIndex.d2xy(5, _))
    pts.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"curve jumps from ($x1,$y1) to ($x2,$y2)")
    }
    // xy2d inverts d2xy when the point is placed at the top of the
    // order-31 grid (shift by 31-5 = 26 bits per axis scales the cell)
    val idx = pts.map { case (x, y) => HilbertIndex.xy2d(x << 26, y << 26) }
    assert(idx === idx.sorted, "scaled walk must be monotone in d")
    // codegen evaluates identically to the static kernel
    val rows = Seq((3L, 5L), (0L, 0L), (123456L, 654321L),
      ((1L << 31) - 1, (1L << 31) - 1)).toDF("a", "b")
    val got = rows.select(expr("hilbert_index(a, b)")).as[Long].collect().toSeq
    val want = Seq((3L, 5L), (0L, 0L), (123456L, 654321L),
      ((1L << 31) - 1, (1L << 31) - 1)).map { case (a, b) =>
      graft.functions.HilbertIndex.xy2d(a, b) }
    assert(got === want)
  }

  test("bloom two-tier dedup: no false negatives, probe set shrinks, verdicts exact") {
    graft.functions.GraftFunctions.register(spark)
    Tables.registerAll(spark, sf)
    val docs = Tables.t(spark, sf, "documents")
      .withColumn("h", md5(substring(col("text"), 1, 100).cast("binary")))
    val corpus = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0).select(col("h"))
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), col("h"))
    val probed = spark.sql(
      """WITH d AS (SELECT doc_id,
                           md5(CAST(substring(text, 1, 100) AS BINARY)) AS h
                    FROM documents),
         c AS (SELECT h FROM d WHERE doc_id % 7 <> 0)
         SELECT doc_id,
                might_contain(
                  (SELECT bloom_agg(xxhash64(h),
                     CAST(100000 AS BIGINT), CAST(800000 AS BIGINT)) FROM c),
                  xxhash64(h)) AS maybe
         FROM d WHERE doc_id % 7 = 0""")
    val trueDups = batch.join(corpus.distinct(), Seq("h"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val positives = probed.filter(col("maybe"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // bloom contract: every true dup is bloom-positive (no false negatives)
    assert(trueDups.subsetOf(positives))
    // the verification join's probe set is a sliver of the batch (with a
    // right-sized bloom the positives are ~ the dups + tiny FP tail)
    val batchN = batch.count()
    assert(positives.size < batchN / 2,
      s"bloom filtered too little: ${positives.size} of $batchN probed")
    // final verdicts (bloom + verify) == plain-join verdicts
    val verdicts = SparkEntry.queries("l2_bloom_dedup")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verdicts.count(_._2 == "dup") === trueDups.size)
    trueDups.foreach(d => assert(verdicts(d) === "dup"))
  }

  test("jaro_winkler: DuckDB-parity pins (bytes, empties, boost, cap)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // Expected values are DuckDB jaro_winkler_similarity outputs captured
    // from the oracle engine (20k-case fuzz showed zero divergence; these
    // rows pin the edge semantics: byte-level comparison of multi-byte
    // UTF-8, empty→0, strict >0.7 boost threshold, prefix cap 4,
    // window-0 short strings, transposition floor).
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("", "", 0.0),
      ("a", "", 0.0),
      ("abc", "abc", 1.0),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("ab", "ba", 0.0),
      ("abcdefgh", "abcdefhg", 0.975),            // prefix capped at 4
      ("abcdxxxxxx", "abcdyyyyyy", 0.6),          // jaro ≤ 0.7: no boost
      ("héllo", "hallo", 0.8400000000000001),     // UTF-8 bytes: 6-vs-5
      ("aé", "éa", 0.0),                          // 3-byte window-0
      ("abababab", "babababa", 0.8333333333333334))
    val out = cases.toDF("a", "b", "want")
      .select(expr("jaro_winkler(a, b)").as("got"), col("want"))
      .collect()
    out.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // null propagation + codegen/interpreted agreement on fixture data
    val n = Tables.t(spark, sf, "part").limit(50)
      .select(expr("jaro_winkler(p_name, CAST(NULL AS STRING))").as("x"))
      .where(col("x").isNotNull).count()
    assert(n === 0L)
  }

  test("soundex_code: NARA vectors, H/W merge, merges/breaks, null contract") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // classic NARA examples, incl. the two famous trip-ups: Ashcraft
    // (same-coded letters separated only by H still merge) and Pfister
    // (the first letter's own code participates in the collapse)
    val vectors = Seq(
      "Robert" -> "R163", "Rupert" -> "R163",
      "Ashcraft" -> "A261", "Ashcroft" -> "A261",
      "Tymczak" -> "T522", "Pfister" -> "P236",
      "Honeyman" -> "H555", "robert" -> "R163",
      "Washington" -> "W252", "Lee" -> "L000",
      "Gutierrez" -> "G362", "Jackson" -> "J250",
      "O'Brian" -> "O165",
      // interior punctuation is SKIPPED (doesn't break the merge chain):
      // ...ck-Za... — the Z merges into the preceding 'ck' code run
      "Sack-Zack" -> "S220")
    val got = vectors.map(_._1).toDF("s")
      .select(expr("soundex_code(s)").as("c")).as[String].collect()
    vectors.map(_._2).zip(got).zip(vectors.map(_._1)).foreach {
      case ((want, g), in) => assert(g === want, s"soundex($in)")
    }
    // codegen path equals the direct kernel on fixture part names
    val mism = Tables.t(spark, sf, "part")
      .select(col("p_name"), expr("soundex_code(p_name)").as("c"))
      .collect().count { r =>
        val direct = graft.functions.Soundex.code(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)))
        Option(r.getString(1)) != Option(direct).map(_.toString)
      }
    assert(mism === 0, "codegen and interpreted kernels must agree")
    // no leading letter → NULL; NULL → NULL
    val nulls = Seq("123", "", "42nd?").toDF("s")
      .select(expr("soundex_code(s)").as("c"))
      .where(col("c").isNotNull).count()
    assert(nulls === 0L)
    assert(Seq(Option.empty[String]).toDF("s")
      .select(expr("soundex_code(s)").as("c"))
      .where(col("c").isNotNull).count() === 0L)
  }

  test("nysiis_code: Taft vectors, head/tail transforms, codegen parity, null contract") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the classic published example set — each exercises a distinct
    // rule: head MAC/KN/PH/SCH, tail DT, EV, H/W absorption, vowel
    // flattening, final S/AY/A rewrites. Default = classic Taft 6-char
    // truncation (interop with other linkage systems).
    val vectors = Seq(
      "BROWN" -> "BRAN", "KNUTH" -> "NAT", "MACINTOSH" -> "MCANT",
      "PHILLIPSON" -> "FALAPS", "FERGUSON" -> "FARGAS",
      "JACKSON" -> "JACSAN", "WASHINGTON" -> "WASANG",
      "LAWSON" -> "LASAN", "DAY" -> "DY", "SCHMIDT" -> "SNAD",
      "brown" -> "BRAN", "O'Brien" -> "OBRAN")
    val got = vectors.map(_._1).toDF("s")
      .select(expr("nysiis_code(s)").as("c")).as[String].collect()
    vectors.map(_._2).zip(got).zip(vectors.map(_._1)).foreach {
      case ((want, g), in) => assert(g === want, s"nysiis($in)")
    }
    // nysiis_code(s, 0) keeps the full untruncated key; (s, n) cuts at n
    val longVectors = Seq(
      "PHILLIPSON" -> "FALAPSAN", "FERGUSON" -> "FARGASAN",
      "WASHINGTON" -> "WASANGTAN")
    val gotLong = longVectors.map(_._1).toDF("s")
      .select(expr("nysiis_code(s, 0)").as("c")).as[String].collect()
    longVectors.map(_._2).zip(gotLong).zip(longVectors.map(_._1)).foreach {
      case ((want, g), in) => assert(g === want, s"nysiis($in, 0)")
    }
    assert(Seq("WASHINGTON").toDF("s")
      .select(expr("nysiis_code(s, 4)").as("c")).as[String].head() === "WASA")
    // NYSIIS is strictly finer than soundex on this fixture domain:
    // every nysiis block is inside one soundex block is NOT guaranteed
    // in general, but determinism and format invariants are — letters
    // only, starts with the (transformed) head letter
    val keys = Tables.t(spark, sf, "part")
      .select(col("p_name"), expr("nysiis_code(split(p_name, ' ')[0])").as("c"))
      .collect()
    keys.foreach { r =>
      val direct = graft.functions.Nysiis.code(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          r.getString(0).split(" ")(0)))
      assert(Option(r.getString(1)) === Option(direct).map(_.toString),
        s"codegen and interpreted kernels must agree on ${r.getString(0)}")
      assert(r.getString(1).forall(ch => ch >= 'A' && ch <= 'Z'),
        "nysiis keys are uppercase letters only")
    }
    // no leading letter → NULL; NULL → NULL
    assert(Seq("123", "", "42nd?").toDF("s")
      .select(expr("nysiis_code(s)").as("c"))
      .where(col("c").isNotNull).count() === 0L)
    assert(Seq(Option.empty[String]).toDF("s")
      .select(expr("nysiis_code(s)").as("c"))
      .where(col("c").isNotNull).count() === 0L)
  }

  test("metaphone_code: spec vectors, digraph silences, codegen parity, null contract") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the scaladoc-spec vector set — each exercises a distinct rule:
    // head KN/WR/X, GH silence, digraph-H silence (PH/CH/SCH/TH),
    // DGE→J, final MB, vowel handling, W-absorb
    val vectors = Seq(
      "KNIGHT" -> "NT", "PHONE" -> "FN", "CHURCH" -> "XRX",
      "SCHOOL" -> "SKL", "WRIGHT" -> "RT", "JUDGE" -> "JJ",
      "BOMB" -> "BM", "SCIENCE" -> "SSNS", "THOMPSON" -> "0MPSN",
      "XAVIER" -> "SFR", "knight" -> "NT", "O'Brien" -> "OBRN")
    val got = vectors.map(_._1).toDF("s")
      .select(expr("metaphone_code(s)").as("c")).as[String].collect()
    vectors.map(_._2).zip(got).zip(vectors.map(_._1)).foreach {
      case ((want, g), in) => assert(g === want, s"metaphone($in)")
    }
    // optional truncation arg
    assert(Seq("THOMPSON").toDF("s")
      .select(expr("metaphone_code(s, 4)").as("c")).as[String].head() === "0MPS")
    // codegen and interpreted kernels agree over the fixture domain;
    // keys are uppercase letters/digit-0 only
    val keys = Tables.t(spark, sf, "part")
      .select(col("p_name"), expr("metaphone_code(split(p_name, ' ')[0])").as("c"))
      .collect()
    keys.foreach { r =>
      val direct = graft.functions.Metaphone.code(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          r.getString(0).split(" ")(0)), 0)
      assert(Option(r.getString(1)) === Option(direct).map(_.toString),
        s"codegen and interpreted kernels must agree on ${r.getString(0)}")
      assert(r.getString(1).forall(ch => (ch >= 'A' && ch <= 'Z') || ch == '0'),
        "metaphone keys are uppercase letters plus the TH digit")
    }
    // no leading letter → NULL; NULL → NULL
    assert(Seq("123", "", "42nd?").toDF("s")
      .select(expr("metaphone_code(s)").as("c"))
      .where(col("c").isNotNull).count() === 0L)
    assert(Seq(Option.empty[String]).toDF("s")
      .select(expr("metaphone_code(s)").as("c"))
      .where(col("c").isNotNull).count() === 0L)
  }

  test("dmetaphone: spec vectors for both keys, cross-key blocking, codegen parity, null contract") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the scaladoc-spec vector set (primary, alternate) — each pair
    // exercises a distinct dual-reading rule: initial S before M
    // (SM0/XMT), SCH (XMT/SMT), silent KN head, JOSE→H, TH→0 vs OM→T,
    // CH internal X/K, French final R, GN head, Slavic SZ
    val vectors = Seq(
      ("SMITH", "SM0", "XMT"), ("SCHMIDT", "XMT", "SMT"),
      ("KNIGHT", "NT", "NT"), ("JOSE", "HS", "HS"),
      ("THOMAS", "TMS", "TMS"), ("CHURCH", "XRX", "XRK"),
      ("CATHERINE", "K0RN", "KTRN"), ("WRIGHT", "RT", "RT"),
      ("XAVIER", "SF", "SFR"), ("GNOME", "NM", "NM"),
      ("SZYMANSKI", "SMNS", "XMNS"), ("smith", "SM0", "XMT"))
    val got = vectors.map(_._1).toDF("s")
      .select(expr("dmetaphone_code(s)").as("p"),
        expr("dmetaphone_alt(s)").as("a"))
      .as[(String, String)].collect()
    vectors.zip(got).foreach { case ((in, wp, wa), (gp, ga)) =>
      assert(gp === wp, s"dmetaphone_code($in)")
      assert(ga === wa, s"dmetaphone_alt($in)")
    }
    // the cross-key property the single-key family can't express:
    // SCHMIDT's primary equals SMITH's alternate — either-key blocking
    // puts them in one candidate block
    assert(Seq(("SCHMIDT", "SMITH")).toDF("x", "y")
      .where(expr("dmetaphone_code(x) = dmetaphone_alt(y)"))
      .count() === 1L)
    // optional length arg: n <= 0 keeps the full key
    assert(Seq("CATHERINE").toDF("s")
      .select(expr("dmetaphone_code(s, 0)").as("c")).as[String]
      .head() === "K0RN")
    assert(Seq("SZYMANSKI").toDF("s")
      .select(expr("dmetaphone_code(s, 0)").as("c")).as[String]
      .head() === "SMNSK")
    // codegen and interpreted kernels agree over the fixture domain
    val keys = Tables.t(spark, sf, "part")
      .select(col("p_name"),
        expr("dmetaphone_code(split(p_name, ' ')[0])").as("p"),
        expr("dmetaphone_alt(split(p_name, ' ')[0])").as("a"))
      .collect()
    keys.foreach { r =>
      val head = org.apache.spark.unsafe.types.UTF8String.fromString(
        r.getString(0).split(" ")(0))
      def direct(altKey: Boolean) = Option(
        graft.functions.DoubleMetaphone.code(head, altKey, 4)).map(_.toString)
      assert(Option(r.getString(1)) === direct(altKey = false),
        s"codegen/interpreted primary on ${r.getString(0)}")
      assert(Option(r.getString(2)) === direct(altKey = true),
        s"codegen/interpreted alternate on ${r.getString(0)}")
      assert(r.getString(1).forall(ch => (ch >= 'A' && ch <= 'Z') || ch == '0'),
        "keys are uppercase letters plus the TH digit")
    }
    // no leading letter → NULL; NULL → NULL (both keys)
    assert(Seq("123", "", "42nd?").toDF("s")
      .select(expr("dmetaphone_code(s)").as("p"), expr("dmetaphone_alt(s)").as("a"))
      .where(col("p").isNotNull || col("a").isNotNull).count() === 0L)
    assert(Seq(Option.empty[String]).toDF("s")
      .select(expr("dmetaphone_code(s)").as("c"))
      .where(col("c").isNotNull).count() === 0L)
  }

  test("quantile_sketch_agg: distributed digest ≡ single-partition digest; merge preserves quantiles; nulls skipped") {
    import spark.implicits._
    import graft.functions.QuantileSketch
    // deterministic skewed data: 90% in [0,100), 10% in [10000,11000)
    val vals = (0 until 20000).map(i =>
      if (i % 10 == 9) 10000.0 + (i % 1000) else (i % 100).toDouble)
    val df = vals.toDF("v")
    def digest(d: org.apache.spark.sql.DataFrame, parts: Int): String =
      d.repartition(parts)
        .agg(base64(expr("quantile_sketch_agg(v)")).as("s"))
        .head().getString(0)
    // GK merge is error-bounded, not bit-identical — compare the
    // QUANTILE ANSWERS of a 16-partition (merge-path) digest against a
    // 1-partition (pure-insert) digest on a fine grid
    val multi = QuantileSketch.fromBase64(digest(df, 16))
    val single = QuantileSketch.fromBase64(digest(df, 1))
    val grid = (0 to 64).map(_ / 64.0).toArray
    val (qm, qs1) = (multi.getPercentiles(grid), single.getPercentiles(grid))
    assert(qm.size === 65 && qs1.size === 65)
    qm.zip(qs1).zipWithIndex.foreach { case ((a, b), i) =>
      // skip the grid points hugging the head→tail cliff at rank 0.9:
      // there a ±ε rank error legitimately jumps the value by ~10000
      if ((grid(i) - 0.9).abs > 0.02)
        assert(math.abs(a - b) <= 110.0, // one head value step + slack
          s"quantile ${grid(i)}: merged $a vs single $b")
    }
    // the skew shape survives: p50 in the dense head, p95+ in the tail
    assert(multi.getPercentiles(Array(0.5)).head < 100.0)
    assert(multi.getPercentiles(Array(0.95)).head >= 10000.0)
    // driver-side mergeBase64 ≡ one digest over the union
    val (h1, h2) = (vals.take(10000), vals.drop(10000))
    val m = QuantileSketch.mergeBase64(
      digest(h1.toDF("v"), 4), digest(h2.toDF("v"), 4))
    val all = QuantileSketch.fromBase64(m)
    assert(math.abs(all.getPercentiles(Array(0.5)).head -
      single.getPercentiles(Array(0.5)).head) <= 110.0)
    // nulls are skipped, not zero-counted: digest of (nulls ++ 1,2,3)
    // has count 3 and median 2
    val withNulls = Seq[Option[Double]](None, None, Some(1.0), Some(2.0),
      Some(3.0)).toDF("v")
    val nd = QuantileSketch.fromBase64(digest(withNulls, 2))
    assert(nd.getPercentiles(Array(0.5)).head === 2.0)
    // foldable-literal accuracy arg resolves through both registries;
    // non-double input fails analysis loudly
    assert(Seq(1.0, 2.0).toDF("v")
      .agg(expr("quantile_sketch_agg(v, 128)")).head() != null)
    intercept[Exception] {
      Seq("x").toDF("s").agg(expr("quantile_sketch_agg(s)")).head()
    }
  }
}
