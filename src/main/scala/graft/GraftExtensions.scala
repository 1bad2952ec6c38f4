package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.graft.ActiveContextConf
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import graft.functions.{CollateKey, FloatVectorDot, HilbertIndex, InterleaveBits, JaroWinklerSimilarity, MinHashAgg, QuantileSketchAgg, SimHashAgg}

/** Spark extension entry point (SURVEY.md §2.10 / builder prompt: custom
  * operators register via `SparkSessionExtensions`). Activate with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * and graft's native expressions resolve in SQL and the DataFrame API on
  * every session of the application — the library-quality alternative to
  * per-session [[graft.functions.GraftFunctions.register]] (which remains
  * as an idempotent fallback for sessions created without the config). */
object GraftExtensions {
  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100), set on
    * the context of every graft session unless the user set the key.
    * The cache is one LRU per JVM, keyed by generated source, so a query
    * re-run with the same plan reuses its compiled classes only while
    * they are still cached. One pass of perfbench's four batch queries
    * compiles 213-217 classes (at most 64 per query), so at 100 entries
    * every re-run recompiled nearly every class (Janino, then the JIT);
    * at 4,096 a re-run compiles about a tenth of them. 4,096 holds one
    * warm pass of a batch sample of up to 64 such queries. A cached
    * entry costs about 7.7 KB of metaspace (a full cache about 31 MB;
    * `plans/codegen_cache.md`).
    * Known limit: Spark sizes the cache once per JVM, from the conf of
    * the session active on the thread where code is first generated; a
    * JVM that ran codegen before its first graft session, or first on a
    * thread with no active session, keeps Spark's size. */
  val GeneratedClassCacheEntries = 4096

  /** `minhash_agg(shingle[, numHashes])` — the optional second argument
    * must be a foldable int literal (it sizes the signature buffer). */
  val minHashBuilder: Seq[Expression] => Expression = {
    case Seq(shingle) => MinHashAgg(shingle)
    case Seq(shingle, n) =>
      MinHashAgg(shingle, n.eval().asInstanceOf[Number].intValue())
    case exprs => throw new IllegalArgumentException(
      s"minhash_agg expects 1 or 2 arguments, got ${exprs.length}")
  }

  /** `quantile_sketch_agg(x[, accuracy])` — the optional accuracy must
    * be a foldable int literal (it pins the sketch's relative error). */
  val quantileSketchBuilder: Seq[Expression] => Expression = {
    case Seq(x) => QuantileSketchAgg(x)
    case Seq(x, n) =>
      QuantileSketchAgg(x, n.eval().asInstanceOf[Number].intValue())
    case exprs => throw new IllegalArgumentException(
      s"quantile_sketch_agg expects 1 or 2 arguments, got ${exprs.length}")
  }

  /** `collate_key(s[, locale[, strength]])` — locale and strength must be
    * string literals: they pin one collator identity per expression. */
  val collateKeyBuilder: Seq[Expression] => Expression = { exprs =>
    def lit(e: Expression, what: String): String = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
          if v != null => v.toString
      case _ => throw new IllegalArgumentException(
        s"collate_key: $what must be a string literal")
    }
    val tag = if (exprs.length > 1) lit(exprs(1), "locale") else "en"
    val str = if (exprs.length > 2) lit(exprs(2), "strength") else "tertiary"
    CollateKey(exprs.head, tag, CollateKey.strengths.getOrElse(
      str.toLowerCase(java.util.Locale.ROOT),
      throw new IllegalArgumentException(
        s"collate_key: unknown strength '$str' " +
          s"(${CollateKey.strengths.keys.mkString("/")})")))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // keep generated classes between executions: the session's SQLConf
    // merges the context's conf after the extensions run
    ActiveContextConf.setDefault(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      GraftExtensions.GeneratedClassCacheEntries.toString)
    // ...and let one stage's code share its class wherever the stage sits:
    // with the stage id in the class name, a lookup that meets one more
    // scan branch numbers its stages differently and recompiles the same
    // code (plans/hoisted_literals.md)
    ActiveContextConf.setDefault(SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key, "false")
    // Maintenance SQL (DESCRIBE HISTORY/DETAIL, VACUUM, OPTIMIZE) — the
    // graft statements parse in GraftSqlParser, all other SQL delegates
    // to Spark's parser untouched.
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // year(c) <op> N → range bounds on c, so the predicate reaches the
    // parquet scan as a pushable min/max filter (see UnfoldDatePredicates)
    ext.injectOptimizerRule(_ => graft.plans.UnfoldDatePredicates)
    // aggregate-over-source → re-aggregate-over-MV redirection for
    // registered materialized views (see MvRewrite; off by conf or when
    // nothing is registered)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    // global COUNT/MIN/MAX over a DeltaLite scan → one-row LocalRelation
    // from the log's per-file stats (metadata-only aggregates)
    ext.injectOptimizerRule(_ => graft.plans.StatsAggRewrite)
    // verified PK-FK inner joins that project nothing from the dimension
    // drop the join operator entirely (see FkJoinElimination; off by
    // conf, disarmed by any commit to either table)
    ext.injectOptimizerRule(_ => graft.plans.FkJoinElimination)
    // log-stats FILE pruning for the branch-union read path: a Filter
    // over any DeltaLite-built scan drops whole files the log's
    // min/max stats prove empty (see BranchFilePruning)
    ext.injectOptimizerRule(_ => graft.plans.BranchFilePruning)
    // registered-format reads of PARTITIONED tables substitute the
    // direct-read branch-union plan, so static folding and the rule
    // below fire on catalog-mounted tables too (see FormatReadBranching)
    ext.injectOptimizerRule(_ => graft.plans.FormatReadBranching)
    // join-driven partition pruning for the per-partition union scan
    // shape: a small dimension's distinct keys, probed once at plan
    // time, empty the fact branches they can never match (see
    // DynamicBranchPruning; off by conf)
    ext.injectOptimizerRule(_ => graft.plans.DynamicBranchPruning)
    // comparison constants leave the generated source, so a lookup
    // re-run with new bounds reuses its compiled classes; a columnar
    // pre-transition rule runs just before CollapseCodegenStages on
    // non-AQE plans and on every AQE stage (see HoistLiterals)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.plans.HoistLiterals
    })
    // a Filter over an empty local relation (a lookup whose stats pruning
    // left no file) is that relation, before the optimizer compiles the
    // Filter's condition to evaluate it over no rows (see HoistLiterals)
    ext.injectPlanNormalizationRule(_ => graft.plans.HoistLiterals.EmptyRelationFilters)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => FloatVectorDot(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (exprs: Seq[Expression]) => SimHashAgg(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      GraftExtensions.minHashBuilder))
    ext.injectFunction((
      FunctionIdentifier("quantile_sketch_agg"),
      new ExpressionInfo(classOf[QuantileSketchAgg].getName, "quantile_sketch_agg"),
      GraftExtensions.quantileSketchBuilder))
    ext.injectFunction((
      FunctionIdentifier("interleave_bits"),
      new ExpressionInfo(classOf[InterleaveBits].getName, "interleave_bits"),
      (exprs: Seq[Expression]) => InterleaveBits(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("collate_key"),
      new ExpressionInfo(classOf[CollateKey].getName, "collate_key"),
      GraftExtensions.collateKeyBuilder))
    ext.injectFunction((
      FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
      (exprs: Seq[Expression]) => HilbertIndex(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("soundex_code"),
      new ExpressionInfo(classOf[graft.functions.SoundexCode].getName, "soundex_code"),
      (exprs: Seq[Expression]) => graft.functions.SoundexCode(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("nysiis_code"),
      new ExpressionInfo(classOf[graft.functions.NysiisCode].getName, "nysiis_code"),
      graft.functions.Nysiis.builder))
    ext.injectFunction((
      FunctionIdentifier("metaphone_code"),
      new ExpressionInfo(classOf[graft.functions.MetaphoneCode].getName, "metaphone_code"),
      graft.functions.Metaphone.builder))
    ext.injectFunction((
      FunctionIdentifier("dmetaphone_code"),
      new ExpressionInfo(classOf[graft.functions.DoubleMetaphoneCode].getName, "dmetaphone_code"),
      graft.functions.DoubleMetaphone.builder))
    ext.injectFunction((
      FunctionIdentifier("dmetaphone_alt"),
      new ExpressionInfo(classOf[graft.functions.DoubleMetaphoneCode].getName, "dmetaphone_alt"),
      graft.functions.DoubleMetaphone.altBuilder))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSimilarity].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinklerSimilarity(exprs.head, exprs(1))))
  }
}
