package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.LogFileScan
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.sources.DeltaLite

/** LOG-STATS FILE PRUNING for the branch-union read path — the
  * data-skipping gap the format-read work exposed: `DeltaLite.scan`
  * prunes files from explicit [[DeltaLite.ColumnBound]]s, but the
  * PRIMARY read surface (`DeltaLite.read(...).filter(...)`, and every
  * branch the union shape builds per partition) scheduled a task per
  * live file regardless of the filter — parquet row-group stats still
  * skipped DATA, but at 100 TB the cost that matters first is opening
  * ten thousand footers and scheduling ten thousand tasks the log
  * already knows are empty.
  *
  * Mechanism: [[graft.sources.DeltaLite]] tags every scan it builds
  * with the file group's log entries (path, per-file min/max stats —
  * driver-side metadata it already holds). After Spark's own
  * PushDownPredicates has moved a query's Filter down against the scan
  * (rewriting it onto the relation's PHYSICAL attribute names — which
  * is exactly how file stats are keyed), this rule:
  *
  *   1. translates the Filter's simple conjuncts (attr op literal,
  *      attr IN (literals)) into [[DeltaLite.ColumnBound]]s —
  *      non-translatable conjuncts simply contribute nothing;
  *   2. drops files whose stats PROVE no row can match
  *      ([[DeltaLite.pruneByStats]] — the same skip-safety core
  *      `scan()` uses, one shared implementation);
  *   3. rebuilds the scan over the kept subset (exprIds re-bound
  *      through an aliasing Project, the FormatReadBranching pattern),
  *      or replaces a provably-empty branch with an empty
  *      LocalRelation. The Filter STAYS — pruning only removes whole
  *      files, rows inside kept files still filter normally. The
  *      rebuilt scan comes from the kept log entries
  *      ([[org.apache.spark.sql.graft.LogFileScan]]), with no Spark
  *      listing: above 32 paths a listing is a job with one task per
  *      file, which would run inside query planning.
  *
  * Fixed-point termination: the rebuilt scan is re-tagged with the
  * KEPT subset, so a second visit with the same bounds prunes nothing
  * and leaves the plan unchanged; stacked/folded filters keep
  * tightening monotonically. Governance composes for free: masked
  * columns serve EXPRESSIONS (md5/concat/null literals), so no simple
  * attr-vs-literal conjunct on a masked column can reach the scan —
  * raw-stats pruning against masked literals (the scan()-path decline)
  * cannot arise here by construction.
  *
  * Scope: min/max bounds, IN-sets, per-file bloom probes on point
  * bounds, AND derived generated-column bounds (the scan()-path
  * `derivedGeneratedBounds` capability, via the tag's derive hook) —
  * on a partitioned branch a derived bound on the partition column
  * resolves against the branch's logged partition value, so a filter
  * on the BASE column of a generated partition column eliminates
  * whole branches. The branch path now matches `scan()`'s skipping
  * power; decisions surface in `EXPLAIN PRUNING` alongside DBP/FRB.
  * Kill switch: `spark.graft.branchFilePruning.enabled`.
  * Cost: driver-side metadata work proportional to the scan's file
  * count, only on plans that actually filter a tagged scan. */
object BranchFilePruning extends Rule[LogicalPlan] with PredicateHelper {

  /** What a tagged scan knows about itself: table root, PHYSICAL
    * column types (INCLUDING partition columns on the branch path, so
    * derived partition-column bounds can resolve against logged
    * partition values), the file group's log entries, and the table's
    * generated-column bound-derivation hook (physical-name space in
    * and out; `_ => Nil` when the table has no generated columns). */
  final case class BranchScanInfo(root: String,
      types: Map[String, DataType], files: Seq[DeltaLite.AddFile],
      derive: Seq[DeltaLite.ColumnBound] => Seq[DeltaLite.ColumnBound] =
        _ => Nil)

  val ScanTag: TreeNodeTag[BranchScanInfo] =
    TreeNodeTag[BranchScanInfo]("graft.bfp.scan")

  /** Bounds already evaluated against this scan instance: fixpoint
    * re-visits with the same bounds (the common case — the pruned or
    * unprunable Filter re-matches on every later iteration of both
    * operator batches) skip the probe job and the per-file bloom
    * decodes entirely. A SET of recent bound lists, not a single
    * slot: one scan node can sit under several Filters (a union of
    * two filters over the same read frame), and alternating visits
    * on a single-slot memo would overwrite each other and re-run the
    * probe work every fixpoint iteration. Bounded at
    * [[AppliedBoundsCap]] distinct lists — a pathological plan past
    * the cap degrades to redundant (never wrong) re-evaluation. A
    * rule that copies the node drops the tag entirely with the same
    * cost model. */
  private val AppliedBounds: TreeNodeTag[Seq[Seq[DeltaLite.ColumnBound]]] =
    TreeNodeTag[Seq[Seq[DeltaLite.ColumnBound]]]("graft.bfp.applied")
  private val AppliedBoundsCap = 16

  private def alreadyApplied(lr: LogicalRelation,
      bounds: Seq[DeltaLite.ColumnBound]): Boolean =
    lr.getTagValue(AppliedBounds).exists(_.contains(bounds))

  private def rememberApplied(lr: LogicalRelation,
      bounds: Seq[DeltaLite.ColumnBound]): Unit = {
    val prev = lr.getTagValue(AppliedBounds).getOrElse(Nil)
    if (!prev.contains(bounds))
      lr.setTagValue(AppliedBounds, (prev :+ bounds).takeRight(AppliedBoundsCap))
  }

  /** Substitution-transparency helper shared with
    * [[FormatReadBranching]]: project `sub` back onto `target`'s
    * names/exprIds/qualifiers so every parent operator sees the swap
    * as a no-op. ONE implementation — the rebind contract is
    * correctness-critical and must not drift between the two rules. */
  private[plans] def rebindToOutput(
      target: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      sub: LogicalPlan): Project = {
    val byName = sub.output.map(a => a.name -> a).toMap
    Project(target.map { o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId,
        qualifier = o.qualifier)
    }, sub)
  }

  /** Called by DeltaLite at scan-build time: tag the relation node
    * inside `df`'s plan with its file group. (Tags ride the node
    * instance through analysis reuse and makeCopy — the DBP/FRB
    * pattern.) */
  def tagScan(df: DataFrame, root: String,
      types: Map[String, DataType],
      files: Seq[DeltaLite.AddFile],
      derive: Seq[DeltaLite.ColumnBound] => Seq[DeltaLite.ColumnBound] =
        _ => Nil): DataFrame = {
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRelation =>
        lr.setTagValue(ScanTag, BranchScanInfo(root, types, files, derive))
      case _ => ()
    }
    df
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.branchFilePruning.enabled", "true")
        .toBoolean) return plan
    plan.transformUp {
      case f @ Filter(cond, lr: LogicalRelation)
          if lr.getTagValue(ScanTag).isDefined =>
        val info = lr.getTagValue(ScanTag).get
        val bounds = toBounds(cond, lr.outputSet)
        if (bounds.isEmpty) f
        else if (alreadyApplied(lr, bounds)) {
          // the memo skips the PROBE WORK only — the decision still
          // records, or a temp view's second identical EXPLAIN PRUNING
          // would silently lose its BFP row (the shared LogicalRelation
          // carries the memo across compiles)
          DynamicBranchPruning.recordDecisions(cond.sql, Seq(
            s"BranchFilePruning: kept all ${info.files.size} file(s) — " +
              "no file provably empty under these bounds (memoized)"))
          f
        }
        else {
          // point bounds on bloom-indexed columns also probe the
          // per-file blooms (the scan()-path capability, now on plain
          // filters): one tiny driver job hashes the literals with the
          // builder's own xxhash64 — a definitive miss in every probed
          // value drops the file even when min/max cover it
          val probes = DeltaLite.bloomProbeHashes(SparkSession.active,
            info.files.iterator.flatMap(_.bloom.keys).toSet,
            info.types, identity, bounds)
          // generated-column derivation (the scan()-path
          // derivedGeneratedBounds capability, now on plain filters): a
          // bound on a BASE column implies a bound on its monotone
          // generated column — on a partitioned branch that bound
          // resolves against the branch's logged partition value, so a
          // base-column filter can prove a whole branch empty
          val derived = info.derive(bounds)
          val kept = DeltaLite.pruneByStats(info.types, info.files,
            bounds ++ derived, probes)
          val how = Seq(
            if (probes.nonEmpty) Some(s"${probes.size} bloom probe col(s)")
            else None,
            if (derived.nonEmpty)
              Some(s"${derived.size} generated-column bound(s)")
            else None).flatten match {
            case Nil => ""
            case xs => xs.mkString(" (", ", ", ")")
          }
          if (kept.size >= info.files.size) {
            // nothing prunable under these bounds — remember, so every
            // later fixpoint visit skips the probe work entirely
            rememberApplied(lr, bounds)
            DynamicBranchPruning.recordDecisions(cond.sql, Seq(
              s"BranchFilePruning: kept all ${info.files.size} file(s) " +
                s"of ${info.root} — no file provably empty$how"))
            f
          }
          else if (kept.isEmpty) {
            logInfo(s"BranchFilePruning: ALL ${info.files.size} file(s) " +
              s"of ${info.root} proven empty for ${cond.sql}")
            DynamicBranchPruning.recordDecisions(cond.sql, Seq(
              s"BranchFilePruning: all ${info.files.size} file(s) of " +
                s"${info.root} proven empty — scan replaced by empty " +
                s"relation$how"))
            LocalRelation(f.output, Nil)
          } else {
            logInfo(s"BranchFilePruning: ${info.files.size - kept.size} " +
              s"of ${info.files.size} file(s) of ${info.root} pruned " +
              s"for ${cond.sql}")
            DynamicBranchPruning.recordDecisions(cond.sql, Seq(
              s"BranchFilePruning: pruned ${info.files.size - kept.size} " +
                s"of ${info.files.size} file(s) of ${info.root} from " +
                s"log stats$how"))
            val spark = SparkSession.active
            val rootP = java.nio.file.Paths.get(info.root)
            val physSchema = StructType(lr.output.map(a =>
              StructField(a.name, a.dataType, a.nullable)))
            val raw = LogFileScan.frame(spark, rootP, kept.map(_.path),
              physSchema).queryExecution.analyzed
            // the original scan carried the log's CatalogStatistics
            // (row count, CBO column stats — the S55 surface); the
            // rebuilt scan keeps them UNCHANGED: the Filter stays in
            // the plan and applies its selectivity to these stats
            // exactly once — restating row counts over the kept subset
            // would DOUBLE-APPLY the filter (file-level effect in the
            // relation, histogram selectivity in the Filter; measured
            // as a halved estimate). Physical I/O still reads only the
            // kept files; estimation describes the pre-filter table,
            // as it did before pruning.
            val sub = raw.transform {
              case l2: LogicalRelation if lr.catalogTable.isDefined =>
                l2.copy(catalogTable = lr.catalogTable)
            }
            // re-tag with the KEPT subset (stacked filters keep
            // pruning) AND the applied bounds (a same-bounds revisit
            // skips probe work — fixpoint no-op for free)
            sub.foreach {
              case l2: LogicalRelation =>
                l2.setTagValue(ScanTag, info.copy(files = kept))
                l2.setTagValue(AppliedBounds, Seq(bounds))
              case _ => ()
            }
            Filter(cond, rebindToOutput(lr.output, sub))
          }
        }
    }
  }

  /** [[toBounds]] for callers OUTSIDE the optimizer rule — THE
    * predicate→bound converter of the row-level DML candidate path:
    * [[DeltaLite.analyzePredicate]] turns every DELETE / UPDATE /
    * replaceWhere predicate and MERGE `incremental_predicates` into
    * bounds through it, on both logs (one pruning semantics, not two). External callers hand ANALYZED (not
    * optimized) conditions, which the rule itself never sees: type
    * coercion wraps literals in Cast (`id <= 4` on BIGINT becomes
    * `id <= cast(4 as bigint)`) and bounds may be written as
    * expressions (`day >= date_add(DATE'2024-01-31', 1)`). Unfolded,
    * either would silently disable its bound, so every deterministic
    * foldable subtree folds to a Literal first; one whose evaluation
    * throws stays as it is and contributes no bound. */
  private[graft] def boundsOf(cond: Expression,
      scanOutput: AttributeSet): Seq[DeltaLite.ColumnBound] =
    toBounds(cond.transformDown {
      case e if e.foldable && e.deterministic && !e.isInstanceOf[Literal] =>
        scala.util.Try(Literal(e.eval(null), e.dataType)).getOrElse(e)
    }, scanOutput)

  /** Simple conjuncts → stat bounds; everything else contributes
    * nothing (pruning stays an optimization). Literal values convert
    * to their external Scala form — the space [[DeltaLite.pruneFiles]]
    * normalizes from. */
  private def toBounds(cond: Expression,
      scanOutput: AttributeSet): Seq[DeltaLite.ColumnBound] = {
    def ext(v: Any, dt: DataType): Option[Any] =
      Option(CatalystTypeConverters.convertToScala(v, dt))
    splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a: AttributeReference, Literal(v, dt))
          if scanOutput.contains(a) =>
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, Some(x), Some(x))).toSeq
      case EqualTo(Literal(v, dt), a: AttributeReference)
          if scanOutput.contains(a) =>
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, Some(x), Some(x))).toSeq
      case GreaterThan(a: AttributeReference, Literal(v, dt))
          if scanOutput.contains(a) =>
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, lower = Some(x))).toSeq
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt))
          if scanOutput.contains(a) =>
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, lower = Some(x))).toSeq
      case LessThan(a: AttributeReference, Literal(v, dt))
          if scanOutput.contains(a) =>
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, upper = Some(x))).toSeq
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt))
          if scanOutput.contains(a) =>
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, upper = Some(x))).toSeq
      case GreaterThan(Literal(v, dt), a: AttributeReference)
          if scanOutput.contains(a) => // lit > a  ⇔  a < lit
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, upper = Some(x))).toSeq
      case LessThan(Literal(v, dt), a: AttributeReference)
          if scanOutput.contains(a) => // lit < a  ⇔  a > lit
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, lower = Some(x))).toSeq
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference)
          if scanOutput.contains(a) =>
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, upper = Some(x))).toSeq
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference)
          if scanOutput.contains(a) =>
        ext(v, dt).map(x =>
          DeltaLite.ColumnBound(a.name, lower = Some(x))).toSeq
      case In(a: AttributeReference, vs)
          if scanOutput.contains(a) && vs.nonEmpty &&
            vs.forall(_.isInstanceOf[Literal]) =>
        val xs = vs.collect { case Literal(v, dt) => ext(v, dt) }
        // a NULL in the list proves nothing about reachability; the
        // conjunct contributes no bound then
        if (xs.exists(_.isEmpty)) Nil
        else Seq(DeltaLite.ColumnBound(a.name, inSet = Some(xs.flatten)))
      case _ => Nil
    }
  }
}
