package graft.sources

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LogFileScan
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.jdk.CollectionConverters._

/** Versioned-table layer over parquet with Delta Lake semantics — the
  * storage layer of the reference stack (`/root/reference/README.md:1-2`:
  * "full deltalake implementation of medallion architecture"). No delta
  * jars are linkable in this offline environment (SURVEY.md §7.1), so the
  * Delta protocol behaviors the reference relies on are implemented
  * directly, as a FILE-LEVEL commit log (the actual Delta design, not
  * copy-on-write snapshots):
  *
  *   - commit log:    `path/_graft_log/<N>.json` — JSON-lines of actions,
  *                    exactly the Delta log shape:
  *                      {"commit":{...}}          version header + op
  *                      {"metaData":{"schema":…}} table schema (evolvable)
  *                      {"add":{"path":…,"rows":…,"stats":{col:{min,max}}}}
  *                      {"remove":{"path":…}}
  *                    committed atomically (write temp + rename) AFTER the
  *                    data write, so readers never see a half-written
  *                    version (the Delta log's visibility rule).
  *   - snapshot read: the graft-JSON codec decodes the log and the one
  *                    replay fold both logs share ([[replayLog]]) folds
  *                    it — from the cached tip, else the newest
  *                    checkpoint — into the live file set → one parquet
  *                    scan over exactly those files (distributed,
  *                    predicate-pushable), built from the log's file
  *                    list with no Spark listing: above 32 paths a
  *                    listing is a job with one task per file, paid on
  *                    every read before its own action starts.
  *   - APPEND writes ONLY the new batch (O(batch), never O(table)):
  *                    adds files, removes nothing — unchanged files are
  *                    never rewritten. At 100 TB a daily append costs the
  *                    day, not the decade.
  *   - row-level DML: one locator for both logs ([[locateRows]]) —
  *                    candidate files pruned by per-file min/max stats
  *                    (data skipping), then one positional read of the
  *                    candidates finds the matched live rows. Two write
  *                    tails sit on top: copy-on-write (MERGE / DELETE /
  *                    UPDATE / replaceWhere rewrite ONLY the touched
  *                    files; everything else is carried forward by
  *                    reference) and deletion vectors
  *                    ([[deleteVectorized]] and the `_delta_log`
  *                    exports: zero data files rewritten).
  *   - data skipping: [[scan]] prunes files whose [min,max] cannot
  *                    intersect a column bound before Spark ever opens
  *                    them — the Delta/iceberg stats-pruning read path.
  *   - time travel:   read any committed version (S5); [[vacuum]] is the
  *                    retention boundary.
  *
  * Stats are collected with one distributed pass over the freshly written
  * batch (grouped by `_metadata.file_path`), never over the whole table.
  * String min/max are stored untruncated (Delta truncates to 32 chars
  * with bound adjustment; our values are small — documented trade-off).
  */
object DeltaLite {

  // ------------------------------------------------------------ log model

  /** Per-column file statistics (driver-typed min/max; None when the file
    * is all-null for the column or the type is stat-ineligible). */
  final case class ColStats(min: Option[Any], max: Option[Any])

  /** One live data file: path relative to the table root + PHYSICAL row
    * count + data-skipping stats + optional deletion vector + partition
    * values (Hive-layout tables; string-encoded like Delta's
    * partitionValues). `dv` is the standard PROTOCOL.md descriptor of
    * this file's soft-deleted row indexes ([[DeletionVectors]]) — the
    * one DV format of both logs; `rows`/`stats` stay physical (valid
    * upper bounds for pruning — a DV only ever removes rows). */
  final case class AddFile(path: String, rows: Long, stats: Map[String, ColStats],
      dv: Option[DeletionVectors.Descriptor] = None,
      pv: Map[String, String] = Map.empty,
      bloom: Map[String, String] = Map.empty,
      bytes: Long = 0L,
      baseRowId: Option[Long] = None,
      rowCommitVersion: Option[Long] = None,
      /** Interop-only carry: a standard-Delta add's `modificationTime`,
        * preserved so a DV flip restates the ORIGINAL value instead of
        * stamping the flip's wall clock (foreign consumers key
        * incremental processing on it). The native log never emits it. */
      mtime: Option[Long] = None)

  /** Resolved table state at a version: schema + live file set +
    * CHECK constraints (name → SQL predicate, enforced on every write) +
    * partition columns (log-carried — partition pruning happens on the
    * commit log's partitionValues BEFORE any stats pruning or file
    * listing, the Delta partitioned-table read path). */
  /** Identity-column spec (Delta `GENERATED ALWAYS AS IDENTITY`): values
    * allocate from `highWater` in `step` increments. Allocation is SPARSE
    * (monotonically_increasing_id spacing — unique and ascending, gaps
    * allowed, exactly Delta's documented contract) so a batch needs no
    * extra pass or global ordering shuffle; the new high water is read
    * back from the batch's own parquet footer stats. */
  final case class IdentityCol(start: Long, step: Long,
      highWater: Option[Long] = None)

  final case class Snapshot(version: Long, schema: StructType, files: Seq[AddFile],
      txns: Map[String, Long] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil,
      physical: Map[String, String] = Map.empty,
      generated: Map[String, String] = Map.empty,
      identity: Map[String, IdentityCol] = Map.empty,
      properties: Map[String, String] = Map.empty,
      /** Versions of row-removing commits ([[ChurnOps]]) SINCE the last
        * ANALYZE — tracked during log replay at zero extra I/O, so the
        * stats serve path can disarm NDV/nulls/histograms the standing
        * ANALYZE can no longer vouch for (appends fold; deletes can't —
        * sketches don't subtract). Empty when the table has no standing
        * stats. A cold replay from a checkpoint sees only post-checkpoint
        * commits, so this is a LOWER bound there (same caveat as
        * cleanupLogs-pruned history). */
      churnVersions: Seq[Long] = Nil,
      /** `_delta_log` state the native log leaves empty: the protocol
        * action, the remove TOMBSTONES keyed by logical file identity
        * (path, DV descriptor) → deletionTimestamp (PROTOCOL.md
        * checkpoints restate them for foreign VACUUM), and `metaData.id`
        * (checkpoints restate it: foreign streams pin table identity). */
      protocol: Protocol = Protocol(),
      tombstones: Map[(String, Option[DeletionVectors.Descriptor]), Long] =
        Map.empty,
      tableId: Option[String] = None) {
    def filePaths(root: Path): Seq[String] = files.map(f => root.resolve(f.path).toString)
    def totalRows: Long = files.map(_.rows).sum
    /** Sum of logged file sizes (0 for pre-sizes-era adds). */
    def totalBytes: Long = files.map(_.bytes).sum
    /** Column mapping (Delta column-mapping mode `name`): the PHYSICAL
      * parquet column backing logical column `c`. Assigned at column
      * birth and never changed — RENAME remaps logical→physical only, so
      * files written before and after a rename share physical names and
      * are never rewritten. Identity for unmapped columns. */
    def phys(c: String): String = physical.getOrElse(c, c)
    /** Physical → logical column name (Delta keys partitionValues by
      * the physical name under column mapping). */
    lazy val physToLogical: Map[String, String] = physical.map(_.swap)
    /** Column types keyed by PHYSICAL name — the key space of file
      * stats, so decoding an add's stats is one lookup per column. */
    lazy val statTypes: Map[String, DataType] =
      if (schema == null) Map.empty
      else schema.fields.map(f => phys(f.name) -> f.dataType).toMap
    /** Live files by table-relative path. */
    lazy val byPath: Map[String, AddFile] =
      files.iterator.map(f => f.path -> f).toMap
  }

  /** A Delta `protocol` action: reader and writer versions and feature
    * lists. Only `_delta_log` replay sets it — the native log carries
    * its features in table properties ([[ProtocolReaderKey]]). */
  final case class Protocol(minReader: Int = 1, readerFeatures: Seq[String] = Nil,
      minWriter: Int = 1, writerFeatures: Seq[String] = Nil)

  /** Inclusive column bound for stats-based file pruning: a file is kept
    * unless its stats PROVE it cannot contain a row in [lower, upper].
    * Missing stats ⇒ kept (pruning is only ever an optimization).
    *
    * `strictExact = true` marks a DERIVED string bound whose generating
    * function is only order-faithful on canonical-width values (e.g.
    * `date_format(ts,'yyyy-MM')`: lexical order matches time order only
    * while years have 4 digits — year 10000 formats LOW). Such a bound
    * is decisive only against an EXACT stat (min == max, the logged
    * partition value) of the SAME string length; ranged stats or a
    * width mismatch keep the file. */
  final case class ColumnBound(column: String, lower: Option[Any] = None,
      upper: Option[Any] = None, strictExact: Boolean = false,
      inSet: Option[Seq[Any]] = None)

  object ColumnBound {
    /** IN-set bound: a file is kept only if SOME value of `values` could
      * be inside its [min, max] (exactly a point lookup per value — on a
      * partition column this is exact log-level partition pruning of an
      * arbitrary point SET, not its covering range). The point-set
      * consumers (ANN probe lists, dictionary-key lookups) need this
      * because a covering [min, max] range over a sparse set like
      * {0, 7} would open every partition in between; at 100 TB with
      * hundreds of cells that is ~(max−min)/|set|× extra reads. An empty
      * set proves no row can match, so every file prunes. */
    def in(column: String, values: Seq[Any]): ColumnBound =
      ColumnBound(column, inSet = Some(values))
  }

  /** Serializes the outputTimestampType set→write→restore window across
    * concurrent DeltaLite writes sharing one session (see writeData). */
  private val tsWriteLock = new Object

  private def root(path: String): Path = Paths.get(path).toAbsolutePath.normalize()
  private def logDir(path: String): Path = root(path).resolve("_graft_log")

  /** COMMIT-CLAIM STORE — the object-store port seam. Every write path
    * on both logs funnels into [[claim]] through ONE claim-and-retry
    * loop ([[claimLoop]]); its three-property contract is what that
    * loop's three lost-race rules (Reapply for appends, Rebase for
    * rewrites, Decline for every other op — see [[LostRace]]) and
    * snapshot replay are derived from:
    *  (1) claiming a target either succeeds for exactly ONE racing
    *      writer or throws `FileAlreadyExistsException` — never two
    *      winners;
    *  (2) a won target is IMMUTABLE — no later claim may replace or
    *      mutate it (readers cache replayed versions forever);
    *  (3) a failed claim leaves no partial or temporary state visible.
    * The default [[PosixCommitClaimStore]] satisfies them with
    * CREATE_NEW + link(2) on a single POSIX filesystem. An object-store
    * port implements this ONE trait instead: S3 conditional PUT
    * (`If-None-Match: *`, native since 2024-08), GCS
    * `x-goog-if-generation-match: 0`, Azure ETag `If-None-Match: *` —
    * each is exactly (1)+(2), and (3) holds because the conditional PUT
    * IS the only write. Stores without conditional create need an
    * external coordinator claiming (table, version) — the
    * DynamoDB-style log-store design. `readImmutable`/`listLog` are the
    * matching read/list surface (GET / LIST on an object store).
    * ScaleSpec's "commit claim contract" test runs BOTH the POSIX impl
    * and an in-memory conditional-PUT mock through the contract. */
  trait CommitClaimStore {
    /** Atomic claim of `target` with `content` — contract (1)-(3).
      *
      * RECOVERY CONTRACT for real stores (what the engine guarantees
      * and what an impl may therefore throw):
      *  - known failure (target taken): throw
      *    `FileAlreadyExistsException` — [[claimLoop]] owns it and
      *    applies the commit's lost-race rule (reapply, rebase or
      *    decline);
      *  - UNKNOWN outcome (request timeout, dropped response — "did my
      *    PUT land?"): throw [[AmbiguousClaimException]]. The engine
      *    resolves it at the commit boundary by READ-BACK COMPARE:
      *    it reads the target and (a) treats byte-identical content as
      *    its own landed claim (success, no double-apply), (b) treats
      *    different content as a lost race (the lost-race rule
      *    applies), (c) retries the claim a bounded number of times
      *    when nothing landed.
      *    Read-back compare is sound because commit payloads are
      *    globally unique (added files carry UUID names), so a racer's
      *    commit can never be byte-identical to this writer's;
      *  - transient LIST staleness (eventual consistency) is tolerated
      *    by the same loop: a claim at a stale version fails as taken,
      *    Reapply and Rebase re-snapshot and advance — they converge as
      *    soon as the list does, and never double-assign a version
      *    (the claim, not the list, is the arbiter). ScaleSpec's flaky
      *    store suite drives all three injections through the full OCC
      *    scenario. */
    def claim(target: Path, content: Array[Byte]): Unit
    /** Lines of a claimed (immutable) log file. */
    def readImmutable(target: Path): Seq[String]
    /** File names in a log directory (Nil if the directory is absent). */
    def listLog(dir: Path): Seq[String]
    /** Existence probe for a log artifact (HEAD on an object store).
      * Default suits stores that mirror claims onto the local
      * filesystem; pure remote stores override. */
    def exists(target: Path): Boolean = Files.exists(target)
    /** Retention-driven deletion of an EXPIRED log artifact (DELETE on
      * an object store) — the one place immutability is waived, used
      * only by [[cleanupLogs]] behind its checkpoint-anchor guard.
      * Legacy multi-part checkpoint dirs delete recursively on POSIX;
      * object stores have no dirs, so the default's recursion is a no-op
      * there. */
    def deleteLog(target: Path): Unit = {
      if (Files.isDirectory(target)) { // legacy multi-part checkpoint dir
        val parts = Files.list(target)
        try parts.iterator().asScala.foreach(Files.deleteIfExists(_))
        finally parts.close()
      }
      Files.deleteIfExists(target)
      ()
    }
  }

  /** PLANE SPLIT, stated once: the claim store is the CONTROL-PLANE
    * authority — every JSON log artifact (commit files, json/v2
    * checkpoint manifests) is claimed, read, listed, and probed through
    * it, so porting the log to an object store is implementing this one
    * trait ([[HttpObjectStoreClaimStore]] is that port, exercised
    * end-to-end in the suite against a local conditional-PUT server).
    * DATA-plane artifacts — parquet data files, parquet checkpoints,
    * DV/sidecar parquet — ride Spark's Hadoop filesystem layer, which
    * speaks object stores natively (s3a/gs/abfs); the engine never
    * assumes their bytes are reachable through the claim store. */

  /** A claim whose outcome the store cannot determine (timeout after
    * the request may have been applied) — see the recovery contract on
    * [[CommitClaimStore.claim]]. */
  final class AmbiguousClaimException(target: Path, cause: Throwable = null)
      extends java.io.IOException(
        s"claim outcome unknown for $target (did the PUT land?)", cause)

  /** The ONE commit-boundary claim, with ambiguity resolution: claims
    * `target`, resolving [[AmbiguousClaimException]] by read-back
    * compare per the trait contract. Exactly-one-winner and
    * no-double-apply hold because the payload is unique to this writer
    * and a landed claim is immutable. */
  private[sources] def claimCommit(target: Path, lines: Seq[String]): Unit = {
    val bytes = lines.mkString("\n").getBytes("UTF-8")
    var attempts = 0
    var sawAmbiguity = false
    // bounded re-reads: a transient read error during RECOVERY must not
    // force a wrong conclusion while the store is still flapping
    def readBack(): Option[Seq[String]] = {
      var tries = 0
      while (tries < 3) {
        try return Some(claimStore.readImmutable(target))
        catch { case scala.util.control.NonFatal(_) => tries += 1 }
      }
      None
    }
    while (true) {
      try { claimStore.claim(target, bytes); return }
      catch {
        case a: AmbiguousClaimException =>
          sawAmbiguity = true
          attempts += 1
          readBack() match {
            case Some(l) if l == lines => return // own claim landed
            case Some(_) => // a racer's commit is there — normal OCC loss
              throw new java.nio.file.FileAlreadyExistsException(
                target.toString)
            case None => // nothing readable: the PUT likely failed
              if (attempts >= 5) throw a
          }
        case e: java.nio.file.FileAlreadyExistsException if sawAmbiguity =>
          // an earlier ambiguous attempt may have been the winner: a
          // plain rethrow would feed the rebase loop and DOUBLE-APPLY
          // this writer's own landed commit as if a racer had won —
          // verify by read-back before declaring the race lost
          readBack() match {
            case Some(l) if l == lines => return // it was ours all along
            case Some(_) => throw e // a real racer won — rebase
            case None =>
              // the target exists (the claim said so) but cannot be
              // read: stay AMBIGUOUS — failing loudly is safe, feeding
              // the rebase loop is not
              throw new AmbiguousClaimException(target, e)
          }
      }
    }
  }

  /** THE claim-and-retry loop both logs commit through: [[commit]] on
    * `_graft_log`, the mutating exports on `_delta_log`. `attempt`
    * builds one commit against a state and claims its version through
    * [[claimCommit]] as its LAST step, so a `FileAlreadyExistsException`
    * reaching the loop is a lost version claim and nothing else. `lost`
    * is the lost-race rule: given the state the losing attempt was
    * built on and the number of claims lost so far, it returns the
    * freshly replayed tip to rebuild against, or throws to decline. The
    * first attempt runs on the caller's state, so a commit that wins
    * its race replays nothing. */
  private[sources] def claimLoop[S](first: S)(attempt: S => Long)(
      lost: (S, Int) => S): Long = {
    var st = first
    var losses = 0
    while (true) {
      try return attempt(st)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          losses += 1
          st = lost(st, losses)
      }
    }
    -1L // unreachable
  }

  object PosixCommitClaimStore extends CommitClaimStore {
    /** Unique temp per writer, then an atomic hard link to the final
      * name: link(2) fails with FileAlreadyExistsException when the
      * target is already taken, so exactly ONE racing writer wins and
      * no winner's file can be silently replaced. (Files.move's
      * no-replace check is check-then-rename — NOT atomic on POSIX,
      * where rename overwrites — and a shared temp name lets racers
      * clobber each other's content; both races were caught by the
      * 8-writer test under full-suite load.) */
    override def claim(target: Path, content: Array[Byte]): Unit = {
      val tmp = target.getParent.resolve(
        s".${target.getFileName}-${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      Files.write(tmp, content, StandardOpenOption.CREATE_NEW)
      try Files.createLink(target, tmp) // atomic claim + visibility
      finally Files.deleteIfExists(tmp)
    }
    override def readImmutable(target: Path): Seq[String] =
      Files.readAllLines(target).asScala.toSeq
    override def listLog(dir: Path): Seq[String] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val stream = Files.list(dir)
        try stream.iterator().asScala.map(_.getFileName.toString).toList
        finally stream.close()
      }
  }

  /** Thread-scoped store override (test seam — suites share the JVM, so
    * a global swap would leak into concurrent suites' commits); commits
    * and log reads run on the calling thread. */
  private val claimStoreOverride = new ThreadLocal[CommitClaimStore]
  private[graft] def withClaimStore[T](s: CommitClaimStore)(f: => T): T = {
    claimStoreOverride.set(s)
    try f finally claimStoreOverride.remove()
  }
  private def claimStore: CommitClaimStore =
    Option(claimStoreOverride.get()).getOrElse(PosixCommitClaimStore)

  /** Latest committed version, if the table exists. */
  def latestVersion(path: String): Option[Long] = {
    val vs = claimStore.listLog(logDir(path))
      .filter(_.matches("""\d+\.json"""))
      .map(_.stripSuffix(".json").toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  // ---------------------------------------------------- stats (de)coding

  /** Types that get min/max stats. Everything else (arrays, maps, structs,
    * binary, boolean) is carried without stats — never pruned on. */
  private def statEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Encode a collected min/max value as JSON for the log. Also accepts
    * the DECODED representation (epoch-day / epoch-micros longs for
    * temporal types) so re-encoding a decoded stat is the identity —
    * [[encodeAdd]] writes stats that [[decodeStat]] produced. */
  private def encodeStat(dt: DataType, v: Any): Option[JValue] = (dt, v) match {
    case (_, null) => None
    case (DateType | TimestampType | TimestampNTZType, l: Long) =>
      Some(JLong(l))
    case (FloatType, f: java.lang.Float) if f.isNaN => None
    case (DoubleType, d: java.lang.Double) if d.isNaN => None
    case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
      Some(JLong(n.longValue()))
    case (FloatType | DoubleType, n: Number) => Some(JDouble(n.doubleValue()))
    case (_: DecimalType, d: java.math.BigDecimal) => Some(JString(d.toString))
    case (_: DecimalType, d: BigDecimal) => Some(JString(d.toString))
    case (StringType, s: String) => Some(JString(s))
    case (DateType, d: java.sql.Date) => Some(JLong(d.toLocalDate.toEpochDay))
    case (DateType, d: java.time.LocalDate) => Some(JLong(d.toEpochDay))
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(JLong(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L))
    case (TimestampType, i: java.time.Instant) =>
      Some(JLong(i.getEpochSecond * 1000000L + i.getNano / 1000L))
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some(JLong(t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
        t.getNano / 1000L))
    case _ => None
  }

  /** Decode a logged stat back to a comparable driver value. The decoded
    * representation only needs to be consistent with [[cmp]]. */
  private def decodeStat(dt: DataType, j: JValue): Option[Any] = (dt, j) match {
    case (_, JNull | JNothing) => None
    case (ByteType | ShortType | IntegerType | LongType |
          DateType | TimestampType | TimestampNTZType, JLong(l)) => Some(l)
    case (ByteType | ShortType | IntegerType | LongType |
          DateType | TimestampType | TimestampNTZType, JInt(i)) => Some(i.toLong)
    case (FloatType | DoubleType, JDouble(d)) => Some(d)
    case (FloatType | DoubleType, JLong(l)) => Some(l.toDouble)
    case (FloatType | DoubleType, JInt(i)) => Some(i.toDouble)
    case (_: DecimalType, JString(s)) => Some(BigDecimal(s))
    case (StringType, JString(s)) => Some(s)
    case _ => None
  }

  /** Delta-style string stat truncation (32 chars). Unbounded string
    * stats make the log O(value length) per file per column — at 100 TB
    * with document-sized strings the log would dwarf the data. The
    * truncated forms stay valid prune bounds by construction:
    *  - min keeps a 32-char prefix, which sorts ≤ every value it
    *    summarizes;
    *  - max increments the last incrementable char of the prefix so it
    *    sorts ≥ every value sharing the prefix; if every prefix char is
    *    already ￿ the max stat is DROPPED (the file then can't be
    *    pruned on this column's lower bound — conservative, never wrong).
    */
  private[graft] val MaxStringStatLen = 32
  private def truncStatMin(dt: DataType, v: Any): Any = (dt, v) match {
    case (StringType, s: String) if s.length > MaxStringStatLen =>
      s.substring(0, MaxStringStatLen)
    case _ => v
  }
  private def truncStatMax(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (StringType, s: String) if s.length > MaxStringStatLen =>
      val prefix = s.substring(0, MaxStringStatLen).toCharArray
      // A char is safely incrementable only when c+1 is still a valid
      // non-surrogate BMP char: incrementing into U+D800..U+DFFF (or a
      // surrogate itself) would encode as '?' bytes and break the
      // UTF-8-order upper bound. U+FFFF stays "max-like" and is skipped.
      def incrementable(c: Char): Boolean =
        c < 0xD7FF || (c >= 0xE000 && c < 0xFFFF)
      var i = prefix.length - 1
      while (i >= 0 && !incrementable(prefix(i))) i -= 1
      if (i < 0) None
      else Some(new String(prefix, 0, i) + (prefix(i) + 1).toChar)
    case _ => Some(v)
  }

  /** Normalize a caller-supplied bound value (e.g. a java.sql.Timestamp
    * from a Row, or a plain Int) to the comparable space of [[decodeStat]]. */
  private def normBound(dt: DataType, v: Any): Option[Any] =
    encodeStat(dt, v).flatMap(j => decodeStat(dt, j))

  /** Compare two decoded stat values of column type `dt`. Strings compare
    * by UNSIGNED UTF-8 byte order — the order parquet writers use for
    * binary min/max — so footer stats, logged stats, and caller bounds
    * all live in one ordering for all of Unicode (String.compareTo's
    * UTF-16 code-unit order disagrees for supplementary characters vs
    * U+E000–U+FFFF, which could wrongly prune a file). */
  private def cmp(dt: DataType, a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => 0 // incomparable ⇒ treat as overlapping (never prune wrongly)
  }

  /** Files of `snap` that could contain a row satisfying every bound —
    * the data-skipping core. A file is dropped only when stats PROVE
    * max < lower or min > upper for some bound. On a partitioned table a
    * bound naming a partition column resolves against the file's logged
    * partition value (an EXACT min==max bound — log-level partition
    * pruning, stronger than stats and free of any file listing). */
  def pruneFiles(snap: Snapshot, bounds: Seq[ColumnBound],
      bloomProbes: Map[String, Seq[Long]] = Map.empty): Seq[AddFile] = {
    val types = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val dec = java.util.Base64.getDecoder
    snap.files.filter { f =>
      bounds.forall { b =>
        types.get(b.column) match {
          case Some(dt) =>
            // stats are keyed by PHYSICAL column name (stable across
            // renames); partition values by logical (= physical for
            // partition columns, which cannot be renamed)
            val st: Option[ColStats] = f.stats.get(snap.phys(b.column)).orElse(
              f.pv.get(b.column).flatMap(parsePartitionValue(dt, _))
                .map(v => ColStats(Some(v), Some(v))))
            fileMayMatch(dt, st, b)
          case None => true
        }
      } && bloomKeeps(f, bloomProbes, dec)
    }
  }

  /** Bloom verdict for one file: a definitive miss for EVERY probed
    * value proves the file holds no matching row; a file without a
    * bloom for this column is always kept (decode once, probe each
    * value). Shared by [[pruneFiles]] and [[pruneByStats]]. */
  private def bloomKeeps(f: AddFile, probes: Map[String, Seq[Long]],
      dec: java.util.Base64.Decoder): Boolean =
    probes.forall { case (pn, hashes) =>
      f.bloom.get(pn).forall { b64 =>
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(dec.decode(b64)))
        hashes.exists(bf.mightContainLong)
      }
    }

  /** The per-(file, bound) decision [[pruneFiles]] and [[pruneByStats]]
    * share — ONE implementation of the skip-safety rules (strictExact
    * decisiveness, lo/hi comparisons, IN-set reachability), so the two
    * call sites can never diverge on what "provably cannot match"
    * means. */
  private def fileMayMatch(dt: DataType, st: Option[ColStats],
      b: ColumnBound): Boolean = {
    // a strictExact bound may only prune on an EXACT same-width
    // stat — ranged or width-mismatched stats could hide values
    // where the deriving function folds out of lexical order
    def decisive(bound: Any): Boolean = !b.strictExact ||
      ((st.flatMap(_.min), st.flatMap(_.max)) match {
        case (Some(mn), Some(mx)) if mn == mx => (mn, bound) match {
          case (s1: String, s2: String) => s1.length == s2.length
          case _ => true
        }
        case _ => false
      })
    val loOk = (for { lo <- b.lower; nlo <- normBound(dt, lo); mx <- st.flatMap(_.max) }
      yield !decisive(nlo) || cmp(dt, mx, nlo) >= 0).getOrElse(true)
    val hiOk = (for { hi <- b.upper; nhi <- normBound(dt, hi); mn <- st.flatMap(_.min) }
      yield !decisive(nhi) || cmp(dt, mn, nhi) <= 0).getOrElse(true)
    // IN-set: kept only if SOME value could be inside [min, max].
    // Stats-free files are kept; an unnormalizable value keeps the
    // file (pruning stays an optimization); an EMPTY set prunes
    // every file that HAS stats (no value can match).
    val inOk = b.inSet.forall { vs =>
      st.isEmpty || vs.exists { v =>
        normBound(dt, v) match {
          case None => true
          case Some(nv) => !decisive(nv) ||
            (st.flatMap(_.min).forall(mn => cmp(dt, mn, nv) <= 0) &&
             st.flatMap(_.max).forall(mx => cmp(dt, mx, nv) >= 0))
        }
      }
    }
    loOk && hiOk && inOk
  }

  /** Stats pruning for an ALREADY-SELECTED file group — the branch-scan
    * path ([[graft.plans.BranchFilePruning]]). Bounds name PHYSICAL
    * columns — the names file stats are keyed by, which is what a
    * pushed-down Filter references at the scan. Partition-value
    * fallback included: a bound on a partition column (derived from a
    * generated-column shape, typically — direct partition predicates
    * constant-fold branch-side and never reach the scan) resolves
    * against the logged partition value exactly as [[pruneFiles]]
    * does; since a branch group shares one partition value, the effect
    * is whole-branch elimination. Partition columns cannot be renamed,
    * so physical = logical there and the shared key space is sound. */
  private[graft] def pruneByStats(types: Map[String, DataType],
      files: Seq[AddFile], bounds: Seq[ColumnBound],
      bloomProbes: Map[String, Seq[Long]] = Map.empty): Seq[AddFile] = {
    val dec = java.util.Base64.getDecoder
    files.filter(f => bounds.forall(b => types.get(b.column) match {
      case Some(dt) =>
        val st = f.stats.get(b.column).orElse(
          f.pv.get(b.column).flatMap(parsePartitionValue(dt, _))
            .map(v => ColStats(Some(v), Some(v))))
        fileMayMatch(dt, st, b)
      case None => true
    }) && bloomKeeps(f, bloomProbes, dec))
  }

  /** Decode a Hive-layout partition value string into [[cmp]]'s
    * comparable space. Unparseable / unsupported types yield None — the
    * file is then kept (pruning stays an optimization). */
  private def parsePartitionValue(dt: DataType, s: String): Option[Any] = {
    if (s == "__HIVE_DEFAULT_PARTITION__") return None // null partition
    try dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(s.toLong)
      case StringType => Some(s)
      case DateType => Some(java.time.LocalDate.parse(s).toEpochDay)
      case FloatType | DoubleType => Some(s.toDouble)
      case _ => None
    } catch { case _: RuntimeException => None }
  }

  // ------------------------------------------------------------- replay

  private def parseLine(line: String): JValue = JsonMethods.parse(line)

  /** A JSON integer as Long (json4s parses small ones as JInt). */
  private[sources] def longOf(j: Option[JValue]): Option[Long] =
    j.collect { case JLong(l) => l; case JInt(i) => i.toLong }

  /** Commits between checkpoints: every CHECKPOINT_INTERVAL-th commit
    * also writes `checkpoint-<V>.json` — the full resolved state at V —
    * so replay reads one checkpoint + at most CHECKPOINT_INTERVAL-1
    * incremental commits instead of the whole history (the Delta
    * `_last_checkpoint` design; keeps log replay O(1) in table age). */
  val CheckpointInterval: Long = 10L

  /** A discovered checkpoint: its version and its file name's suffix.
    * `json` is the inline form, `checkpoint-<V>.json`; `v2.json` is the
    * sidecar manifest, whose add rows live in parquet files under
    * `_graft_log/_sidecars/` (Delta's v2Checkpoint design, see
    * [[writeCheckpoint]]); `parquet` is the legacy multi-part directory
    * `checkpoint-<V>.parquet/`, no longer written but still read. The
    * suffix ranks replay preference at a version tie: v2.json > parquet
    * > json (all restate the same resolved state). */
  private final case class CkptRef(version: Long, suffix: String) {
    def name: String = s"checkpoint-$version.$suffix"
    def rank: Int = suffix match {
      case "v2.json" => 2
      case "parquet" => 1
      case _ => 0
    }
  }

  private val CheckpointName = """checkpoint-(\d+)\.(json|v2\.json|parquet)""".r

  /** The checkpoint a log file name names, if any. */
  private def checkpointName(n: String): Option[CkptRef] = n match {
    case CheckpointName(v, suffix) => Some(CkptRef(v.toLong, suffix))
    case _ => None
  }

  /** Every readable checkpoint among the log's file names `names`; the
    * sidecar and legacy parquet forms only when `sessionOk` (their
    * replay needs a live session — skipped, never a crash). A legacy
    * parquet directory counts once Spark's `_SUCCESS` marker exists. */
  private def checkpointRefs(path: String, names: Seq[String],
      sessionOk: Boolean): Seq[CkptRef] =
    names.flatMap(checkpointName).filter(c => c.suffix match {
      case "json" => true
      case "v2.json" => sessionOk
      case _ => sessionOk &&
        Files.exists(logDir(path).resolve(c.name).resolve("_SUCCESS"))
    })

  // --------------------------------------------- protocol table features

  /** Delta table-features protocol, emulated on the metadata-properties
    * channel (real Delta carries a separate `protocol` action; ours rides
    * `metaData.properties`, which every commit, checkpoint, RESTORE and
    * clone already re-states/forwards — same refusal semantics, zero new
    * replay machinery). A feature in the READER set gates every snapshot
    * resolution; a feature in the WRITER set additionally gates commits.
    * The point is FORWARD compatibility: a log written by a future/other
    * implementation that requires a feature this engine does not know
    * must refuse loudly instead of silently misreading. Feature-requiring
    * operations auto-register (widenColumnType → typeWidening,
    * deleteVectorized → deletionVectors), mirroring Delta's automatic
    * protocol upgrades. "v2Checkpoint" (manifest + sidecar checkpoints,
    * [[writeCheckpoint]]) is a SUPPORTED reader feature since round 7 —
    * tables whose checkpoints use the sidecar form are readable, and ones
    * requiring features beyond this list still refuse. */
  private[graft] val ProtocolReaderKey = "graft.protocol.readerFeatures"
  private[graft] val ProtocolWriterKey = "graft.protocol.writerFeatures"
  private[graft] val SupportedReaderFeatures: Set[String] = Set(
    "deletionVectors", "columnMapping", "typeWidening", "timestampNtz",
    "generatedColumns", "rowTracking", "changeDataFeed", "v2Checkpoint")
  private[graft] val SupportedWriterFeatures: Set[String] =
    SupportedReaderFeatures ++ Set(
      "appendOnly", "checkConstraints", "identityColumns", "columnDefaults",
      "copyInto", "liquidClustering", "bloomFilters", "optimizedWrite",
      "autoCompact")

  private def featureSet(props: Map[String, String], key: String): Set[String] =
    props.getOrElse(key, "").split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** Delta `delta.enableRowTracking`. */
  private[graft] def rowTrackingEnabled(props: Map[String, String]): Boolean =
    props.exists { case (k, v) =>
      k.equalsIgnoreCase("delta.enableRowTracking") && v.equalsIgnoreCase("true") }

  /** STABLE-tier row tracking (Delta row-tracking spec, `materialized
    * row ids`): physical column names under which rewrite paths
    * (OPTIMIZE / CLUSTER / REORG) persist each row's id and
    * last-modified commit version INTO the rewritten files. Data files
    * are read through an explicit logical-schema projection, so these
    * extra physical columns are invisible to every normal read; only
    * [[readWithRowIds]] projects them, preferring the materialized value
    * over the fresh-tier `baseRowId + position` computation. This is
    * exactly Delta's fresh/stable split: fresh ids are log arithmetic
    * (cheap, but re-assigned when a rewrite produces new files); stable
    * ids survive compaction because the rewrite wrote them down. */
  private[graft] val MatRowIdCol = "_graft_row_id_phys"
  private[graft] val MatRowCommitCol = "_graft_row_commit_phys"

  private def checkReaderFeatures(path: String,
      props: Map[String, String]): Unit = {
    val unknown = featureSet(props, ProtocolReaderKey) -- SupportedReaderFeatures
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"table at $path requires reader features ${unknown.toSeq.sorted
        .mkString(", ")} this engine does not support; refusing to read " +
        "rather than misinterpret the log")
  }

  private def checkWriterFeatures(path: String,
      props: Map[String, String]): Unit = {
    val unknown = featureSet(props, ProtocolWriterKey) -- SupportedWriterFeatures
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"table at $path requires writer features ${unknown.toSeq.sorted
        .mkString(", ")} this engine does not support; the table stays " +
        "readable but refuses commits")
    // A commit must not POISON the table either: setProperties / ALTER SET
    // TBLPROPERTIES could slip an unknown value into the READER feature key
    // (the writer check above would pass), after which every snapshot()
    // throws — including the UNSET commit that would fix it, since commits
    // resolve a snapshot first. The table would be permanently unreadable
    // by the engine that wrote it. Mirror the enableTableFeature guard here
    // at the single commit choke point.
    val unknownR = featureSet(props, ProtocolReaderKey) -- SupportedReaderFeatures
    if (unknownR.nonEmpty) throw new UnsupportedOperationException(
      s"refusing to commit reader features ${unknownR.toSeq.sorted
        .mkString(", ")} at $path: this engine does not support them, so " +
        "the commit would make the table unreadable by its own writer")
  }

  /** Merge `feature` into the properties' reader and/or writer feature
    * sets (a writer feature is implied by a reader feature, like Delta). */
  private[sources] def withFeature(props: Map[String, String], feature: String,
      reader: Boolean): Map[String, String] = {
    val w = (featureSet(props, ProtocolWriterKey) + feature).toSeq.sorted
    val base = props + (ProtocolWriterKey -> w.mkString(","))
    if (!reader) base
    else {
      val r = (featureSet(props, ProtocolReaderKey) + feature).toSeq.sorted
      base + (ProtocolReaderKey -> r.mkString(","))
    }
  }

  /** Test/introspection hook: is `feature` required by these properties? */
  private[graft] def featurePresent(props: Map[String, String],
      reader: Boolean, feature: String): Boolean =
    featureSet(props,
      if (reader) ProtocolReaderKey else ProtocolWriterKey).contains(feature)

  /** Manually require a table feature (Delta `ALTER TABLE ... SET
    * TBLPROPERTIES ('delta.feature.X' = 'supported')` analogue). Only
    * features THIS engine supports can be enabled through it — a foreign
    * feature can only ever arrive via a log another writer produced. */
  def enableTableFeature(path: String, feature: String,
      reader: Boolean = false): Long = {
    val snap = snapshot(path)
    require(SupportedWriterFeatures.contains(feature) &&
        (!reader || SupportedReaderFeatures.contains(feature)),
      s"cannot require feature '$feature': this engine does not support " +
        "it, so the resulting table would refuse itself")
    commit(path, snap, "SET_PROTOCOL_FEATURE", next = snap.copy(
      properties = withFeature(snap.properties, feature, reader)))
  }

  /** Tip-snapshot cache (the Delta driver's snapshot-management design),
    * shared by both logs: `snapshot()` is on EVERY operation's path, and
    * a full log replay per call is O(live files) decoding — the hot
    * metadata cost once a table holds millions of files. The cache keeps
    * the last resolved TIP per LOG DIRECTORY (`_graft_log` and
    * `_delta_log` of one root are two tables: CONVERT FROM DELTA leaves
    * the foreign log beside the native one); a later call folds only
    * the commits SINCE it (usually zero or one), after an always-fresh
    * listing — so external writers' commits are seen immediately and
    * staleness is impossible. Historical `asOf` reads bypass the cache
    * (checkpoint-based replay). */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()
  private val SnapCacheMax = 512

  /** Test hook: drop all cached tips (forces full checkpoint replays). */
  private[graft] def clearSnapshotCache(): Unit = snapCache.clear()

  /** The native table at version `asOf` (default latest): the
    * `_graft_log` codec ([[GraftLog]]) through the shared replayer
    * ([[replayLog]] — tip cache, checkpoint selection, [[fold]]).
    * Sidecar and legacy parquet checkpoints need a live session; without
    * one their discovery skips them (checkpoints are an optimization,
    * commits stay the source of truth — a cost difference, never a
    * correctness one). */
  def snapshot(path: String, asOf: Option[Long] = None): Snapshot =
    replayLog(GraftLog, SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession), path, asOf)

  /** One log action as a codec decodes it — from a `_graft_log` or a
    * `_delta_log` commit line, or a row of either log's checkpoints —
    * for [[fold]]. */
  private[sources] sealed trait LogAction
  private[sources] object LogAction {
    /** metaData: the table metadata it sets, given the metadata in force
      * (a Delta metaData may leave fields unset). */
    final case class Meta(update: Snapshot => Snapshot) extends LogAction
    final case class SetProtocol(protocol: Protocol) extends LogAction
    /** add: the file, typed against the metadata in force once its
      * commit's metaData applied (stats need the schema). */
    final case class Add(decode: Snapshot => AddFile) extends LogAction
    /** remove, with the eviction rule its codec states. `exactDv` is
      * PROTOCOL.md's: the live file leaves only when its DV identity
      * equals `dv` (none matches none — a DV flip may list its add
      * before the remove of the superseded identity), and (path, `dv`)
      * is tombstoned at `deletedAt`. Otherwise (the native log) the path
      * leaves whatever its DV — OPTIMIZE over a DV'd file names the path
      * only — and nothing is tombstoned. */
    final case class Remove(path: String,
        dv: Option[DeletionVectors.Descriptor], deletedAt: Long,
        exactDv: Boolean) extends LogAction
    final case class Txn(app: String, version: Long) extends LogAction
    /** The native commit header's op: a [[ChurnOps]] op whose commit
      * added or removed a file marks its version as row churn. */
    final case class CommitOp(op: String) extends LogAction
  }

  /** The one replay fold of both logs: applies each commit's actions to
    * `base` — a checkpoint folds as one commit at its version — and
    * returns the snapshot at the last commit. Within a commit, metaData
    * and protocol apply first: PROTOCOL.md does not order a commit's
    * lines, and adds need the schema to type their stats (and, under
    * column mapping, to name their partition columns). Row churn keeps
    * only versions newer than the standing ANALYZE (an ANALYZE or fold
    * commit moves `analyzedVersion` forward and clears older churn). */
  private[sources] def fold(base: Snapshot,
      commits: Iterator[(Long, Seq[LogAction])]): Snapshot = {
    import LogAction._
    var meta = base
    val live = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    base.files.foreach(f => live(f.path) = f)
    val txns = scala.collection.mutable.HashMap[String, Long]() ++= base.txns
    val tombs = scala.collection.mutable.LinkedHashMap[
      (String, Option[DeletionVectors.Descriptor]), Long]() ++= base.tombstones
    var version = base.version
    commits.foreach { case (v, actions) =>
      version = v
      val (head, rest) = actions.partition {
        case _: Meta | _: SetProtocol => true
        case _ => false
      }
      head.foreach {
        case Meta(update) => meta = update(meta)
        case SetProtocol(p) => meta = meta.copy(protocol = p)
        case _ => ()
      }
      val touched = rest.exists {
        case _: Add | _: Remove => true
        case _ => false
      }
      rest.foreach {
        case Add(decode) =>
          val f = decode(meta)
          live(f.path) = f
          // resurrects exactly THIS logical file: a tombstone of the same
          // path under another DV names a superseded file and stays
          tombs.remove((f.path, f.dv))
        case Remove(p, _, _, false) => live.remove(p)
        case Remove(p, dv, at, true) =>
          if (live.get(p).exists(_.dv == dv)) live.remove(p)
          tombs((p, dv)) = at
        case Txn(app, ver) =>
          txns(app) = math.max(ver, txns.getOrElse(app, Long.MinValue))
        case CommitOp(op) =>
          if (ChurnOps(op) && touched)
            meta = meta.copy(churnVersions = meta.churnVersions :+ v)
        case _ => ()
      }
    }
    val churn = props_analyzedVersion(meta.properties) match {
      case Some(av) => meta.churnVersions.distinct.filter(_ > av).sorted
      case None => Nil // no standing stats — nothing to disarm
    }
    meta.copy(version = version, files = live.values.toSeq,
      txns = txns.toMap, tombstones = tombs.toMap, churnVersions = churn)
  }

  /** One log format's half of the replayer ([[replayLog]]): where its log
    * lives, its listing, its checkpoint discovery, its decoding of
    * commits and checkpoints into [[LogAction]]s, and its read gate.
    * [[GraftLog]] is the `_graft_log` codec; `DeltaInterop.DeltaLog` is
    * the PROTOCOL.md one. */
  private[sources] trait LogCodec {
    def logDir(path: String): Path
    def list(path: String): LogListing
    /** The version `asOf` (default latest) names; throws, in this log's
      * own terms, when the table or the version does not exist. */
    def target(path: String, log: LogListing, asOf: Option[Long]): Long
    /** The readable checkpoints at or below `v`, newest first, each with
      * the reader of its actions. */
    def checkpoints(spark: Option[SparkSession], path: String,
        log: LogListing, v: Long): Seq[(Long, () => Seq[LogAction])]
    def commit(path: String, v: Long): Seq[LogAction]
    /** The read gate every replayed snapshot passes. */
    def gate(path: String, snap: Snapshot): Unit
  }

  /** One listing of a log: its file names, the versions of its commit
    * files, and its latest version. */
  private[sources] final case class LogListing(names: Seq[String],
      commits: Set[Long], latest: Option[Long])

  /** The base a cold replay folds from: no metadata, no files. */
  private[sources] val Unreplayed: Snapshot = Snapshot(-1L, null, Nil)

  /** THE snapshot entry of both logs: one listing, then the cached tip
    * when it is the target; else a forward [[fold]] of the commits after
    * the cached tip; else (a historical read, a cold cache, or a commit
    * after the tip gone to log cleanup) the newest checkpoint at or below
    * the target whose later commits are all present, else every commit
    * from version 0. The codec gates the result; a latest-version result
    * becomes the cached tip. */
  private[sources] def replayLog(codec: LogCodec, spark: Option[SparkSession],
      path: String, asOf: Option[Long]): Snapshot = {
    val log = codec.list(path)
    val v = codec.target(path, log, asOf)
    val key = codec.logDir(path).toString
    val cached = snapCache.get(key)
    if (cached != null && cached.version == v) return cached
    def reaches(from: Long): Boolean = (from + 1 to v).forall(log.commits)
    def commitsAfter(from: Long): Iterator[(Long, Seq[LogAction])] =
      (from + 1 to v).iterator.map(c => c -> codec.commit(path, c))
    val snap =
      if (cached != null && cached.version < v && reaches(cached.version))
        fold(cached, commitsAfter(cached.version))
      else codec.checkpoints(spark, path, log, v).find(c => reaches(c._1)) match {
        case Some((cp, read)) =>
          fold(Unreplayed, Iterator(cp -> read()) ++ commitsAfter(cp))
        case None if reaches(-1L) => fold(Unreplayed, commitsAfter(-1L))
        case None => throw new IllegalStateException(
          s"cannot reconstruct version $v at $path: the commits do not " +
            "reach back to version 0 and no checkpoint at or below it is " +
            "followed by all of its commits")
      }
    codec.gate(path, snap)
    if (log.latest.contains(v)) {
      if (snapCache.size >= SnapCacheMax) snapCache.clear()
      snapCache.put(key, snap)
    }
    snap
  }

  /** The `_graft_log` codec: graft-JSON commits `<v>.json` listed and
    * read through the claim store, its checkpoints (the inline JSON and
    * sidecar-manifest files, one reader, and the legacy multi-part
    * parquet directory; see [[CkptRef]]), and the reader-feature gate. */
  private object GraftLog extends LogCodec {
    def logDir(path: String): Path = DeltaLite.logDir(path)

    def list(path: String): LogListing = {
      val names = claimStore.listLog(logDir(path))
      val commits = names.iterator.filter(_.matches("""\d+\.json"""))
        .map(_.stripSuffix(".json").toLong).toSet
      LogListing(names, commits, commits.maxOption)
    }

    def target(path: String, log: LogListing, asOf: Option[Long]): Long = {
      val latest = log.latest.getOrElse(
        throw new IllegalArgumentException(s"no DeltaLite table at $path"))
      val v = asOf.getOrElse(latest)
      require(v <= latest, s"version $v was never committed at $path")
      if (!log.commits(v))
        throw new IllegalArgumentException(
          s"version $v at $path was pruned by log retention cleanup " +
            s"(earliest retained commit: ${log.commits.min})")
      v
    }

    def checkpoints(spark: Option[SparkSession], path: String,
        log: LogListing, v: Long): Seq[(Long, () => Seq[LogAction])] =
      checkpointRefs(path, log.names, sessionOk = spark.isDefined)
        .filter(_.version <= v).groupBy(_.version).values
        .map(_.maxBy(_.rank)).toSeq.sortBy(-_.version)
        .map(c => c.version -> (() =>
          if (c.suffix == "parquet")
            readParquetCheckpoint(spark.get, path, c.version)
          else readCheckpoint(spark, path, c)))

    def commit(path: String, v: Long): Seq[LogAction] =
      graftActions(claimStore.readImmutable(logDir(path).resolve(s"$v.json")),
        s"table $path version $v")

    def gate(path: String, snap: Snapshot): Unit = {
      require(snap.schema != null, s"log at $path has no metaData action")
      // forward-compat gate: a log requiring reader features we don't
      // implement must refuse resolution, not silently misread
      checkReaderFeatures(path, snap.properties)
    }
  }

  /** The graft-JSON codec: commit or checkpoint lines → [[LogAction]]s.
    * A native `remove` names a path only and evicts it whatever its DV. */
  private def graftActions(lines: Seq[String], where: String): Seq[LogAction] =
    lines.filter(_.nonEmpty).flatMap(line => parseLine(line) match {
      case JObject(fields) => fields.flatMap {
        case ("metaData", JObject(m)) => Some(LogAction.Meta(graftMeta(m)))
        case ("add", a: JObject) =>
          Some(LogAction.Add(s => decodeAdd(a, s, where)))
        case ("remove", JObject(r)) => r.collectFirst {
          case ("path", JString(p)) =>
            LogAction.Remove(p, None, 0L, exactDv = false)
        }
        case ("txn", JObject(t)) =>
          val m = t.toMap
          for {
            app <- m.get("app").collect { case JString(a) => a }
            ver <- longOf(m.get("version"))
          } yield LogAction.Txn(app, ver)
        case ("commit", JObject(c)) =>
          c.collectFirst { case ("op", JString(op)) => LogAction.CommitOp(op) }
        case _ => None
      }
      case _ => Nil
    })

  /** A native metaData action. Constraints, partition columns, the
    * column-mapping table, generated and identity columns and properties
    * ride it beside the schema: every commit re-states them, so absence
    * (old logs, or a RESTORE to a pre-constraint metadata) means "none".
    * The checkpoint-persisted churn carrier (see [[writeCheckpoint]]) is
    * harvested the moment a metaData carries it — whichever action
    * carries the key, its versions land in the churn list and the key
    * never surfaces in table properties or rides into a commit. */
  private def graftMeta(m: List[(String, JValue)]): Snapshot => Snapshot = {
    def strMap(k: String): Map[String, String] = m.collectFirst {
      case (`k`, JObject(kv)) =>
        kv.collect { case (n, JString(x)) => n -> x }.toMap
    }.getOrElse(Map.empty)
    val schema = m.collectFirst { case ("schema", JString(s)) =>
      DataType.fromJson(s).asInstanceOf[StructType] }
    val partitionBy = m.collectFirst { case ("partitionBy", JArray(ps)) =>
      ps.collect { case JString(p) => p }
    }.getOrElse(Nil)
    val identity = m.collectFirst { case ("identityColumns", JObject(ids)) =>
      ids.collect { case (c, JObject(spec)) =>
        val sm = spec.toMap
        def num(k: String): Option[Long] = longOf(sm.get(k))
        c -> IdentityCol(num("start").getOrElse(1L),
          num("step").getOrElse(1L), num("highWater"))
      }.toMap
    }.getOrElse(Map.empty[String, IdentityCol])
    val props = strMap("properties")
    val pendingChurn = props.get(PendingChurnKey).toSeq
      .flatMap(_.split(',').filter(_.nonEmpty))
      .flatMap(x => scala.util.Try(x.toLong).toOption)
    s => s.copy(schema = schema.getOrElse(s.schema),
      constraints = strMap("constraints"), partitionBy = partitionBy,
      physical = strMap("physicalNames"), generated = strMap("generatedColumns"),
      identity = identity, properties = props - PendingChurnKey,
      churnVersions = s.churnVersions ++ pendingChurn)
  }

  /** A native add, its stats typed through `meta` (stats are keyed by
    * PHYSICAL column name; each key's type is the logical field it
    * currently backs). */
  private def decodeAdd(a: JObject, meta: Snapshot, where: String): AddFile = {
    val m = a.obj.toMap
    val p = m.get("path").collect { case JString(s) => s }
      .getOrElse(sys.error("add action without path"))
    val rows = longOf(m.get("rows")).getOrElse(0L)
    val stats = m.get("stats") match {
      case Some(JObject(cols)) =>
        cols.flatMap { case (cn, cv) =>
          (meta.statTypes.get(cn), cv) match {
            case (Some(dt), JObject(mm)) =>
              val mmm = mm.toMap
              Some(cn -> ColStats(
                mmm.get("min").flatMap(decodeStat(dt, _)),
                mmm.get("max").flatMap(decodeStat(dt, _))))
            case _ => None
          }
        }.toMap
      case _ => Map.empty[String, ColStats]
    }
    val dv = m.get("dv") match {
      case Some(o: JObject) => Some(DeletionVectors.parseJValue(o, where))
      case Some(JString(old)) => retiredDvFormat(where, old)
      case _ => None
    }
    val pv = m.get("pv") match {
      case Some(JObject(vals)) =>
        vals.collect { case (c, JString(s)) => c -> s }.toMap
      case _ => Map.empty[String, String]
    }
    val bloom = m.get("bloom") match {
      case Some(JObject(vals)) =>
        vals.collect { case (c, JString(s)) => c -> s }.toMap
      case _ => Map.empty[String, String]
    }
    AddFile(p, rows, stats, dv, pv, bloom, longOf(m.get("bytes")).getOrElse(0L),
      longOf(m.get("baseRowId")), longOf(m.get("rowCommitVersion")))
  }

  /** Before the standard descriptor, the native log named a parquet
    * directory of (path, row_index) rows in `dv`. No reader for that
    * form remains: replay declines it instead of reading the file
    * without its deletes. */
  private def retiredDvFormat(where: String, value: String): Nothing =
    throw new IllegalStateException(s"$where: an add carries the " +
      s"parquet-directory deletion vector '$value', a format this build " +
      "no longer reads; REORG TABLE ... APPLY (PURGE) the table with a " +
      "build that still reads it, then reopen it here")

  // -------------------------------------------------------------- write

  /** Write `df` (aligned to `schema`) as the data of version `version`;
    * returns one AddFile per produced parquet part. Row counts and
    * min/max stats come from the PARQUET FOOTERS the write itself
    * produced (the Iceberg design) — a driver-side metadata read per
    * file, ZERO extra Spark jobs. Earlier versions ran a second
    * distributed group-by-file pass over the fresh batch; at bench scale
    * that doubled every write's job count, and at 100 TB it re-reads the
    * day's data once more for numbers the writer already computed.
    *
    * With `partitionBy` non-empty the batch lands in Hive layout
    * (`col=value/` dirs) under the version dir, partition values are
    * parsed from each file's path, and the data files carry only the
    * non-partition columns — the Delta partitioned-table file shape. */
  private def writeData(spark: SparkSession, tableRoot: Path, version: Long,
      df: DataFrame, schema: StructType,
      partitionBy: Seq[String],
      physical: Map[String, String],
      generated: Map[String, String],
      properties: Map[String, String]): Seq[AddFile] = {
    // uuid suffix: data dirs never collide, so concurrent writers only
    // contend at the commit rename (see commit helpers below)
    val dir = tableRoot.resolve(
      f"files-$version%05d-" + java.util.UUID.randomUUID.toString.take(8))
    // INT96 (Spark's historical default for TIMESTAMP) carries no usable
    // footer statistics; micros INT64 is the modern format and stats-true.
    // outputTimestampType has no per-writer option (checked ParquetOptions
    // — only compression/mergeSchema/rebase modes). The conf dance only
    // matters when the schema actually carries an LTZ timestamp AND the
    // session isn't already on MICROS (all graft mains + TestSpark set it
    // at build time) — every other write goes straight through, because
    // the fallback lock below serializes EVERY DeltaLite write on the
    // session and that shows up immediately under concurrent benching.
    def doWrite(): Unit = {
      // data files carry PHYSICAL column names (column mapping): rename
      // after aligning to the logical schema. Identity when no column
      // was ever renamed. Partition columns are not renamable, so the
      // partitionBy dirs keep their (logical = physical) names.
      // Generated columns are RECOMPUTED from their expressions on every
      // write (Delta `GENERATED ALWAYS AS`): rewrite paths (merge/update/
      // compact) stay consistent by construction — the recompute is one
      // extra expression in the same write projection, never a pass —
      // and an appended batch may simply omit them. Explicit wrong
      // values are rejected earlier (generatedChecks) in the append
      // family, like Delta.
      val gened =
        if (generated.isEmpty) df
        else {
          val base = df.columns.filterNot(generated.contains)
          df.select(base.map(df.col).toSeq ++ schema.fields.toSeq.collect {
            case f if generated.contains(f.name) =>
              expr(generated(f.name)).cast(f.dataType).as(f.name)
          }: _*)
        }
      // Materialized row-tracking columns (stable tier) ride through the
      // alignment untouched when the rewrite path attached them — they
      // are physical-only (never in the logical schema, never renamed).
      val matCols = df.columns.toSeq
        .filter(c => c == MatRowIdCol || c == MatRowCommitCol)
      val aligned = align(gened, schema, matCols)
      val renamed =
        if (physical.isEmpty) aligned
        else aligned.select(schema.fields.map(f =>
          col(f.name).as(physical.getOrElse(f.name, f.name))).toSeq ++
          matCols.map(col): _*)
      // OPTIMIZED WRITE (Delta `delta.autoOptimize.optimizeWrite`, opt-in
      // via `graft.optimizeWrite = true`): size the write's task count to
      // the DATA volume instead of inheriting the plan's parallelism, so
      // a small commit produces a few right-sized files rather than one
      // sliver per shuffle partition. The estimate is Catalyst's static
      // sizeInBytes (no extra job), binned at `graft.optimizeWrite.
      // binSize` (default 128 MiB of in-memory bytes) and clamped to the
      // session's shuffle parallelism so a bad estimate can never UNDER-
      // parallelize a genuinely large write below 1 task per bin nor
      // exceed normal fan-out. Partitioned tables shuffle on their
      // partition columns (rows of one dir land together — at most one
      // file per dir per task) exactly like Delta's optimized shuffle;
      // unpartitioned writes round-robin. Cost: one extra exchange of the
      // final data — the trade Delta makes too; upstream parallelism is
      // untouched (repartition, never coalesce, which would collapse the
      // whole stage).
      val sized = {
        val enabled = properties.collectFirst {
          case (k, v) if k.equalsIgnoreCase("graft.optimizeWrite") => v
        }.exists(v => v.equalsIgnoreCase("true") || v == "1")
        if (!enabled) renamed
        else {
          val bin = properties.collectFirst {
            case (k, v) if k.equalsIgnoreCase("graft.optimizeWrite.binSize") => v
          }.flatMap(v => scala.util.Try(v.toLong).toOption)
            .getOrElse(128L * 1024 * 1024)
          val est = renamed.queryExecution.optimizedPlan.stats.sizeInBytes
          val cap = spark.sessionState.conf.numShufflePartitions
          val n = ((est + bin - 1) / bin).min(cap).max(1).toInt
          if (partitionBy.nonEmpty)
            renamed.repartition(n, partitionBy.map(col): _*)
          else renamed.repartition(n)
        }
      }
      val w = sized.write.mode("errorifexists")
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
        .parquet(dir.toString)
    }
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val hasLtz = schema.fields.exists(_.dataType == TimestampType)
    if (!hasLtz || spark.conf.getOption(tsKey).contains("TIMESTAMP_MICROS"))
      doWrite()
    else tsWriteLock.synchronized {
      // save/restore under a lock so concurrent DeltaLite writes on the
      // same session can't restore it out from under each other; unrelated
      // non-DeltaLite writes racing this window are the caller's caveat
      // (graft.Verify casts its outputs to NTZ for exactly this).
      val prevTs = spark.conf.getOption(tsKey)
      spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      try doWrite()
      finally prevTs match {
        case Some(v) => spark.conf.set(tsKey, v)
        case None    => spark.conf.unset(tsKey)
      }
    }
    attachBlooms(spark, tableRoot,
      footerAdds(spark, tableRoot, dir, schema, partitionBy, physical),
      schema, partitionBy, physical, properties)
  }

  /** Per-file Bloom filter indexes (Delta's bloom index / BigQuery's
    * search-index shape): with `graft.bloom.columns = c1,c2` in the
    * table properties, every data write also records an ~numBits-wide
    * bloom of each listed column per file, and a POINT-lookup bound on
    * that column can then skip files min/max can't — the unclustered
    * high-cardinality case (a needle order id in a time-partitioned
    * table) where every file's [min,max] spans the whole key space.
    * Built by Spark's own runtime-filter aggregate (bloom_agg) in ONE
    * distributed pass over just the new files; probed driver-side with
    * the sketch library's mightContainLong. False positives only ever
    * OPEN an extra file, never change results. */
  private def attachBlooms(spark: SparkSession, tableRoot: Path,
      adds: Seq[AddFile], schema: StructType, partitionBy: Seq[String],
      physical: Map[String, String],
      properties: Map[String, String]): Seq[AddFile] = {
    val cols = properties.collectFirst {
        case (k, v) if k.equalsIgnoreCase("graft.bloom.columns") => v
      }
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .filter(c => schema.fieldNames.contains(c) && !partitionBy.contains(c))
    if (cols.isEmpty || adds.isEmpty) return adds
    val numBits = properties.collectFirst {
        case (k, v) if k.equalsIgnoreCase("graft.bloom.bits") => v
      }.flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(65536L)
    graft.functions.GraftFunctions.register(spark)
    val paths = adds.map(f => tableRoot.resolve(f.path).toString)
    val perFile = spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(count(lit(1)).as("__n"), cols.map { c =>
        val pn = physical.getOrElse(c, c)
        call_function("bloom_agg", xxhash64(col(pn)),
          lit(math.max(1L, numBits / 10)), lit(numBits)).as(pn)
      }: _*)
      .collect()
    val b64 = java.util.Base64.getEncoder
    val byPath = perFile.map { r =>
      // input_file_name is a URI; resolve back to the log-relative path
      val abs = java.nio.file.Paths.get(new java.net.URI(r.getString(0)).getPath)
      val rel = tableRoot.relativize(abs).toString
      rel -> cols.flatMap { c =>
        val pn = physical.getOrElse(c, c)
        Option(r.getAs[Array[Byte]](pn)).map(pn -> b64.encodeToString(_))
      }.toMap
    }.toMap
    adds.map(f => f.copy(bloom = byPath.getOrElse(f.path, Map.empty)))
  }

  /** One AddFile per parquet part under `dir`, with rows + per-column
    * min/max decoded from the files' own footers (no Spark job). Stats
    * are keyed by PHYSICAL column name — the name actually in the
    * footer, stable across renames. */
  private[graft] def footerAdds(spark: SparkSession, tableRoot: Path, dir: Path,
      schema: StructType, partitionBy: Seq[String],
      physical: Map[String, String]): Seq[AddFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val statFields = schema.fields
      .filter(f => statEligible(f.dataType) && !partitionBy.contains(f.name))
    val walk = Files.walk(dir)
    val parts = try {
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
    } finally walk.close()
    parts.map { p =>
      val rel = tableRoot.relativize(p).toString
      val pv = partitionValuesOf(dir.relativize(p).toString)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val byName = blocks.flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
        val stats = statFields.flatMap { f =>
          val pn = physical.getOrElse(f.name, f.name)
          footerColStats(f.dataType, byName.getOrElse(pn, Nil))
            .map(pn -> _)
        }.toMap
        AddFile(rel, rows, stats, None, pv, bytes = Files.size(p))
      } finally reader.close()
    }
  }

  /** Hive-layout `col=value` segments of a file's path → partition
    * values (percent-escapes decoded — Spark escapes `/` etc. on write).
    * `__HIVE_DEFAULT_PARTITION__` is Spark/Hive's null sentinel.
    *
    * Decoding is Hive `unescapePathName` semantics: ONLY `%XX` escapes,
    * never `+`→space (URLDecoder would do that, but Spark's
    * escapePathName leaves `+` literal, so `col=a+b` means the value
    * "a+b"). */
  private def partitionValuesOf(relUnderVersionDir: String): Map[String, String] =
    relUnderVersionDir.split('/').dropRight(1).filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      seg.substring(0, i) -> unescapePathName(seg.substring(i + 1))
    }.toMap

  /** Hive/Spark path unescape: decode `%XX` hex pairs, leave everything
    * else (incl. `+`) untouched; malformed escapes pass through. */
  private def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(ch); i += 1 }
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** Merge one column's chunk statistics across a file's row groups into
    * a ColStats, or None when any chunk lacks trustworthy stats
    * (conservative: a file without stats is simply never pruned).
    * Parquet comparators match our [[cmp]] space: signed numerics,
    * Double.compare (NaN greatest — Spark's ordering; an all-NaN chunk
    * yields NaN min/max, which [[encodeStat]] drops → unprunable, safe),
    * unsigned-lexicographic UTF-8 for strings (ASCII-safe; fixture data
    * is ASCII — documented trade-off, same as the previous Spark-agg
    * path which compared driver strings with compareTo). */
  private def footerColStats(dt: DataType,
      chunks: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
      : Option[ColStats] = {
    if (chunks.isEmpty) return None
    var mn: Option[Any] = None
    var mx: Option[Any] = None
    chunks.foreach { c =>
      val st = c.getStatistics
      if (st == null || st.isEmpty) return None // no stats recorded: distrust file
      if (st.hasNonNullValue) {
        // Statistics[_]'s existential T defeats inference against the
        // AnyRef parameter; the values are always boxed refs at runtime.
        val (lo, hi) = (footerValue(dt, c, st.genericGetMin.asInstanceOf[AnyRef]),
          footerValue(dt, c, st.genericGetMax.asInstanceOf[AnyRef]))
        if (lo.isEmpty || hi.isEmpty) return None
        if (mn.forall(m => cmp(dt, lo.get, m) < 0)) mn = lo
        if (mx.forall(m => cmp(dt, hi.get, m) > 0)) mx = hi
      } // all-null chunk: contributes no values, bounds unaffected
    }
    val mn2 = mn.map(truncStatMin(dt, _))
    val mx2 = mx.flatMap(truncStatMax(dt, _))
    if (mn2.isEmpty && mx2.isEmpty) None else Some(ColStats(mn2, mx2))
  }

  /** Decode one parquet statistics value into [[cmp]]'s comparable space
    * (long for ints/dates/timestamps — parquet logical-type units
    * normalized to our epoch-day / epoch-micros — double for floats,
    * BigDecimal for decimals, String for UTF-8 binary). None = a shape
    * we don't trust (e.g. INT96); the file then keeps no stats. */
  private def footerValue(dt: DataType,
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      v: AnyRef): Option[Any] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.io.api.Binary
    val logical = c.getPrimitiveType.getLogicalTypeAnnotation
    (dt, v) match {
      case (_, null) => None
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        Some(n.longValue())
      case (FloatType | DoubleType, n: Number) =>
        val d = n.doubleValue()
        if (d.isNaN) None else Some(d)
      case (DateType, n: Number) => Some(n.longValue()) // INT32 epoch days
      case (TimestampType | TimestampNTZType, n: Number) =>
        val unitScale = logical match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
              case _ => None // nanos would overflow the micros space; skip
            }
          case _ => None
        }
        unitScale.map(n.longValue() * _)
      case (d: DecimalType, n: Number) => // INT32/INT64 unscaled
        Some(BigDecimal(BigInt(n.longValue()), d.scale))
      case (d: DecimalType, b: Binary) => // FIXED_LEN_BYTE_ARRAY unscaled
        Some(BigDecimal(BigInt(new java.math.BigInteger(b.getBytes)), d.scale))
      case (StringType, b: Binary) => Some(b.toStringUsingUTF8)
      case _ => None
    }
  }

  private def align(df: DataFrame, schema: StructType,
      passthrough: Seq[String] = Nil): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.toSeq.map { f =>
      if (have.contains(f.name)) df.col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ passthrough.filter(have.contains).map(c =>
      df.col(c).cast(LongType).as(c)): _*)
  }

  // ------------------------------------- write-time validation (Delta)

  /** Delta schema enforcement: reject a batch carrying columns the table
    * does not have (that is [[appendEvolve]]'s job, never a silent drop)
    * or a column whose type cannot LOSSLESSLY cast to the table's
    * (`Cast.canUpCast` — int→long fine, long→int rejected). Missing
    * batch columns are fine: they land as null, like Delta. */
  private def checkWriteSchema(batch: StructType, table: StructType,
      op: String, allowNew: Boolean = false): Unit = {
    val types = table.fields.map(f => f.name -> f.dataType).toMap
    batch.fields.foreach { f =>
      types.get(f.name) match {
        case None if !allowNew => throw new IllegalArgumentException(
          s"$op rejected: batch column '${f.name}' is not in the table schema " +
            s"(${table.fieldNames.mkString(", ")}); use appendEvolve for " +
            "mergeSchema semantics")
        case Some(dt) if f.dataType != dt &&
            !org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f.dataType, dt) =>
          throw new IllegalArgumentException(
            s"$op rejected: batch column '${f.name}' has type " +
              s"${f.dataType.simpleString}, which cannot safely widen to the " +
              s"table's ${dt.simpleString}")
        case _ => ()
      }
    }
  }

  /** CHECK-constraint enforcement on the rows a commit is about to write
    * (SQL semantics: a row passes when the predicate is TRUE or NULL,
    * fails only on definite FALSE). One map-only limit(1) job over the
    * batch — column-pruned to the referenced columns, never O(table). */
  private def checkConstraints(df: DataFrame, schema: StructType,
      constraints: Map[String, String], op: String): Unit = {
    if (constraints.isEmpty) return
    val named = constraints.toSeq.sortBy(_._1)
    // synthetic flag names: constraint names are user input and must not
    // have to survive col()-resolution (dots would read as nested fields)
    val flags = named.zipWithIndex.map { case ((_, e), i) =>
      not(coalesce(expr(e), lit(true))).as(s"__c$i")
    }
    val row = align(df, schema).select(flags: _*)
      .filter(named.indices.map(i => col(s"__c$i")).reduce(_ || _))
      .limit(1).collect().headOption
    row.foreach { r =>
      val broken = named.indices.filter(r.getBoolean).map(named(_)._1)
      throw new IllegalArgumentException(
        s"$op rejected: CHECK constraint ${broken.mkString(", ")} violated " +
          s"(${broken.map(constraints).mkString("; ")})")
    }
  }

  private def encodeAdd(f: AddFile, schema: StructType,
      physical: Map[String, String] = Map.empty): JValue = {
    // stats keys are PHYSICAL column names; a key with no live logical
    // column (its column was dropped) is re-encoded without type info
    // being available, so it is omitted — pruning never reads it again.
    val types = schema.fields.map(x =>
      physical.getOrElse(x.name, x.name) -> x.dataType).toMap
    val stats = JObject(f.stats.toList.sortBy(_._1).flatMap { case (cn, cs) =>
      types.get(cn).map { dt =>
        cn -> JObject(List(
          "min" -> cs.min.flatMap(encodeStat(dt, _)).getOrElse(JNull),
          "max" -> cs.max.flatMap(encodeStat(dt, _)).getOrElse(JNull)))
      }
    })
    JObject(List("add" -> JObject(List(
      "path" -> JString(f.path), "rows" -> JLong(f.rows),
      "bytes" -> JLong(f.bytes),
      "dv" -> f.dv.map(DeletionVectors.toJValue).getOrElse(JNull),
      "stats" -> stats) ++
      f.baseRowId.map(b => List("baseRowId" -> JLong(b))).getOrElse(Nil) ++
      f.rowCommitVersion.map(v => List("rowCommitVersion" -> JLong(v)))
        .getOrElse(Nil) ++
      (if (f.pv.isEmpty) Nil
       else List("pv" -> JObject(
         f.pv.toList.sortBy(_._1).map { case (c, s) => c -> JString(s) }))) ++
      (if (f.bloom.isEmpty) Nil
       else List("bloom" -> JObject(
         f.bloom.toList.sortBy(_._1).map { case (c, s) => c -> JString(s) }))))))
  }

  /** The metaData line every commit re-states and every checkpoint
    * carries: schema, partitioning, constraints, column mapping,
    * generated and identity columns, properties. */
  private def metaDataLine(m: Snapshot): String = {
    def sorted(kv: Map[String, String]): JObject =
      JObject(kv.toList.sortBy(_._1).map { case (k, x) => k -> JString(x) })
    val fields = List("schema" -> JString(m.schema.json)) ++
      (if (m.partitionBy.isEmpty) Nil
       else List("partitionBy" -> JArray(m.partitionBy.toList.map(JString(_))))) ++
      (if (m.constraints.isEmpty) Nil else List("constraints" -> sorted(m.constraints))) ++
      (if (m.physical.isEmpty) Nil else List("physicalNames" -> sorted(m.physical))) ++
      (if (m.generated.isEmpty) Nil
       else List("generatedColumns" -> sorted(m.generated))) ++
      (if (m.identity.isEmpty) Nil
       else List("identityColumns" -> JObject(
         m.identity.toList.sortBy(_._1).map { case (c, ic) =>
           c -> JObject(List("start" -> JLong(ic.start), "step" -> JLong(ic.step)) ++
             ic.highWater.map(h => List("highWater" -> JLong(h))).getOrElse(Nil))
         }))) ++
      (if (m.properties.isEmpty) Nil else List("properties" -> sorted(m.properties)))
    JsonMethods.compact(JObject(List("metaData" -> JObject(fields))))
  }

  /** The log lines of one commit attempt at `version`: header, the
    * metaData re-stated from `meta` (schema, partitioning, constraints,
    * column mapping, generated and identity columns, properties), txn,
    * remove and add actions. Row-tracking ids and the in-commit
    * timestamp are assigned HERE, from the state the attempt is built
    * on, so every write path gets them and a rebuilt attempt re-assigns
    * them against the winner's state. */
  private def encodeCommit(path: String, version: Long, op: String,
      meta: Snapshot, adds: Seq[AddFile], removes: Seq[String],
      txns: Seq[(String, Long)]): Seq[String] = {
    val properties = meta.properties
    checkWriterFeatures(path, properties)
    // ROW TRACKING (Delta `delta.enableRowTracking`, fresh-row-ID tier):
    // every committed file gets a disjoint row-id range [baseRowId,
    // baseRowId + rows) above a property-carried high-water mark, so
    // `_row_id` = base + in-file position is unique table-wide. The
    // assignment lives HERE, in the one commit encoding, so every write
    // path gets it for free and a rebuilt attempt (fresh snapshot →
    // fresh properties) re-assigns above the winner's mark. Files that
    // already carry a base (DV re-adds, RESTORE re-adds by reference)
    // KEEP it — their rows' ids survive soft deletes and restores —
    // while rewrite paths produce new files and thus fresh ids (exactly
    // Delta's fresh/stable row-id distinction; the stable tier would
    // materialize ids into a column before rewrites). Ranges are never
    // reclaimed: the mark only ever moves up.
    val rowTrackingOn = rowTrackingEnabled(properties)
    val (adds2, properties2) =
      if (!rowTrackingOn || adds.isEmpty) (adds, properties)
      else {
        val hwKey = "graft.rowTracking.highWater"
        var hw = properties.collectFirst {
          case (k, v) if k.equalsIgnoreCase(hwKey) => v
        }.flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(0L)
        val assigned = adds.map { f =>
          f.baseRowId match {
            case Some(b) => hw = math.max(hw, b + f.rows); f
            case None =>
              val b = hw; hw += f.rows
              // defaultRowCommitVersion rides the fresh assignment: rows
              // of a fresh file were last written AT this commit. Carried
              // files (DV re-adds, RESTORE) keep their original version.
              f.copy(baseRowId = Some(b),
                rowCommitVersion = f.rowCommitVersion.orElse(Some(version)))
          }
        }
        (assigned, properties + (hwKey -> hw.toString))
      }
    // IN-COMMIT TIMESTAMPS (Delta `delta.enableInCommitTimestamps`,
    // `graft.inCommitTimestamps` here): TIMESTAMP AS OF / RESTORE resolve
    // versions from commit-header instants, so those instants must be
    // MONOTONIC in version order — but a retried commit or clock skew
    // between writers can hand a later version an earlier wall clock.
    // With the property on, the header instant is max(parent's + 1,
    // wallclock): still real time when clocks behave, strictly increasing
    // when they don't. One extra one-line header read per commit.
    val ictOn = properties.exists { case (k, x) =>
      k.equalsIgnoreCase("graft.inCommitTimestamps") && x.equalsIgnoreCase("true") }
    val commitMs =
      if (!ictOn || version == 0L) clockMs()
      else math.max(
        commitHeader(path, version - 1)._2.map(_ + 1L).getOrElse(Long.MinValue),
        clockMs())
    Seq(
      JsonMethods.compact(JObject(List("commit" -> JObject(List(
        "version" -> JLong(version), "op" -> JString(op),
        "committedAtMs" -> JLong(commitMs)))))),
      metaDataLine(meta.copy(properties = properties2))) ++
      txns.map { case (app, ver) =>
        JsonMethods.compact(JObject(List("txn" ->
          JObject(List("app" -> JString(app), "version" -> JLong(ver)))))) } ++
      removes.map(p => JsonMethods.compact(JObject(List("remove" ->
        JObject(List("path" -> JString(p))))))) ++
      adds2.map(f => JsonMethods.compact(encodeAdd(f, meta.schema, meta.physical)))
  }

  /** Live files at which a checkpoint switches from the inline JSON form
    * to the sidecar manifest. */
  private val SidecarThreshold: Int = 10000

  /** Sidecars per manifest checkpoint: live files are bucketed by a
    * stable hash of their path. */
  private val SidecarBuckets: Int = 16

  /** Materialize the resolved state at `version` as a checkpoint so
    * later replays skip the preceding history. Failure-safe: a missing
    * checkpoint only costs replay time, never correctness, and [[commit]]
    * logs a failed write instead of failing its committed version.
    *
    * One writer, two forms (Delta's classic and v2 checkpoints), chosen
    * by the live-file count:
    *   - below [[SidecarThreshold]] files, `checkpoint-<V>.json` holds
    *     the metaData line, the txn lines and one add line per file
    *     (driver-parsed, zero Spark jobs — right for the lifecycle-query
    *     scale);
    *   - at or above it, `checkpoint-<V>.v2.json` is a MANIFEST: the
    *     same metaData and txn lines plus one `sidecar` line per bucket,
    *     with the add actions in parquet sidecars ([[writeSidecars]]).
    *     At 100-TB metadata (millions of add actions) a single JSON file
    *     and its driver-side line parse are the bottleneck; replay reads
    *     sidecars as a distributed scan of typed rows, and a bucket
    *     unchanged since the previous manifest reuses its sidecar, so a
    *     checkpoint writes O(changed buckets), not O(live files).
    * With no live session the inline form is written at any size. */
  private def writeCheckpoint(path: String, version: Long): Unit = {
    val snap0 = snapshot(path, Some(version))
    // persist un-ANALYZEd row churn INTO the checkpoint (as a property
    // in the checkpoint's own metaData, never in any commit): a cold
    // replay starts from here and would otherwise never see the
    // pre-checkpoint commitInfo lines — the stats serve path would
    // silently re-arm stale NDV/histograms after a restart. Replay
    // strips the key back out of the surfaced properties, so it exists
    // only inside checkpoint files.
    val snap =
      if (snap0.churnVersions.isEmpty) snap0
      else snap0.copy(properties = snap0.properties +
        (PendingChurnKey -> snap0.churnVersions.mkString(",")))
    val sidecarSession =
      if (snap.files.length < SidecarThreshold) None
      else SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val header = metaDataLine(snap) +:
      snap.txns.toSeq.sortBy(_._1).map { case (app, ver) =>
        JsonMethods.compact(JObject(List("txn" -> JObject(List(
          "app" -> JString(app), "version" -> JLong(ver)))))) }
    val (suffix, body) = sidecarSession match {
      case Some(spark) => "v2.json" -> writeSidecars(spark, path, version, snap)
      case None => "json" -> snap.files.map(f =>
        JsonMethods.compact(encodeAdd(f, snap.schema, snap.physical)))
    }
    // checkpoints are an optimization: a lost claim race is a no-op
    try claimStore.claim(logDir(path).resolve(CkptRef(version, suffix).name),
      (header ++ body).mkString("\n").getBytes("UTF-8"))
    catch { case _: java.nio.file.FileAlreadyExistsException => ()
            case _: AmbiguousClaimException => () } // best-effort only
    if (sidecarSession.isDefined) gcSidecars(path)
  }

  /** Typed checkpoint row shape of the legacy multi-part form: `meta`
    * rows carry the metaData/txn JSON line (a handful, driver-parsed);
    * `add` rows carry the file action as TYPED columns, so replay never
    * JSON-parses the file set — executors decode parquet, the driver
    * reads fields. Stats are tag-encoded strings (`L:`/`D:`/`S:` +
    * value) per column: decoding is a prefix switch, not a parser.
    * Sidecar rows are the `add` rows ([[SidecarSchema]]). */
  private val CkptParquetSchema = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("json", StringType, nullable = true),
    StructField("path", StringType, nullable = true),
    StructField("rows", LongType, nullable = true),
    StructField("bytes", LongType, nullable = true),
    StructField("dv", StringType, nullable = true), // DeletionVectors.toJson
    StructField("base_row_id", LongType, nullable = true),
    StructField("row_commit_version", LongType, nullable = true),
    StructField("pv", MapType(StringType, StringType), nullable = true),
    StructField("bloom", MapType(StringType, StringType), nullable = true),
    StructField("stats_min", MapType(StringType, StringType), nullable = true),
    StructField("stats_max", MapType(StringType, StringType), nullable = true)))

  private val SidecarSchema = StructType(CkptParquetSchema.fields.filterNot(f =>
    f.name == "kind" || f.name == "json"))

  private def tagStat(dt: DataType, v: Any): Option[String] =
    encodeStat(dt, v).collect {
      case JLong(l) => "L:" + l
      case JInt(i) => "L:" + i
      case JDouble(d) => "D:" + d
      case JString(s) => "S:" + s
    }

  private def untagStat(dt: DataType, s: String): Option[Any] =
    if (s == null || s.length < 2) None
    else {
      val body = s.substring(2)
      s.charAt(0) match {
        case 'L' => decodeStat(dt, JLong(body.toLong))
        case 'D' => decodeStat(dt, JDouble(body.toDouble))
        case 'S' => decodeStat(dt, JString(body))
        case _ => None
      }
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
      }
      Files.deleteIfExists(p)
    }

  /** Replay of a legacy multi-part `checkpoint-<V>.parquet/` directory,
    * kept so existing tables (and cleanup anchors) still resolve: one
    * tiny collect for the meta rows, one typed collect for the add rows. */
  private def readParquetCheckpoint(spark: SparkSession, path: String,
      cv: Long): Seq[LogAction] = {
    val dir = logDir(path).resolve(CkptRef(cv, "parquet").name)
    val df = spark.read.schema(CkptParquetSchema).parquet(dir.toString)
    val metaLines = df.filter(col("kind") === "meta").select(col("json"))
      .collect().map(_.getString(0)).toSeq
    require(metaLines.exists(_.startsWith("{\"metaData\"")),
      s"parquet checkpoint at $dir has no metaData row")
    graftActions(metaLines, s"table $path checkpoint $cv") ++
      ckptAdds(df.filter(col("kind") === "add").drop("kind", "json")
        .collect().toSeq, s"table $path checkpoint $cv")
  }

  /** The add rows of a parquet or sidecar checkpoint, typed on fold. */
  private def ckptAdds(rows: Seq[Row], where: String): Seq[LogAction] =
    rows.map(r => LogAction.Add(s => addFromCkptRow(r, s.statTypes, where)))

  /** Decode one typed checkpoint/sidecar parquet row back to an AddFile
    * (shared by the multi-part and sidecar replay paths). */
  private def addFromCkptRow(r: Row, types: Map[String, DataType],
      where: String): AddFile = {
    def statsOf(minCol: String, maxCol: String): Map[String, ColStats] = {
      val mins = Option(r.getAs[Map[String, String]](minCol))
        .getOrElse(Map.empty)
      val maxs = Option(r.getAs[Map[String, String]](maxCol))
        .getOrElse(Map.empty)
      (mins.keySet ++ maxs.keySet).flatMap { cn =>
        types.get(cn).map { dt =>
          cn -> ColStats(mins.get(cn).flatMap(untagStat(dt, _)),
            maxs.get(cn).flatMap(untagStat(dt, _)))
        }
      }.toMap
    }
    AddFile(
      path = r.getAs[String]("path"),
      rows = r.getAs[Long]("rows"),
      stats = statsOf("stats_min", "stats_max"),
      dv = Option(r.getAs[String]("dv")).map(d =>
        if (d.startsWith("{")) DeletionVectors.fromJson(d)
        else retiredDvFormat(where, d)),
      pv = Option(r.getAs[Map[String, String]]("pv")).getOrElse(Map.empty),
      bloom = Option(r.getAs[Map[String, String]]("bloom"))
        .getOrElse(Map.empty),
      bytes = r.getAs[Long]("bytes"),
      baseRowId = Option(r.get(r.fieldIndex("base_row_id")))
        .map(_.asInstanceOf[Long]),
      rowCommitVersion = Option(r.get(r.fieldIndex("row_commit_version")))
        .map(_.asInstanceOf[Long]))
  }

  // ------------------------------------------- sidecars (manifest form)

  /** Sidecar GC runs at write time: files unreferenced by ANY present
    * manifest AND older than [[SidecarGcAgeMs]] are deleted — the age
    * floor keeps a concurrent writer's just-written, not-yet-linked
    * sidecars safe (same reasoning as Delta's checkpoint retention). */
  private val SidecarGcAgeMs: Long = 10L * 60L * 1000L

  private def sidecarDir(path: String): Path =
    logDir(path).resolve("_sidecars")

  private def sidecarBucket(filePath: String): Int = Math.floorMod(
    scala.util.hashing.MurmurHash3.stringHash(filePath), SidecarBuckets)

  /** Parse the sidecar lines of a manifest:
    * bucket → (relative file, fingerprint, nAdds). */
  private def manifestSidecars(lines: Seq[String]): Map[Int, (String, String, Long)] =
    lines.filter(_.nonEmpty).flatMap { line =>
      parseLine(line) match {
        case JObject(fields) => fields.collectFirst {
          case ("sidecar", JObject(sc)) =>
            val m = sc.toMap
            def str(k: String) = m.get(k).collect { case JString(s) => s }
            def num(k: String) = longOf(m.get(k))
            for {
              b <- num("bucket"); f <- str("file"); fp <- str("fingerprint")
            } yield b.toInt -> (f, fp, num("nAdds").getOrElse(0L))
        }.flatten
        case _ => None
      }
    }.toMap

  /** The manifests present in the log. */
  private def manifests(path: String): Seq[CkptRef] =
    claimStore.listLog(logDir(path)).flatMap(checkpointName)
      .filter(_.suffix == "v2.json")

  /** Write the sidecars of the manifest checkpoint at `version` and
    * return its `sidecar` lines (bucket, file, fingerprint, nAdds). A
    * bucket whose fingerprint — md5 over its path-sorted encoded add
    * actions, so any member/stat/schema-encoding change changes it —
    * equals the one in the newest earlier manifest REUSES that
    * manifest's sidecar file by reference. A bucket no commit since that
    * manifest added to or removed from, under the same schema and
    * physical names, keeps its fingerprint without re-encoding, so the
    * driver hashes O(changed files), not O(live files). */
  private def writeSidecars(spark: SparkSession, path: String,
      version: Long, snap: Snapshot): Seq[String] = {
    val byBucket: Map[Int, Seq[AddFile]] =
      snap.files.groupBy(f => sidecarBucket(f.path))
    def fingerprint(files: Seq[AddFile]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      files.sortBy(_.path).foreach { f =>
        md.update(JsonMethods.compact(
          encodeAdd(f, snap.schema, snap.physical)).getBytes("UTF-8"))
        md.update('\n'.toByte)
      }
      f"${new java.math.BigInteger(1, md.digest())}%032x"
    }
    val ld = logDir(path)
    val prevRef = manifests(path).filter(_.version < version)
      .maxByOption(_.version)
    val prevLines = prevRef.toSeq.flatMap(c =>
      claimStore.readImmutable(ld.resolve(c.name)))
    val prev: Map[Int, (String, String, Long)] = manifestSidecars(prevLines)
    val carried: Map[Int, String] = prevRef.filter { c =>
      graftActions(prevLines, s"table $path checkpoint ${c.version}")
        .collectFirst { case LogAction.Meta(update) => update(Unreplayed) }
        .exists(m => m.schema == snap.schema && m.physical == snap.physical)
    }.flatMap { c =>
      val since = (c.version + 1) to version
      val commits = GraftLog.list(path).commits
      if (!since.forall(commits)) None
      else {
        val hit = since.flatMap(GraftLog.commit(path, _)).collect {
          case LogAction.Add(decode) => sidecarBucket(decode(snap).path)
          case r: LogAction.Remove => sidecarBucket(r.path)
        }.toSet
        Some(prev.collect { case (b, (_, fp, _)) if !hit(b) => b -> fp })
      }
    }.getOrElse(Map.empty)
    val prints: Map[Int, String] = byBucket.map { case (b, fs) =>
      b -> carried.getOrElse(b, fingerprint(fs)) }
    val reused: Map[Int, String] = byBucket.keys.flatMap { b =>
      prev.get(b).collect { case (file, fp, _) if fp == prints(b) => b -> file }
    }.toMap
    val changed = byBucket.keys.filterNot(reused.contains).toSeq.sorted
    // write every changed bucket in ONE partitioned job: one input
    // partition per bucket puts its rows in a single task (no shuffle), and
    // maxRecordsPerFile 0 keeps a session's cap from splitting it, so
    // each bucket directory gets exactly one parquet part — one sidecar
    val written: Map[Int, String] =
      if (changed.isEmpty) Map.empty
      else {
        Files.createDirectories(sidecarDir(path))
        val types = snap.schema.fields.map(f =>
          snap.physical.getOrElse(f.name, f.name) -> f.dataType).toMap
        val rows = changed.map { b =>
          byBucket(b).map { f =>
            def statMap(pick: ColStats => Option[Any]): Map[String, String] =
              f.stats.flatMap { case (cn, cs) =>
                for { dt <- types.get(cn); v <- pick(cs); t <- tagStat(dt, v) }
                  yield cn -> t
              }
            Row(b, f.path, f.rows, f.bytes,
              f.dv.map(DeletionVectors.toJson).orNull,
              f.baseRowId.map(Long.box).orNull,
              f.rowCommitVersion.map(Long.box).orNull,
              f.pv, f.bloom, statMap(_.min), statMap(_.max))
          }
        }
        val tmp = ld.resolve(
          s".v2tmp-$version-${java.util.UUID.randomUUID.toString.take(8)}")
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, changed.size).flatMap(identity),
            StructType(StructField("bucket", IntegerType, nullable = false) +:
              SidecarSchema.fields))
          .write.option("maxRecordsPerFile", 0L)
          .partitionBy("bucket").parquet(tmp.toString)
        try {
          changed.map { b =>
            val bdir = tmp.resolve(s"bucket=$b")
            val parts =
              if (!Files.isDirectory(bdir)) Nil
              else {
                val st = Files.list(bdir)
                try st.iterator().asScala.filter(p =>
                  p.getFileName.toString.endsWith(".parquet")).toList
                finally st.close()
              }
            if (parts.size != 1) throw new IllegalStateException(
              s"table $path checkpoint $version: sidecar bucket $b was " +
                s"written as ${parts.size} parquet parts; a manifest " +
                "names exactly one per bucket")
            val name = s"${java.util.UUID.randomUUID.toString}.parquet"
            Files.move(parts.head, sidecarDir(path).resolve(name))
            b -> s"_sidecars/$name"
          }.toMap
        } finally deleteRecursively(tmp)
      }
    byBucket.keys.toSeq.sorted.map { b =>
      val file = reused.getOrElse(b, written(b))
      JsonMethods.compact(JObject(List("sidecar" -> JObject(List(
        "bucket" -> JInt(b), "file" -> JString(file),
        "fingerprint" -> JString(prints(b)),
        "nAdds" -> JLong(byBucket(b).size.toLong))))))
    }
  }

  /** Delete sidecar files referenced by NO present manifest, aged past
    * [[SidecarGcAgeMs]] (concurrent-writer safety floor). */
  private def gcSidecars(path: String): Unit = {
    val sd = sidecarDir(path)
    if (!Files.isDirectory(sd)) return
    val ld = logDir(path)
    val referenced: Set[String] = manifests(path)
      .flatMap(c => manifestSidecars(
        claimStore.readImmutable(ld.resolve(c.name))).values.map(_._1))
      .map(_.stripPrefix("_sidecars/"))
      .toSet
    val cutoff = System.currentTimeMillis() - SidecarGcAgeMs
    val stream = Files.list(sd)
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filterNot(p => referenced.contains(p.getFileName.toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .foreach(Files.deleteIfExists(_))
    finally stream.close()
  }

  /** The reader of both checkpoint files, `checkpoint-<V>.json` and the
    * `.v2.json` manifest: metaData, txn and inline add lines decode
    * through [[graftActions]] (`sidecar` lines fall through its
    * catch-all); the sidecars a manifest lists are read in one
    * distributed scan, and their rows must number the manifest's
    * `nAdds` in sum — a swapped or truncated sidecar fails loudly
    * instead of resolving a wrong file set. */
  private def readCheckpoint(spark: Option[SparkSession], path: String,
      c: CkptRef): Seq[LogAction] = {
    val ld = logDir(path)
    val lines = claimStore.readImmutable(ld.resolve(c.name))
    require(lines.exists(_.startsWith("{\"metaData\"")),
      s"checkpoint ${c.name} of $path has no metaData row")
    val where = s"table $path checkpoint ${c.version}"
    val inline = graftActions(lines, where)
    // only a manifest lists sidecars: an inline checkpoint parses once
    val sidecars =
      if (c.suffix == "v2.json") manifestSidecars(lines) else Map.empty
    if (sidecars.isEmpty) return inline
    // sidecar refs are log-dir-relative ("_sidecars/<uuid>.parquet")
    val files = sidecars.values.map(s => ld.resolve(s._1).toString)
      .toSeq.distinct
    val rows = spark.get.read.schema(SidecarSchema).parquet(files: _*)
      .collect().toSeq
    val listed = sidecars.values.map(_._3).sum
    if (rows.length != listed) throw new IllegalStateException(
      s"$where: its sidecars hold ${rows.length} adds, but the nAdds of " +
        s"manifest ${c.name} sum to $listed")
    inline ++ ckptAdds(rows, where)
  }

  // ------------------------------- optimistic concurrency (Delta-style)

  /** Test hook: runs between an operation's snapshot-resolution and its
    * first commit attempt — lets a race test inject a concurrent commit
    * into exactly the conflict window (same injectable-seam pattern as
    * [[clockMs]]). Thread-scoped like [[withClaimStore]]: suites share
    * the JVM and every commit fires it. Production value is a no-op. */
  private val commitHook = ThreadLocal.withInitial[() => Unit](() => () => ())
  private[graft] def testHookBeforeCommit: () => Unit = commitHook.get()
  private[graft] def testHookBeforeCommit_=(f: () => Unit): Unit =
    commitHook.set(f)

  /** What [[commit]] does when a concurrent writer claims its version
    * first: a rule of (base, tip), applied by [[claimLoop]]. */
  private[graft] sealed trait LostRace
  private[graft] object LostRace {
    /** Appends: rebuild on the tip — the batch's new columns merge into
      * the tip's schema, and txn idempotence is re-checked against the
      * tip (Delta's auto-resolvable append conflict). The batch's data
      * files are on disk and stay valid. Declines instead when `base`
      * has identity columns or `next` births physical names: both are
      * allocated from the base and baked into the batch. At most 100
      * reapplies. */
    case object Reapply extends LostRace
    /** Rewrites: Delta's ConflictChecker. The SAME adds/removes
      * re-commit on the tip only when every semantic read of the
      * losing operation is provably unaffected:
      *
      *   - winners changed no table metadata (schema / properties /
      *     constraints / partitioning / column mapping / generated /
      *     identity — any change invalidates the loser's write
      *     projection);
      *   - every file the loser removes is still live with an
      *     IDENTICAL log entry (a concurrent DV on a victim means
      *     concurrently deleted rows that a stale rewrite would
      *     resurrect; a vanished victim means a concurrent rewrite
      *     already consumed it);
      *   - the winners' newly added files don't conflict with the
      *     loser's read: for predicate DML (`readConflict`) the
      *     winner's adds are READ and the predicate evaluated — an
      *     appended row matching a DELETE/UPDATE predicate is a genuine
      *     serialization conflict (Delta's ConcurrentAppendException);
      *     pure file-rewrite maintenance (OPTIMIZE / REORG) reads
      *     nothing beyond its victims (`readConflict = None`).
      *
      * The rewrite work (often minutes of IO at 100-TB file sizes) is
      * preserved; at most one cheap predicate scan of the winners' adds
      * is spent per rebase, at most 20 rebases. Anything else throws
      * ConcurrentModificationException. */
    final case class Rebase(readConflict: Option[Seq[AddFile] => Boolean])
        extends LostRace
    /** Every other op: a concurrent winner may have removed, rewritten
      * or re-described what the op read (Delta's non-resolvable
      * conflict class), so throw ConcurrentModificationException for
      * the caller to re-run against the new snapshot. */
    case object Decline extends LostRace
  }

  /** The base of a version-0 commit (CREATE, CONVERT, CLONE): no table. */
  private[graft] val NoTable: Snapshot = Snapshot(-1L, new StructType(), Nil)

  /** THE native commit. Claims the version after `base` — the snapshot
    * the operation read, [[NoTable]] for version 0 — for `adds` and
    * `removes` under the table metadata of `next` (`base`'s when null).
    * metaData is re-stated on every commit, so it travels as one
    * Snapshot: no call site can drop a field by forgetting to carry it.
    * `txn`/`txns` record loaded batch identities (accumulative state,
    * not re-stated). A lost race is settled by `onLost`. Returns the
    * committed version; a Reapply whose txn identities the tip already
    * holds commits nothing and returns the tip's version. */
  private[graft] def commit(path: String, base: Snapshot, op: String,
      next: Snapshot = null, adds: Seq[AddFile] = Nil,
      removes: Seq[String] = Nil, txn: Option[(String, Long)] = None,
      txns: Seq[(String, Long)] = Nil,
      onLost: LostRace = LostRace.Decline): Long = {
    val meta = if (next == null) base else next
    val rule = onLost match {
      case LostRace.Reapply
          if base.identity.nonEmpty || meta.physical != base.physical =>
        LostRace.Decline
      case r => r
    }
    val allTxns = txn.toSeq ++ txns
    // txn idempotence (Delta's streaming-sink rule): if this app already
    // committed this or a later txn version — including via a racing
    // duplicate of ourselves — the batch is already in the table. For a
    // multi-txn batch (COPY INTO): ALL identities present = full replay
    // (no-op); SOME present = a concurrent loader landed an overlapping
    // subset, and blindly committing would double-load it — surface the
    // conflict instead (the caller re-runs and re-filters).
    def landed(tip: Snapshot): Boolean = allTxns.nonEmpty && {
      val done = allTxns.count { case (app, ver) =>
        tip.txns.get(app).exists(_ >= ver) }
      if (done > 0 && done < allTxns.size)
        throw new java.util.ConcurrentModificationException(
          s"concurrent $op committed an overlapping txn subset on $path; " +
            "re-run against the new snapshot")
      done == allTxns.size
    }
    Files.createDirectories(logDir(path))
    testHookBeforeCommit()
    var claimed = false
    val version = claimLoop(base) { tip =>
      val m = rule match {
        case LostRace.Reapply if tip ne base =>
          val known = tip.schema.fieldNames.toSet
          tip.copy(schema = StructType(tip.schema.fields ++
            meta.schema.fields.filterNot(f => known.contains(f.name))))
        case _ => meta
      }
      if (rule == LostRace.Reapply && landed(tip)) tip.version
      else {
        val v = tip.version + 1
        // COMMIT BOUNDARY: the atomic version claim, the last step of
        // the attempt — see [[CommitClaimStore]] for the 3-property
        // contract (one winner, immutable won commits, failed claims
        // leave nothing) that [[claimLoop]] and its three lost-race
        // rules are derived from, and for the object-store port story
        // (swap ONE trait impl). Ambiguous outcomes (store timeouts)
        // resolve inside claimCommit by read-back compare, so a
        // landed-but-unacknowledged claim never double-applies and a
        // lost race reaches the loop as `FileAlreadyExistsException`.
        claimCommit(logDir(path).resolve(s"$v.json"),
          encodeCommit(path, v, op, m, adds, removes, allTxns))
        claimed = true
        v
      }
    } { (lostOn, losses) =>
      val v = lostOn.version + 1
      def decline(): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit beat $op at version $v on $path; " +
            "re-run the operation against the new snapshot")
      def conflict(why: String): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit beat $op at version $v on $path " +
            s"and cannot be rebased ($why); re-run against the new snapshot")
      rule match {
        case LostRace.Decline => decline()
        case LostRace.Reapply =>
          if (losses > 100) decline()
          snapshot(path)
        case LostRace.Rebase(readConflict) =>
          if (losses > 20) conflict("rebase limit reached")
          clearSnapshotCache()
          val tip = snapshot(path)
          if (tip.schema != base.schema || tip.properties != base.properties ||
              tip.constraints != base.constraints ||
              tip.partitionBy != base.partitionBy ||
              tip.physical != base.physical ||
              tip.generated != base.generated || tip.identity != base.identity)
            conflict("table metadata changed concurrently")
          val baseByPath = base.files.map(f => f.path -> f).toMap
          val tipByPath = tip.files.map(f => f.path -> f).toMap
          removes.foreach { p =>
            if (!tipByPath.get(p).exists(baseByPath.get(p).contains(_)))
              conflict(s"victim file $p was rewritten or deleted concurrently")
          }
          val winnerAdds = tip.files.filterNot(f => baseByPath.contains(f.path))
          if (winnerAdds.nonEmpty && readConflict.exists(f => f(winnerAdds)))
            conflict("concurrently appended rows match the operation's predicate")
          tip
      }
    }
    if (claimed) {
      // the version has landed: a checkpoint that fails to write costs
      // later replays time, so it is logged, never the commit's failure
      if (version > 0 && version % CheckpointInterval == 0)
        try writeCheckpoint(path, version)
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger("graft.DeltaLite").warn(
              s"checkpoint $version of $path was not written (replay " +
                "folds its commits instead)", e)
        }
      // churn repair needs the removed files' partitions, which only
      // the pre-commit snapshot can name
      if (ChurnOps(op) && (adds.nonEmpty || removes.nonEmpty)) {
        val removed = removes.toSet
        maybeRepairChurnStats(path, (adds.map(f => pvKey(f.pv)) ++
          base.files.filter(f => removed(f.path)).map(f => pvKey(f.pv))).toSet)
      }
    }
    version
  }

  // ------------------------------------------------------------ read API

  /** Snapshot read: latest version, or `VERSION AS OF` via `asOf`. One
    * parquet scan over exactly the live files; schema comes from the log
    * (so files written before a schema evolution read with nulls for the
    * added columns). */
  def read(spark: SparkSession, path: String, asOf: Option[Long] = None): DataFrame =
    applyGovernance(spark, readRaw(spark, path, asOf),
      snapshot(path, asOf).properties)

  /** The ungoverned snapshot read — the building block every INTERNAL
    * consumer uses: maintenance validation (ADD CONSTRAINT must check
    * STORED rows), statistics (ANALYZE must describe STORED data), and
    * derived-data pipelines (IncrementalMv folds raw CDF deltas, so its
    * base load must be raw too or the view drifts). User-facing serving
    * goes through [[read]]/[[scan]], which add the S63 governance
    * layer. Package-private on purpose: external callers cannot reach
    * around the policy. */
  private[graft] def readRaw(spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(path, asOf)
    readFiles(spark, path, snap.schema, snap.files,
      snap.partitionBy, snap.physical, snap.properties,
      snap.churnVersions.length.toLong, snap.generated)
  }

  /** THE governance property namespace — the one predicate every
    * surface that manages policy keys shares (Pipeline's dbt-grants
    * sync declares/revokes by it). Owned here, beside the enforcement
    * in [[applyGovernance]], so adding a policy key updates declaration
    * and revocation together. */
  private[graft] def isGovernanceKey(k: String): Boolean =
    k == "graft.rowFilter" || k == "graft.rowFilterExempt" ||
      k.startsWith("graft.mask.") || k.startsWith("graft.maskExempt.") ||
      k.startsWith("graft.roles.")

  /** READ-side governance policies (the Databricks row-filter /
    * column-mask feature family), declared as table properties so they
    * travel with the table (clones, RESTORE, time travel — a historical
    * read is governed by the POLICY IN FORCE at that version):
    *
    *   graft.rowFilter            = '<boolean SQL over raw columns>'
    *   graft.mask.<logicalName>   = 'null' | 'md5' | 'last4'
    *   graft.maskExempt.<name>    = 'alice,bob'   (see principals below)
    *   graft.rowFilterExempt      = 'etl'
    *   graft.roles.<role>         = 'alice,bob'   (role membership —
    *                                exemption lists may name roles)
    *
    * TRUST MODEL (stated plainly): identity and the bypass are plain
    * session confs (`spark.graft.principal`,
    * `spark.graft.governance.bypass`) that any code holding the
    * SparkSession can set, so exemptions are SELF-ASSERTED. This is
    * view-based security in a shared-session engine: it enforces
    * correct data shaping for well-behaved readers and assumes a
    * trusted session owner / perimeter-controlled confs — it is NOT a
    * security boundary against a hostile caller inside the same JVM
    * (that requires an external enforcement point: a proxy, a catalog
    * server, per-user sessions).
    *
    * Enforcement point: the SERVING reads ([[read]] / [[scan]]) only.
    * DML and maintenance rewrites (merge/delete/update/OPTIMIZE/
    * clustering) read RAW data by design — masking a rewrite would
    * CORRUPT stored rows, the classic view-based-security failure.
    * The row filter evaluates over RAW values BEFORE masking (matching
    * the lakehouse semantics: policy predicates see the data, users see
    * the mask). `spark.graft.governance.bypass = true` serves raw reads
    * (the admin/debug escape hatch; also how tests prove stored data
    * stayed raw). Masks keep the column's TYPE AND presence — schema,
    * joins, and downstream code keep working: 'null' nulls it out,
    * 'md5' (string columns) replaces with the hex digest — equality
    * joins on the masked column still group identically, 'last4'
    * (string columns) keeps the last 4 chars behind '*' padding.
    * Unknown kinds and non-string md5/last4 targets fail LOUDLY at
    * read — a policy that cannot be enforced must never serve raw
    * data silently. Scale: masking is a map-side projection on top of
    * the scan (zero extra shuffles); the row filter is a plain
    * predicate that participates in pushdown like any user filter. */
  private def applyGovernance(spark: SparkSession, df: DataFrame,
      props: Map[String, String]): DataFrame = {
    val masks = props.collect {
      case (k, v) if k.startsWith("graft.mask.") =>
        k.stripPrefix("graft.mask.") -> v.trim
    }
    val rowFilter = props.get("graft.rowFilter")
    if (masks.isEmpty && rowFilter.isEmpty) return df
    if (spark.conf.get("spark.graft.governance.bypass", "false").toBoolean)
      return df
    // IDENTITY-AWARE EXEMPTIONS (the lakehouse identity-function
    // analogue): `spark.graft.principal` names the session's caller;
    // `graft.maskExempt.<col>` / `graft.rowFilterExempt` hold
    // comma-separated principals who see that column (or the filtered
    // rows) RAW. Deny-by-default: no principal set, or a principal not
    // on the list, gets the governed view — an exemption list can only
    // ever WIDEN one named column/filter for named callers, never
    // disable a policy wholesale (that is the bypass conf's job).
    // Both confs are self-asserted — see the trust-model note above:
    // "deny-by-default" describes the lookup's semantics for honest
    // sessions, not resistance to a caller who sets the confs.
    // ROLE INDIRECTION (the warehouse-grants analogue): an exemption
    // list may name ROLES as well as principals. `graft.roles.<role>` =
    // 'alice,bob' declares the role's membership as a table property —
    // widening a policy for a new team member edits ONE membership
    // list, not every exemption on every column. Resolution is ONE
    // level deep by design (a role's members are principals, never
    // other roles): nested role graphs need cycle detection and make
    // "who can see this" unanswerable by reading one property — the
    // flat form keeps the audit story greppable.
    val principal = spark.conf.get("spark.graft.principal", "").trim
    def memberOf(name: String): Boolean = name == principal ||
      props.get(s"graft.roles.$name")
        .exists(_.split(',').map(_.trim).contains(principal))
    def exempt(key: String): Boolean = principal.nonEmpty &&
      props.get(key).exists(_.split(',').map(_.trim).exists(memberOf))
    val filtered = rowFilter
      .filter(_ => !exempt("graft.rowFilterExempt"))
      .map(p => df.filter(expr(p))).getOrElse(df)
    masks.toSeq.sortBy(_._1).foldLeft(filtered) { case (d, (c, kind)) =>
      // a mask naming a column the frame does not carry FAILS LOUDLY:
      // silently skipping would fail OPEN on a policy typo or an
      // orphaned key (rename/drop now refuse while referenced, but a
      // hand-edited property must not serve raw either)
      require(d.columns.contains(c),
        s"mask policy 'graft.mask.$c' names a column this table does " +
          s"not carry (${d.columns.mkString(", ")}) — fix or drop the " +
          "policy; an unenforceable policy must not serve raw data")
      if (exempt(s"graft.maskExempt.$c")) d
      else {
        val dt = d.schema(c).dataType
        def requireString(): Unit = require(dt == StringType,
          s"mask '$kind' on '$c' requires a STRING column, got " +
            s"${dt.simpleString} — an unenforceable policy must not " +
            "serve raw data")
        kind match {
          case "null" => d.withColumn(c, lit(null).cast(dt))
          case "md5" =>
            requireString()
            d.withColumn(c, md5(col(c).cast("binary")))
          case "last4" =>
            requireString()
            d.withColumn(c, concat(
              expr(s"repeat('*', greatest(length(`$c`) - 4, 0))"),
              expr(s"substring(`$c`, greatest(length(`$c`) - 3, 1))")))
          case other => throw new IllegalArgumentException(
            s"unknown mask kind '$other' for column '$c' " +
              "(supported: null, md5, last4)")
        }
      }
    }
  }

  /** Snapshot read exposing the row-tracking id as a `_row_id` column
    * plus `_row_commit_version` (Delta `delta.enableRowTracking` read
    * surface). Per row, each is the MATERIALIZED value when the file
    * carries one (stable tier — written by rewrite paths, survives
    * OPTIMIZE / CLUSTER / REORG), else the fresh-tier computation: the
    * file's committed `baseRowId` + the row's in-file position, and the
    * file's `rowCommitVersion`. Fresh ids are already stable under soft
    * deletes (DV re-adds keep the base and survivors keep their
    * positions) and under RESTORE (files re-add by reference, base
    * included); materialization extends that to rewrites. Files
    * committed before the property was enabled carry no base and read
    * `_row_id` null (Delta requires a backfill for them too — enablement
    * is forward-only). The id map is log metadata: a tiny broadcast
    * (path → base, commit) join, no extra pass over the data. */
  def readWithRowIds(spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(path, asOf)
    // a SERVING read: the S63 governance layer applies exactly like
    // [[read]] (masks keep types, the filter drops rows before ids
    // surface; _row_id/_row_commit_version are never maskable targets)
    val withPos = readFilesWithPos(spark, path, withMatCols(snap.schema),
      snap.files, snap.partitionBy, snap.physical)
    withJoinedRowIds(spark, withPos, snap.files)
      .withColumn("_row_id",
        coalesce(col(MatRowIdCol), col("__b_base") + col("row_index")))
      .withColumn("_row_commit_version",
        coalesce(col(MatRowCommitCol), col("__b_commit")))
      .drop("path", "row_index", "__b_path", "__b_base", "__b_commit",
        MatRowIdCol, MatRowCommitCol)
      .transform(df => applyGovernance(spark, df, snap.properties))
  }

  /** Logical schema + the two materialized row-tracking columns (read
    * from data files where present; parquet's missing-column-as-null
    * semantics cover files written before materialization). */
  private def withMatCols(schema: StructType): StructType =
    StructType(schema.fields ++ Seq(
      StructField(MatRowIdCol, LongType, nullable = true),
      StructField(MatRowCommitCol, LongType, nullable = true)))

  /** Broadcast-join the log's per-file fresh-tier row-id metadata
    * (`__b_base`, `__b_commit`) onto a positional read. */
  private def withJoinedRowIds(spark: SparkSession, withPos: DataFrame,
      files: Seq[AddFile]): DataFrame = {
    val bases = files.map(f => Row(f.path,
      f.baseRowId.map(Long.box).orNull,
      f.rowCommitVersion.map(Long.box).orNull))
    val baseDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(bases, 1),
      StructType(Seq(StructField("__b_path", StringType, nullable = false),
        StructField("__b_base", LongType, nullable = true),
        StructField("__b_commit", LongType, nullable = true)))))
    withPos.join(baseDf, col("path") === col("__b_path"), "left")
  }

  /** Rewrite-path read (OPTIMIZE / CLUSTER / REORG): like [[readFiles]],
    * but on a row-tracked table the result ALSO carries the two
    * materialized row-tracking columns, resolved to each surviving row's
    * CURRENT id and commit version — so writing the result back
    * preserves row identity across the rewrite (the stable tier).
    * Without row tracking this is exactly [[readFiles]]. */
  private def readForRewrite(spark: SparkSession, path: String,
      snap: Snapshot, files: Seq[AddFile]): DataFrame =
    if (!rowTrackingEnabled(snap.properties))
      readFiles(spark, path, snap.schema, files, snap.partitionBy,
        snap.physical)
    else {
      val withPos = readFilesWithPos(spark, path, withMatCols(snap.schema),
        files, snap.partitionBy, snap.physical)
      withJoinedRowIds(spark, withPos, files)
        .withColumn(MatRowIdCol,
          coalesce(col(MatRowIdCol), col("__b_base") + col("row_index")))
        .withColumn(MatRowCommitCol,
          coalesce(col(MatRowCommitCol), col("__b_commit")))
        .drop("path", "row_index", "__b_path", "__b_base", "__b_commit")
    }

  /** Stats-pruned scan: like [[read]] but skips files whose min/max prove
    * they cannot satisfy `bounds` — the data-skipping read path (bounds on
    * partition columns prune exactly, via the logged partition values).
    * The caller still applies the exact row-level filter; pruning only
    * reduces which files Spark opens. */
  def scan(spark: SparkSession, path: String, bounds: Seq[ColumnBound],
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(path, asOf)
    // bounds on a MASKED column must not prune: file stats describe RAW
    // values, the caller sees masked ones — pruning would drop files
    // whose raw stats "can't contain" the masked literal the caller
    // filters on. Decline-only (those bounds just stop skipping).
    val masked = snap.properties.keysIterator
      .filter(_.startsWith("graft.mask."))
      .map(_.stripPrefix("graft.mask.")).toSet
    val prunable = bounds.filterNot(b => masked.contains(b.column))
    val all = prunable ++ derivedGeneratedBounds(spark, snap, prunable)
    applyGovernance(spark, readFiles(spark, path, snap.schema,
      pruneFiles(snap, all, bloomProbesFor(spark, snap, prunable)),
      snap.partitionBy, snap.physical, snap.properties,
      snap.churnVersions.length.toLong, snap.generated), snap.properties)
  }

  /** xxhash64 probes for POINT bounds (lower == upper, non-null) and
    * IN-set bounds on bloom-indexed columns, keyed by physical name.
    * Hashed through a 1-row local projection with each literal CAST to
    * the column's type, so the probe hash matches the write-side
    * xxhash64(col) exactly (xxhash64 output depends on the input's
    * Catalyst type). IN-set values hash in ONE driver-side 1-row
    * projection (probe sets are driver-side metadata — queries × probes
    * ints). */
  private def bloomProbesFor(spark: SparkSession, snap: Snapshot,
      bounds: Seq[ColumnBound]): Map[String, Seq[Long]] =
    bloomProbeHashes(spark,
      snap.files.iterator.flatMap(_.bloom.keys).toSet,
      snap.schema.fields.map(f => f.name -> f.dataType).toMap,
      snap.phys, bounds)

  /** Point bounds (equality / IN-set) on bloom-indexed columns →
    * per-column probe hash lists, via the SAME xxhash64 expression the
    * bloom builder hashed with (evaluated on the driver, [[oneLocalRow]]).
    * Shared by [[scan]]'s snapshot path and the
    * branch-scan pruning rule ([[graft.plans.BranchFilePruning]], where
    * bound names are already physical — `phys` = identity there). */
  private[graft] def bloomProbeHashes(spark: SparkSession,
      indexed: Set[String], types: Map[String, DataType],
      phys: String => String, bounds: Seq[ColumnBound])
      : Map[String, Seq[Long]] = {
    if (indexed.isEmpty) return Map.empty
    bounds.flatMap { b =>
      val pointVals: Option[Seq[Any]] = (b.lower, b.upper, b.inSet) match {
        case (_, _, Some(vs)) => Some(vs)
        case (Some(lo), Some(hi), None) if lo == hi => Some(Seq(lo))
        case _ => None
      }
      (pointVals, types.get(b.column)) match {
        case (Some(vs), Some(dt)) if indexed.contains(phys(b.column)) =>
          val hashes = if (vs.isEmpty) Seq.empty[Long] else {
            val row = oneLocalRow(spark).select(
              vs.map(v => xxhash64(lit(v).cast(dt))): _*).collect()(0)
            vs.indices.map(row.getLong)
          }
          Some(phys(b.column) -> hashes)
        case _ => None
      }
    }.toMap
  }

  /** Generated-column partition pruning (the Delta `GENERATED ALWAYS AS`
    * payoff): a bound on a BASE column implies a bound on a generated
    * column whose expression is a recognized MONOTONE shape of it —
    * `date(ts)`, `year(ts)`, `date_trunc('day', ts)`, a prefix
    * `date_format`/`substring`, `floor(x / n)`. With the generated column
    * as the partition column, a filter like `ts >= '2024-06-01'` prunes
    * whole partitions from the LOG, before any file listing — the user
    * never has to repeat the predicate against the partition column.
    * Bound mapping is sound exactly because each shape is non-decreasing:
    * lo ≤ x ≤ hi  ⇒  f(lo) ≤ f(x) ≤ f(hi). Unrecognized expressions
    * derive nothing (pruning stays an optimization, never a filter). */
  private[graft] def derivedGeneratedBounds(spark: SparkSession,
      snap: Snapshot, bounds: Seq[ColumnBound]): Seq[ColumnBound] =
    derivedGeneratedBoundsFrom(spark, snap.generated,
      snap.schema.fields.map(f => f.name -> f.dataType).toMap, bounds)

  /** The snapshot-free core of [[derivedGeneratedBounds]] — also fed by
    * the branch-scan derive hook ([[graft.plans.BranchFilePruning]]),
    * where the generated map and bound names arrive already translated
    * into a shared (logical) name space. */
  private[graft] def derivedGeneratedBoundsFrom(spark: SparkSession,
      generated: Map[String, String], types: Map[String, DataType],
      bounds: Seq[ColumnBound]): Seq[ColumnBound] = {
    if (generated.isEmpty) return Nil
    for {
      (c, e) <- generated.toSeq
      (base, shape) <- monotoneBaseOf(e).toSeq
      b <- bounds.filter(x => x.column == base &&
        (x.lower.isDefined || x.upper.isDefined))
    } yield ColumnBound(c,
      b.lower.flatMap(v => evalGeneratedAt(spark, e, base, v)),
      b.upper.flatMap(v => evalGeneratedAt(spark, e, base, v)),
      strictExact = shape match {
        case TypedShape => false
        case FormatShape => true // string result, width-fragile beyond 4-digit years
        case PrefixShape => !types.get(base).contains(StringType)
      })
  }

  /** The single base column of `e` when `e` is one of the whitelisted
    * monotone (non-decreasing) generation shapes; None otherwise.
    * `floor(x / n)` requires a positive literal divisor — division by a
    * negative would REVERSE the order and make the mapping unsound. */
  private def monotoneBaseOf(e: String): Option[(String, ShapeKind)] = {
    val id = """`?([A-Za-z_][A-Za-z0-9_]*)`?"""
    val shapes: Seq[(scala.util.matching.Regex, ShapeKind)] = Seq(
      ("""(?i)^\s*(?:to_)?date\s*\(\s*""" + id + """\s*\)\s*$""").r -> TypedShape,
      ("""(?i)^\s*cast\s*\(\s*""" + id + """\s+as\s+date\s*\)\s*$""").r -> TypedShape,
      ("""(?i)^\s*year\s*\(\s*""" + id + """\s*\)\s*$""").r -> TypedShape,
      (("""(?i)^\s*date_trunc\s*\(\s*'(?:year|quarter|month|week|day|hour|minute)'\s*,\s*""" +
        id + """\s*\)\s*$""").r) -> TypedShape,
      ("""(?i)^\s*date_format\s*\(\s*""" + id + """\s*,\s*'yyyy(?:-MM(?:-dd)?)?'\s*\)\s*$""").r
        -> FormatShape,
      ("""(?i)^\s*substr(?:ing)?\s*\(\s*""" + id + """\s*,\s*1\s*,\s*\d+\s*\)\s*$""").r
        -> PrefixShape,
      ("""(?i)^\s*floor\s*\(\s*""" + id + """\s*/\s*\d+(?:\.\d+)?\s*\)\s*$""").r -> TypedShape)
    shapes.flatMap { case (re, k) =>
      re.findFirstMatchIn(e).map(m => (m.group(1), k)) }.headOption
  }

  /** How a whitelisted generation shape preserves order: [[TypedShape]]s
    * (date/year/trunc/floor) are monotone over their whole typed domain;
    * [[FormatShape]] (date_format → string) only at canonical 4-digit-
    * year width; [[PrefixShape]] (substring from 1) is fully monotone
    * over STRING bases (byte-order prefix) but width-fragile when the
    * base is temporal (the implicit cast re-enters string space). */
  private sealed trait ShapeKind
  private case object TypedShape extends ShapeKind
  private case object FormatShape extends ShapeKind
  private case object PrefixShape extends ShapeKind

  /** Evaluate generation expression `e` at base-column value `v` on the
    * driver ([[oneLocalRow]]), so the mapping uses the same Catalyst
    * semantics and session time zone as write-time materialization in
    * [[writeData]]. */
  private def evalGeneratedAt(spark: SparkSession, e: String,
      baseCol: String, v: Any): Option[Any] = {
    val row = oneLocalRow(spark).select(lit(v).as(baseCol))
      .select(expr(e).as("__g")).collect()(0)
    if (row.isNullAt(0)) None else Some(row.get(0))
  }

  /** A one-row, zero-column local frame for evaluating constants on the
    * driver: a projection over it folds into a local relation in the
    * optimizer (`ConvertToLocalRelation`, interpreted), so `collect`
    * starts no job and compiles no class. Analysis gives casts the
    * session time zone. */
  private def oneLocalRow(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.singletonList(Row()), new StructType())

  /** Balanced unionByName: keeps the plan O(log n) deep for n scan
    * branches — a left-deep reduce grows analysis time linearly with the
    * live partition count, which a high-cardinality partitioned table
    * hits hard. */
  private def unionTree(dfs: Seq[DataFrame]): DataFrame = {
    var level = dfs
    while (level.size > 1)
      level = level.grouped(2).map { g =>
        if (g.size == 2) g(0).unionByName(g(1)) else g(0)
      }.toSeq
    level.head
  }

  /** Feed the LOG's table statistics into Catalyst's cost model: the
    * scan's `LogicalRelation` gets a `CatalogTable` carrying
    * `CatalogStatistics(sizeInBytes, rowCount)` summed over exactly the
    * files this scan reads — so a pruned or partition-grouped scan
    * reports its pruned cardinality, not the whole table's. Catalyst
    * consults these in `LogicalRelation.computeStats`:
    * `sizeInBytes` always (it equals the summed live-file bytes the
    * file-listing estimate would produce, so default behavior is
    * unchanged), and `rowCount` when `spark.sql.cbo.enabled` or
    * `spark.sql.cbo.planStats.enabled` is set — then the plan's size
    * estimate becomes rowCount × row width, the IN-MEMORY size.
    *
    * Why it matters at 100 TB: broadcast decisions compare the plan
    * estimate against `autoBroadcastJoinThreshold`. A well-compressed
    * (RLE/dictionary) dimension can be kilobytes on disk but gigabytes
    * as rows — the file-size estimate happily broadcasts it and the
    * driver OOMs; the log's rowCount declines it. The reverse also
    * holds for join reordering: real cardinalities beat compressed
    * byte counts. Stats attach only when every file logged a real size
    * (pre-sizes-era adds carry 0 — a 0-byte claim would wrongly
    * broadcast ANY table). Pure driver metadata from the snapshot
    * already in hand: zero extra I/O at any scale. */
  private def withLogStats(spark: SparkSession, df: DataFrame, path: String,
      files: Seq[AddFile], props: Map[String, String] = Map.empty,
      churn: Long = 0L): DataFrame = {
    if (files.isEmpty || files.exists(_.bytes <= 0L)) return df
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat,
      CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // COLUMN stats (min/max from the same log entries, the same decline
    // rules as the stats-only aggregate rewrite) feed CBO's filter
    // selectivity: `Filter(x > c)` over a scan with known [min,max]
    // estimates (max−c)/(max−min) of the rows instead of all of them,
    // so a selective filter above a big fact can re-qualify it for a
    // broadcast — the 100 TB star-join planning move. Computed ONLY
    // when a CBO flag is on: the default path pays zero per-column
    // driver work. Min/max remain valid BOUNDS under deletion vectors
    // (a DV only removes rows), which is all estimation needs.
    val wantColStats =
      spark.conf.get("spark.sql.cbo.enabled", "false") == "true" ||
      spark.conf.get("spark.sql.cbo.planStats.enabled", "false") == "true"
    // CatalogColumnStat's OWN external rendering: plain numbers for
    // numerics but ISO strings for dates/timestamps (fromExternalString
    // v2 parses with DateFormatter/TimestampFormatter — epoch numbers
    // would silently land bounds in year ~50000 and neuter estimation)
    def external(v: Any, dt: DataType): Option[String] = v match {
      case null => None
      case _: org.apache.spark.unsafe.types.UTF8String => None // no string stats in the catalog model
      case x => Some(org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
        .toExternalString(x, "", dt))
    }
    // ROW-CHURN DISARM: appends fold into the standing stats, but the
    // [[ChurnOps]] family changes/removes committed rows in ways
    // sketches cannot track — once such a commit lands, the ANALYZE-
    // derived NDV/nulls/histograms describe a table that no longer
    // exists and the CBO must stop pricing from them (decline-only:
    // serve NOTHING rather than something stale). Live min/max stay —
    // they come from the scan's own live file entries and are always
    // correct bounds. `spark.graft.stats.maxChurn` (default 0) tolerates
    // that many row-removing commits before disarming; ANALYZE (or the
    // auto-fold's analyzedVersion advance) re-arms.
    val tol = churnTolerance(props, spark)
    val churnDisarmed = churn > tol
    if (churnDisarmed && wantColStats)
      org.slf4j.LoggerFactory.getLogger("graft.DeltaLite").info(
        s"withLogStats: ANALYZE stats DISARMED for $path — " +
          s"$churn row-removing commit(s) since the last ANALYZE " +
          s"(tolerance $tol); serving live min/max only")
    lazy val analyzedFull =
      if (churnDisarmed) (0L, Map.empty[String, ColStatEntry])
      else parseColStatsFull(props)
    lazy val analyzed = analyzedFull._2
    // PARTITION-LOCAL stats: when this scan's file group sits entirely
    // inside ONE partition (exactly what [[readFiles]] builds for
    // Hive-layout tables — and what survives partition pruning) and the
    // table carries BY PARTITION stats for it, the partition's own
    // NDV/null counts replace the table-global values: a
    // partition-correlated column prices with partition-local
    // selectivity instead of a table-wide average. The table histogram
    // is NOT served with partition-local stats (its bins describe the
    // whole table's distribution — on a correlated column that's the
    // very skew this feature corrects; min/max stay live per file
    // group, so range pricing keeps partition-local bounds).
    lazy val partLocal: Map[String, ColStatEntry] = {
      val pvs = files.map(_.pv).distinct
      if (churnDisarmed || pvs.size != 1 || pvs.head.isEmpty) Map.empty
      else parsePartStats(props).get(pvKey(pvs.head))
        .map(_._2).getOrElse(Map.empty)
    }
    def colStatsFor(schema: StructType): Map[String, CatalogColumnStat] =
      if (!wantColStats) Map.empty
      else schema.fields.iterator.flatMap { f =>
        // live bounds from the scan's own file entries; NDV/null counts
        // from the last ANALYZE (estimate semantics — see analyzeTable)
        def ex(isMin: Boolean) = graft.plans.StatsAggRewrite
          .statExtremum(files, f.name, f.dataType, isMin)
          .flatMap(external(_, f.dataType))
        val (mn, mx) = (ex(isMin = true), ex(isMin = false)) match {
          case (a @ Some(_), b @ Some(_)) => (a, b)
          case _ => (None, None)
        }
        val an = (analyzed.get(f.name), partLocal.get(f.name)) match {
          case (Some(t), Some(p)) => Some(t.copy(
            ndv = p.ndv.orElse(t.ndv), nulls = p.nulls.orElse(t.nulls),
            hist = None, qsk = None, histAsOf = None))
          case (None, p @ Some(_)) => p
          case (t, None) => t
        }
        val ndv = an.flatMap(_.ndv); val nulls = an.flatMap(_.nulls)
        if (mn.isEmpty && ndv.isEmpty && nulls.isEmpty) None
        else Some(f.name -> CatalogColumnStat(
          distinctCount = ndv.map(BigInt(_)),
          min = mn, max = mx,
          nullCount = nulls.map(BigInt(_)),
          avgLen = an.flatMap(_.avgLen)
            .orElse(Some(f.dataType.defaultSize.toLong)),
          maxLen = an.flatMap(_.maxLen)
            .orElse(Some(f.dataType.defaultSize.toLong)),
          histogram = an.flatMap(e =>
            servedHistogram(analyzedFull._1, e)).map { case (h, bins) =>
            org.apache.spark.sql.catalyst.plans.logical.Histogram(h,
              bins.map(b => org.apache.spark.sql.catalyst.plans.logical
                .HistogramBin(b._1, b._2, b._3)).toArray)
          }, version = 2))
      }.toMap
    val plan = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation if lr.catalogTable.isEmpty =>
        lr.copy(catalogTable = Some(CatalogTable(
          identifier = TableIdentifier(root(path).getFileName.toString),
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty.copy(
            locationUri = Some(root(path).toUri)),
          schema = lr.schema,
          provider = Some("parquet"),
          stats = Some(CatalogStatistics(
            sizeInBytes = BigInt(files.map(_.bytes).sum),
            rowCount = Some(BigInt(files.map(_.rows).sum)),
            colStats = colStatsFor(lr.schema))))))
    }
    org.apache.spark.sql.graft.PlanFrame.ofRows(spark, plan)
  }

  /** Translate a generated-column map into a BOUND-DERIVATION hook for
    * the branch-scan pruning rule: physical bound names map back to
    * logical, [[derivedGeneratedBoundsFrom]] derives in logical space,
    * derived names map forward to physical (identity for partition
    * columns, which cannot be renamed). Built once per tagged scan;
    * evaluated only when a Filter actually lands on it. */
  private def generatedDeriveHook(schema: StructType,
      physical: Map[String, String], generated: Map[String, String])
      : Seq[ColumnBound] => Seq[ColumnBound] =
    if (generated.isEmpty) (_ => Nil)
    else {
      val types = schema.fields.map(f => f.name -> f.dataType).toMap
      val toLogical = physical.map(_.swap)
      bs => {
        val logical = bs.map(b =>
          b.copy(column = toLogical.getOrElse(b.column, b.column)))
        derivedGeneratedBoundsFrom(SparkSession.active, generated, types,
          logical).map(b =>
            b.copy(column = physical.getOrElse(b.column, b.column)))
      }
    }

  /** The scan of a snapshot's live `files`, for both logs: one parquet
    * scan per file group, each built by [[LogFileScan]] straight from
    * the log's file list, so no read lists files through Spark (above
    * 32 paths that listing is a job with one task per file, before the
    * read's own action). DV-free files take the plain scan, which
    * carries the log's statistics and the tag BranchFilePruning prunes
    * by; only the files carrying a deletion vector take
    * [[readFilesWithPos]], unioned in. */
  private[graft] def readFiles(spark: SparkSession, path: String, schema: StructType,
      files: Seq[AddFile], partitionBy: Seq[String],
      physical: Map[String, String],
      props: Map[String, String] = Map.empty,
      churn: Long = 0L,
      generated: Map[String, String] = Map.empty): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else if (files.exists(_.dv.isDefined)) {
      val (dvFiles, plain) = files.partition(_.dv.isDefined)
      readFiles(spark, path, schema, plain, partitionBy, physical, props,
          churn, generated)
        .unionByName(readFilesWithPos(spark, path, schema, dvFiles,
          partitionBy, physical, props, churn)
          .select(schema.fieldNames.map(col).toSeq: _*))
    } else {
      val r = root(path)
      def phys(n: String) = physical.getOrElse(n, n)
      val derive = generatedDeriveHook(schema, physical, generated)
      if (partitionBy.isEmpty) {
        // data files carry PHYSICAL names; read them and alias back to
        // the logical schema (identity projection when never renamed —
        // filters push through aliases, so pruning/pushdown unaffected)
        val physSchema = StructType(schema.fields.map(f => f.copy(name = phys(f.name))))
        // tagged for BranchFilePruning: a later Filter can drop whole
        // files from the log's min/max stats (see graft.plans)
        val base = graft.plans.BranchFilePruning.tagScan(
          withLogStats(spark,
            LogFileScan.frame(spark, r, files.map(_.path), physSchema),
            path, files, props, churn),
          r.toString,
          physSchema.fields.map(f => f.name -> f.dataType).toMap, files,
          derive)
        if (physical.isEmpty) base
        else base.select(schema.fields.map(f => col(phys(f.name)).as(f.name)).toSeq: _*)
      } else {
        // Hive-layout table: data files carry only the non-partition
        // columns; partition columns re-attach as per-group literals from
        // the LOG's partition values (no directory listing or inference —
        // the log is the source of truth). One scan branch per live
        // partition value; plan-literal partition columns constant-fold,
        // so a filter on them also prunes branches Catalyst-side.
        val dataFields = schema.fields.filterNot(f => partitionBy.contains(f.name))
        val dataSchema = StructType(dataFields.map(f => f.copy(name = phys(f.name))))
        unionTree(files.groupBy(_.pv).toSeq
          .sortBy(_._1.toList.sortBy(_._1).mkString(","))
          .map { case (pv, group) =>
            // type map includes PARTITION columns (logical = physical
            // there): a derived generated-column bound on the partition
            // column then resolves against the group's logged partition
            // value — whole-branch elimination from a base-column filter
            val base = graft.plans.BranchFilePruning.tagScan(
              withLogStats(spark,
                LogFileScan.frame(spark, r, group.map(_.path), dataSchema),
                path, group, props, churn),
              r.toString,
              dataSchema.fields.map(f => f.name -> f.dataType).toMap ++
                schema.fields.filter(f => partitionBy.contains(f.name))
                  .map(f => f.name -> f.dataType),
              group, derive)
              .select(dataFields.map(f => col(phys(f.name)).as(f.name)).toSeq: _*)
            attachPartitionCols(base, schema, partitionBy, pv)
              .select(schema.fieldNames.map(col).toSeq: _*)
          })
      }
    }

  /** Partition columns as typed literals from the logged string values
    * (`__HIVE_DEFAULT_PARTITION__` / absent = null, like Spark's own
    * partition inference). */
  private def attachPartitionCols(df: DataFrame, schema: StructType,
      partitionBy: Seq[String], pv: Map[String, String]): DataFrame = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    partitionBy.foldLeft(df) { (d, c) =>
      val raw = pv.get(c).filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
      d.withColumn(c,
        raw.map(v => lit(v).cast(types(c))).getOrElse(lit(null).cast(types(c))))
    }
  }

  /** Like [[readFiles]] but with `path` (the file's log key) and
    * `row_index` position columns, deletion vectors applied — the
    * row-position view that the DV read path, DV creation and the DML
    * locators share. Each file's descriptor decodes to its deleted
    * positions ([[dvPositionsFrame]]), which the scan anti-joins on
    * (path, row_index), broadcast up to [[BroadcastDvMaxBytes]]. */
  private[sources] def readFilesWithPos(spark: SparkSession, path: String,
      schema: StructType, files: Seq[AddFile],
      partitionBy: Seq[String],
      physical: Map[String, String],
      props: Map[String, String] = Map.empty,
      churn: Long = 0L): DataFrame = {
    val r = root(path)
    if (files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType(schema.fields ++ Seq(StructField("path", StringType),
          StructField("row_index", LongType))))
    // the DV side first: a collision, a corrupt or an unreadable DV
    // declines before any data file is touched
    val dvs = files.flatMap(f => f.dv.map(f.path -> _))
    val dvSide = if (dvs.isEmpty) None else {
      requireNoPosCollision(schema, physical, "deletion-vector read")
      val (pos, estBytes) = dvPositionsFrame(spark, path, dvs)
      Some(if (estBytes <= BroadcastDvMaxBytes) broadcast(pos) else pos)
    }
    def phys(n: String) = physical.getOrElse(n, n)
    val dataSchema = StructType(
      schema.fields.filterNot(f => partitionBy.contains(f.name))
        .map(f => f.copy(name = phys(f.name))))
    // The `path` column must reproduce each file's LOG KEY (AddFile.path)
    // so DV anti-joins and touched-file detection match: table-relative
    // for files under the root, absolute for by-reference files from a
    // shallow CLONE — hence one substring offset per shape.
    def scanGroup(group: Seq[AddFile], pv: Map[String, String]): DataFrame = {
      val (abs, rel) = group.partition(f => Paths.get(f.path).isAbsolute)
      def scanShape(fs: Seq[AddFile], prefixLen: Int): Option[DataFrame] =
        if (fs.isEmpty) None
        else Some(attachPartitionCols(
          withLogStats(spark,
            LogFileScan.frame(spark, r, fs.map(_.path), dataSchema),
            path, fs, props, churn)
            .withColumn("path", substring(col("_metadata.file_path"), prefixLen, 100000))
            .withColumn("row_index", col("_metadata.row_index")),
          schema, partitionBy, pv)
          // physical→logical rename happens in this final projection
          // (partition cols and path/row_index are already logical)
          .select(schema.fieldNames.map(n => col(phys(n)).as(n)).toSeq ++
            Seq(col("path"), col("row_index")): _*))
      unionTree(Seq(
        scanShape(rel, s"file:$r/".length + 1), // substring is 1-based
        scanShape(abs, "file:".length + 1)).flatten)
    }
    val data =
      if (partitionBy.isEmpty) scanGroup(files, Map.empty)
      else unionTree(files.groupBy(_.pv).toSeq
        .sortBy(_._1.toList.sortBy(_._1).mkString(","))
        .map { case (pv, group) => scanGroup(group, pv) })
    dvSide.fold(data)(data.join(_,
      col("path") === col("__dv_path") && col("row_index") === col("__dv_ri"),
      "left_anti").drop("__dv_path", "__dv_ri"))
  }

  /** DVs small enough broadcast their positions to the anti-join;
    * larger ones fall back to a shuffled anti-join, the plan that
    * survives a mostly-deleted 100 TB table. The decision weighs
    * BYTES, not row count (each position row carries the file's full
    * path string — a 4M-row broadcast of date-partitioned paths is
    * hundreds of MB), estimated from the log alone (cardinality × path
    * length — no decode needed to decide). */
  private[sources] val BroadcastDvMaxBytes = 64L << 20

  /** (`__dv_path`, `__dv_ri`) frame of the given descriptors' deleted
    * positions. The driver holds (path, roaring bytes, cardinality)
    * triples — metadata-proportional, like the log itself; executors
    * decode and expand, and each decode is cardinality-checked against
    * the log's declared count (a short decode would silently resurrect
    * rows). Returns the frame plus an estimated materialized byte
    * weight (the broadcast decision input — path strings dominate). */
  private[graft] def dvPositionsFrame(spark: SparkSession, path: String,
      descs: Seq[(String, DeletionVectors.Descriptor)])
      : (DataFrame, Long) = {
    val r = root(path)
    val payload: Seq[(String, Array[Byte], Long)] = descs.map {
      case (rel, d) => (rel, DeletionVectors.bitmapBytes(r, d),
        d.cardinality)
    }
    val total = descs.map { case (rel, d) =>
      d.cardinality * (rel.length.toLong * 2 + 24) }.sum
    import spark.implicits._
    val df = spark.sparkContext
      .parallelize(payload, math.max(1, math.min(payload.size, 32)))
      .flatMap { case (rel, bytes, card) =>
        val ps = DeletionVectors.positions(bytes)
        require(ps.length == card,
          s"deletion vector of '$rel' decodes to ${ps.length} " +
            s"positions but the log declares cardinality $card " +
            "(corrupt DV)")
        ps.iterator.map(ri => (rel, ri))
      }
      .toDF("__dv_path", "__dv_ri")
    (df, total)
  }

  /** The row-position reads inject `path`/`row_index` columns; a table
    * whose own columns use either name would collide and misread —
    * decline loudly instead, never serve the file path as the user's
    * data. */
  private[sources] def requireNoPosCollision(schema: StructType,
      physical: Map[String, String], what: String): Unit = {
    val taken = schema.fieldNames.toSet ++ physical.values
    val clash = Seq("path", "row_index").filter(taken)
    require(clash.isEmpty,
      s"$what: the table has a column named ${clash.mkString("/")}, " +
        "which collides with the row-position plumbing the DV " +
        "anti-filter rides — this reader declines rather than risk " +
        "serving wrong values; OPTIMIZE/VACUUM the source to " +
        "materialize its deletes first")
  }

  /** THE deletion-vector writer of both logs: fresh positions ∪ the
    * prior positions of every touched file → one sorted roaring bitmap
    * per file, built on executors → one packed `deletion_vector_*.bin`
    * ([[DeletionVectors.writeDvFilePacked]]) → one descriptor per
    * touched file, sorted by path. `fresh` is a (path, row_index) frame
    * of newly deleted positions and is evaluated once, by the single
    * collect here; `oldPos` is the [[dvPositionsFrame]] of the files'
    * current DVs (only touched files' entries are folded in, so each
    * file references exactly one DV that never forgets a prior
    * delete). Nothing is written when nothing matched. The caller
    * commits the descriptors through its own log: the file stays
    * invisible until then, and VACUUM reclaims it if that commit never
    * lands. */
  private[graft] def writeDeletionVectors(spark: SparkSession,
      path: String, fresh: DataFrame, oldPos: DataFrame)
      : Seq[(String, DeletionVectors.Descriptor)] = {
    val touched = fresh.select(col("path")).distinct()
    val finalPos = fresh.unionByName(
      oldPos.toDF("path", "row_index")
        .join(touched, Seq("path"), "left_semi"))
    import spark.implicits._
    val perFile: Seq[(String, Array[Byte], Long)] = finalPos
      .groupBy(col("path"))
      .agg(sort_array(collect_set(col("row_index"))).as("pos"))
      .as[(String, Array[Long])]
      .map { case (p, pos) =>
        (p, DeletionVectors.serialize(pos), pos.length.toLong) }
      .collect().toSeq.sortBy(_._1)
    if (perFile.isEmpty) Nil
    else perFile.map(_._1).zip(DeletionVectors.writeDvFilePacked(root(path),
      perFile.map(e => (e._2, e._3))))
  }

  /** The nondeterminism gate of every deletion-vector write: the
    * matching scan and any re-evaluation would disagree, so a DV could
    * not name a stable row set — delta-spark declines these too. */
  private[sources] def requireDeterministicDv(op: String, path: String,
      predicate: String, deterministic: Boolean): Unit =
    require(deterministic,
      s"$op on $path: predicate '$predicate' is " +
        "nondeterministic — a deletion vector must name a stable " +
        "row set; materialize the choice into a column first")

  /** Soft delete via DELETION VECTORS (the Delta DV feature): rows
    * matching `cond` are recorded as standard roaring descriptors by
    * [[writeDeletionVectors]] (one packed `deletion_vector_*.bin` per
    * delete); the data files are NOT rewritten — the commit re-adds
    * each touched file with its new descriptor, and every read path
    * anti-joins the decoded positions ([[readFilesWithPos]]). The write
    * cost of a delete drops from O(touched file bytes) to O(deleted row
    * positions); [[compact]]/[[cluster]]/[[reorgPurge]] materialize DVs
    * away, [[vacuum]] keeps the DV files of retained versions. Prior
    * DVs of touched files are folded into the new DV so each file
    * references exactly one. A nondeterministic `cond` is declined.
    * Matched rows come from [[locateRows]], so only the files whose
    * stats admit `cond` are read. */
  def deleteVectorized(spark: SparkSession, path: String, cond: Column): Long = {
    val snap = snapshot(path)
    rejectIfAppendOnly(snap, "DELETE_DV")
    requireNoPosCollision(snap.schema, snap.physical, "DELETE_DV")
    requireDeterministicDv("DELETE_DV", path, cond.toString,
      analyzePredicate(spark, snap.schema, cond).deterministic)
    val l = locateRows(spark, path, snap, Where(cond))
    val newDv = writeDeletionVectors(spark, path,
      graft.Frames.cut(l.matched.select("path", "row_index")), l.oldPos).toMap
    if (newDv.isEmpty) return commit(path, snap, "DELETE_DV")
    val readds = snap.files.filter(f => newDv.contains(f.path))
      .map(f => f.copy(dv = newDv.get(f.path)))
    // a table carrying DVs needs the DV read path → auto-require the
    // reader feature with the first vector (Delta's automatic upgrade)
    commit(path, snap, "DELETE_DV", next = snap.copy(
        properties = withFeature(snap.properties, "deletionVectors", reader = true)),
      adds = readds, removes = readds.map(_.path))
  }

  /** Injectable wall clock (test hook for the in-commit-timestamp skew
    * tests; production value is the system clock). */
  private[graft] var clockMs: () => Long = () => System.currentTimeMillis()

  /** Version `v`'s commit header: its op and its instant
    * (`committedAtMs`), each None when absent — a one-line read. */
  private def commitHeader(path: String, v: Long): (Option[String], Option[Long]) = {
    val lines = Files.lines(logDir(path).resolve(s"$v.json"))
    val first = try lines.iterator().asScala.take(1).toList finally lines.close()
    first.flatMap(parseLine(_) match {
      case JObject(fields) => fields.collectFirst {
        case ("commit", JObject(c)) => c.toMap
      }
      case _ => None
    }).headOption.fold((Option.empty[String], Option.empty[Long])) { c =>
      (c.get("op").collect { case JString(op) => op },
        longOf(c.get("committedAtMs")))
    }
  }

  /** `TIMESTAMP AS OF` time travel: the newest version committed at or
    * before `tsMillis` (from the logged `committedAtMs` headers — only
    * the one-line commit headers are parsed, not the action bodies). */
  def versionAtTimestamp(path: String, tsMillis: Long): Long = {
    val latest = latestVersion(path)
      .getOrElse(throw new IllegalArgumentException(s"no DeltaLite table at $path"))
    // start at the earliest RETAINED commit — below it the headers were
    // pruned by cleanupLogs and a timestamp there is unresolvable anyway
    val vs = (earliestVersion(path).getOrElse(0L) to latest).flatMap(v =>
      commitHeader(path, v)._2.map(v -> _))
    vs.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"no version of $path existed at or before timestamp $tsMillis"))
  }

  /** Snapshot read pinned to a wall-clock instant (Delta
    * `TIMESTAMP AS OF`). */
  def readAsOfTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAtTimestamp(path, tsMillis)))

  /** `DESCRIBE HISTORY` analogue: one row per commit, newest first —
    * (version, operation, timestamp, num_added_files, num_removed_files,
    * rows_added). A pure driver-side metadata read over the commit files
    * (O(log size), never touches data — same as real Delta, whose history
    * comes from the log alone). `limit` caps how many newest commits are
    * read at all. */
  def history(spark: SparkSession, path: String,
      limit: Option[Int] = None): DataFrame = {
    val latest = latestVersion(path)
      .getOrElse(throw new IllegalArgumentException(s"no DeltaLite table at $path"))
    val floor = earliestVersion(path).getOrElse(0L) // cleanupLogs-pruned history is absent, not an error
    val from = math.max(floor,
      limit.map(n => math.max(0L, latest - n + 1)).getOrElse(0L))
    val rows = (from to latest).reverse.map { v =>
      var op = ""; var ts = 0L; var adds = 0; var removes = 0; var rowsAdded = 0L
      claimStore.readImmutable(logDir(path).resolve(s"$v.json"))
        .filter(_.nonEmpty).foreach { line =>
          parseLine(line) match {
            case JObject(fields) => fields.foreach {
              case ("commit", JObject(c)) =>
                val m = c.toMap
                m.get("op").collect { case JString(s) => op = s }
                m.get("committedAtMs").collect {
                  case JLong(l) => ts = l
                  case JInt(i) => ts = i.toLong
                }
              case ("add", JObject(a)) =>
                adds += 1
                a.collectFirst { case ("rows", JLong(l)) => l
                                 case ("rows", JInt(i)) => i.toLong }
                  .foreach(rowsAdded += _)
              case ("remove", _) => removes += 1
              case _ => ()
            }
            case _ => ()
          }
        }
      Row(v, op, new java.sql.Timestamp(ts), adds, removes, rowsAdded)
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("timestamp", TimestampType, nullable = false),
      StructField("num_added_files", IntegerType, nullable = false),
      StructField("num_removed_files", IntegerType, nullable = false),
      StructField("rows_added", LongType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Rows ADDED between two versions — the streaming-source read: the
    * files live at `to` that were not live at `from` (by path). `from` =
    * None means "the initial snapshot" (everything at `to`). A file
    * REMOVED in the range means the range is not append-only (MERGE/
    * DELETE/OPTIMIZE rewrote data); per the Delta streaming-source
    * contract that is an error unless the caller opts into
    * `allowRewrites` (Delta's ignoreChanges: rewritten files re-emit
    * their surviving rows — at-least-once for those rows, documented). */
  def readVersionAppends(spark: SparkSession, path: String,
      from: Option[Long], to: Long, allowRewrites: Boolean): DataFrame = {
    val toSnap = snapshot(path, Some(to))
    // A SERVING surface: each micro-batch gets the S63 projection (raw
    // row filter -> masks) under the policy IN FORCE AT THE BATCH'S END
    // VERSION — a policy change mid-stream governs every batch from the
    // first one whose end version carries it, earlier batches are
    // already delivered and stay as served (the same
    // policy-at-version rule as time travel). Appends are whole rows,
    // so the projection is exactly the batch-read shape: no change-feed
    // pre/post-image subtleties here.
    def governed(df: DataFrame): DataFrame =
      applyGovernance(spark, df, toSnap.properties)
    from match {
      case None =>
        governed(readFiles(spark, path, toSnap.schema, toSnap.files,
          toSnap.partitionBy, toSnap.physical))
      case Some(f) =>
        val fromSnap = snapshot(path, Some(f))
        // file identity is (path, dv): a deletion-vector delete keeps the
        // path but removes ROWS, which breaks the append-only contract
        // exactly like a rewrite — with a path-only identity it would
        // stream through SILENTLY (no error, no events) while the table
        // lost rows. Under ignoreChanges a DV'd file re-delivers its
        // surviving rows, Delta's documented re-delivery semantics
        // (downstream dedups on a key).
        val toKeys = toSnap.files.map(x => (x.path, x.dv)).toSet
        val removed = fromSnap.files.filterNot(x => toKeys.contains((x.path, x.dv)))
        if (removed.nonEmpty && !allowRewrites)
          throw new IllegalStateException(
            s"versions ${f + 1}..$to of $path are not append-only " +
              s"(${removed.size} file(s) removed, rewritten, or DV-deleted); " +
              "set ignoreChanges=true to stream through rewrites, or " +
              "readChangeFeed=true to consume row-level change events")
        val fromKeys = fromSnap.files.map(x => (x.path, x.dv)).toSet
        governed(readFiles(spark, path, toSnap.schema,
          toSnap.files.filterNot(x => fromKeys.contains((x.path, x.dv))),
          toSnap.partitionBy, toSnap.physical))
    }
  }

  /** Add-file count, row total, and byte total committed by exactly
    * version `v` — one driver-side read of that version's log file, no
    * snapshot replay. The streaming source's admission control
    * (`maxFilesPerTrigger` / `maxRowsPerTrigger` / `maxBytesPerTrigger`)
    * walks these to size a micro-batch without touching any data file. */
  def versionAddStats(path: String, v: Long): (Long, Long, Long) = {
    val lines = claimStore.readImmutable(logDir(path).resolve(s"$v.json"))
    var files = 0L
    var rows = 0L
    var bytes = 0L
    lines.filter(_.nonEmpty).foreach { line =>
      parseLine(line) match {
        case JObject(fields) => fields.foreach {
          case ("add", a: JObject) =>
            val m = a.obj.toMap
            def num(k: String): Long = m.get(k).collect {
              case JLong(l) => l
              case JInt(i) => i.toLong
            }.getOrElse(0L)
            files += 1
            rows += num("rows")
            bytes += num("bytes")
          case _ => ()
        }
        case _ => ()
      }
    }
    (files, rows, bytes)
  }

  /** Expose a DeltaLite table to SQL as a temp view (optionally pinned to
    * a version) — the EP3 ad-hoc surface over the storage layer:
    * `SELECT ... FROM <name>` after registration. */
  def registerView(spark: SparkSession, name: String, path: String,
      asOf: Option[Long] = None): Unit =
    read(spark, path, asOf).createOrReplaceTempView(name)

  // ----------------------------------------------------------- write API

  def create(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String] = Nil,
      generated: Map[String, String] = Map.empty,
      identity: Map[String, IdentityCol] = Map.empty,
      properties: Map[String, String] = Map.empty,
      defaults: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None,
      txns: Seq[(String, Long)] = Nil): Long = {
    require(latestVersion(path).isEmpty, s"table already exists at $path")
    // Column DEFAULTs (see setColumnDefault): declared at create for
    // columns of the CREATE batch (which defines the schema); applied to
    // every later write that omits the column.
    defaults.foreach { case (c, _) =>
      require(df.columns.contains(c),
        s"DEFAULT column '$c' must be in the create batch ${df.columns.toSeq}")
      require(!generated.contains(c),
        s"'$c' is GENERATED ALWAYS AS and cannot have a DEFAULT")
      require(!identity.contains(c),
        s"'$c' is an identity column and cannot have a DEFAULT")
    }
    // Identity columns (Delta `GENERATED ALWAYS AS IDENTITY`): the batch
    // may never supply them (ALWAYS semantics) — the table allocates.
    identity.foreach { case (c, ic) =>
      require(ic.step > 0, s"identity column '$c' requires a positive step")
      require(!df.columns.contains(c),
        s"'$c' is GENERATED ALWAYS AS IDENTITY and cannot be supplied")
      require(!generated.contains(c),
        s"'$c' cannot be both a generated and an identity column")
      require(!partitionBy.contains(c),
        s"identity column '$c' cannot be a partition column")
    }
    // Generated columns (Delta `GENERATED ALWAYS AS (expr)`): pure
    // functions of the batch's OTHER columns, recomputed by every write.
    // A generation expression may not reference another generated column
    // (no chains — same rule as Delta), and a batch that supplies the
    // column explicitly must agree with the expression (generatedChecks).
    generated.foreach { case (c, e) =>
      generated.keys.filter(_ != c).foreach { other =>
        require(!s"\\b${java.util.regex.Pattern.quote(other)}\\b".r
            .findFirstIn(e).isDefined,
          s"generated column '$c' may not reference generated column '$other'")
      }
    }
    val withGen = generated.foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, expr(e))
    }
    val withIds = identity.foldLeft(withGen) { case (d, (c, ic)) =>
      d.withColumn(c, identityExpr(ic, ic.start - ic.step))
    }
    require(partitionBy.forall(withIds.columns.contains),
      s"partition columns $partitionBy must exist in ${withIds.columns.toSeq}")
    val schema = withIds.schema
    // validate every DEFAULT expression against the final schema now
    defaults.foreach { case (c, e) =>
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        .select(expr(e).cast(schema(c).dataType)).schema
    }
    val props = properties ++
      defaults.map { case (c, e) => (DefaultPrefix + c) -> e }
    checkConstraints(withIds, schema,
      generatedChecks(df.columns.toSet, generated), "CREATE")
    val adds = writeData(spark, root(path), 0L, withIds, schema, partitionBy,
      Map.empty, generated, props)
    commit(path, NoTable, "CREATE", next = NoTable.copy(schema = schema,
        partitionBy = partitionBy, generated = generated,
        identity = advanceHighWater(identity, adds, schema, Map.empty),
        properties = props),
      adds = adds, txn = txn, txns = txns)
  }

  /** Sparse identity allocation above `highWater`: unique and ascending
    * via monotonically_increasing_id (partition-indexed, so NO shuffle,
    * no extra pass, no global ordering barrier), gaps allowed — Delta's
    * documented identity contract. Partition 0's first row takes
    * `highWater + step` exactly, so a fresh table starts at `start`. */
  private def identityExpr(ic: IdentityCol, highWater: Long)
      : org.apache.spark.sql.Column =
    lit(highWater) + lit(ic.step) * (monotonically_increasing_id() + 1L)

  /** New identity high-water marks after a write: the max of each identity
    * column across the batch's own parquet FOOTER stats (already decoded
    * into the AddFiles — zero extra jobs). Falls back to the previous
    * mark when the batch was empty. */
  private def advanceHighWater(identity: Map[String, IdentityCol],
      adds: Seq[AddFile], schema: StructType,
      physical: Map[String, String]): Map[String, IdentityCol] =
    identity.map { case (c, ic) =>
      val pn = physical.getOrElse(c, c)
      val maxes = adds.flatMap(_.stats.get(pn).flatMap(_.max)).collect {
        case l: java.lang.Long => l.longValue()
      }
      c -> (if (maxes.isEmpty) ic
            else ic.copy(highWater = Some(
              math.max(maxes.max, ic.highWater.getOrElse(Long.MinValue)))))
    }

  /** Implicit CHECK predicates enforcing `GENERATED ALWAYS AS` on a batch
    * that EXPLICITLY supplies a generated column: the supplied value must
    * agree with the expression (`col <=> expr` — null-safe, so a null
    * matches only a null expression result). Columns the batch omits are
    * recomputed by [[writeData]] and need no check. */
  private def generatedChecks(batchCols: Set[String],
      generated: Map[String, String]): Map[String, String] =
    generated.collect { case (c, e) if batchCols.contains(c) =>
      s"__generated_$c" -> s"`$c` <=> ($e)"
    }

  // ------------------------------------------- column DEFAULT values

  /** Table-property prefix holding per-column DEFAULT expressions (the
    * Delta `allowColumnDefaults` writer feature / `ALTER TABLE ... ALTER
    * COLUMN c SET DEFAULT expr`): a write that OMITS the column
    * materializes the expression at WRITE time — existing files never
    * change, history keeps the values each write produced (Delta's
    * insert-time, never read-time, semantics: unsetting a default later
    * does not rewrite anything). Riding `properties` means the state
    * forwards through every commit, checkpoint and clone for free. */
  private val DefaultPrefix = "graft.default."

  private[graft] def columnDefaults(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(DefaultPrefix) =>
      k.stripPrefix(DefaultPrefix) -> v }

  /** Fill batch-missing DEFAULT columns; batch-supplied values always
    * win (DEFAULT is a fallback, never an override). Expressions may
    * reference other batch columns; evaluation order is name-sorted for
    * determinism. */
  private def applyDefaults(df: DataFrame, schema: StructType,
      props: Map[String, String]): DataFrame = {
    val defs = columnDefaults(props)
    if (defs.isEmpty) return df
    val have = df.columns.toSet
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    defs.toSeq.sortBy(_._1)
      .filter { case (c, _) => !have.contains(c) && types.contains(c) }
      .foldLeft(df) { case (d, (c, e)) =>
        d.withColumn(c, expr(e).cast(types(c)))
      }
  }

  /** Delta `ALTER TABLE ... ALTER COLUMN c SET DEFAULT e` — metadata-only
    * commit; applies to FUTURE writes that omit the column. The
    * expression must resolve against the table schema NOW (fail at
    * ALTER, not at some later write). */
  def setColumnDefault(spark: SparkSession, path: String, column: String,
      e: String): Long = {
    val snap = snapshot(path)
    require(snap.schema.fieldNames.contains(column),
      s"no column '$column' in ${snap.schema.fieldNames.toSeq}")
    require(!snap.generated.contains(column),
      s"'$column' is GENERATED ALWAYS AS and cannot have a DEFAULT")
    require(!snap.identity.contains(column),
      s"'$column' is an identity column and cannot have a DEFAULT")
    spark.createDataFrame(new java.util.ArrayList[Row](), snap.schema)
      .select(expr(e).cast(snap.schema(column).dataType)).schema // analysis check
    commit(path, snap, "SET_COLUMN_DEFAULT", next = snap.copy(
      properties = snap.properties + (DefaultPrefix + column -> e)))
  }

  /** Delta `ALTER TABLE ... ALTER COLUMN c DROP DEFAULT`. */
  def unsetColumnDefault(path: String, column: String): Long = {
    val snap = snapshot(path)
    require(snap.properties.contains(DefaultPrefix + column),
      s"no DEFAULT on column '$column'")
    commit(path, snap, "DROP_COLUMN_DEFAULT", next = snap.copy(
      properties = snap.properties - (DefaultPrefix + column)))
  }

  /** Delta `CONVERT TO DELTA parquet.\`path\``: adopt an EXISTING parquet
    * directory (flat or Hive-partitioned) as a DeltaLite table IN PLACE.
    * No data file is moved, rewritten, or read past its footer — version 0
    * simply enumerates the files, with per-file row counts and min/max
    * decoded from the parquet footers, so data skipping works from the
    * first scan. Partition columns are discovered from the `col=value`
    * path layout (order taken from the paths) and typed by Spark's
    * standard partition inference on the same directory. After convert
    * the table has the full write surface — append/merge/delete/time
    * travel — because nothing distinguishes adopted files from written
    * ones. At 100 TB this is the lake-onboarding path: one footer sweep
    * instead of a rewrite. */
  def convert(spark: SparkSession, path: String): Long = {
    require(latestVersion(path).isEmpty, s"table already exists at $path")
    val r = root(path)
    // Spark's reader infers partition columns (typed) and appends them
    // after the file columns — exactly the schema the log should carry.
    val schema = spark.read.parquet(path).schema
    val partitionBy = partitionColsOf(r)
    require(partitionBy.forall(schema.fieldNames.contains),
      s"partition path columns $partitionBy missing from inferred schema")
    val adds = footerAdds(spark, r, r, schema, partitionBy, Map.empty)
    require(adds.nonEmpty, s"no parquet files under $path to convert")
    commit(path, NoTable, "CONVERT",
      next = NoTable.copy(schema = schema, partitionBy = partitionBy),
      adds = adds)
  }

  /** Partition column names present in the Hive layout under `dir`
    * (empty for a flat directory). */
  private def partitionColsOf(dir: Path): Seq[String] = {
    val walk = Files.walk(dir)
    try {
      walk.iterator().asScala
        .find(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => dir.relativize(p).toString.split('/').dropRight(1)
          .filter(_.contains('=')).map(_.takeWhile(_ != '=')).toSeq)
        .getOrElse(Nil)
    } finally walk.close()
  }

  /** Incremental append sink (dbt incremental `append` / S7). Writes ONLY
    * the batch — existing files are never rewritten (O(batch), the whole
    * point of the file-level log). */
  def append(spark: SparkSession, path: String, df: DataFrame): Long = {
    val snap = snapshot(path)
    val filled = applyDefaults(df, snap.schema, snap.properties)
    val withIds = materializeIdentity(filled, snap, "APPEND")
    checkWriteSchema(withIds.schema, snap.schema, "APPEND")
    checkConstraints(withIds, snap.schema, snap.constraints ++
      generatedChecks(df.columns.toSet, snap.generated), "APPEND")
    val adds = writeData(spark, root(path), snap.version + 1, withIds, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    val v = commit(path, snap, "APPEND", next = snap.copy(identity =
        advanceHighWater(snap.identity, adds, snap.schema, snap.physical)),
      adds = adds, onLost = LostRace.Reapply)
    maybeAutoCompact(spark, path)
    maybeFoldStats(spark, path, adds)
    v
  }

  /** Opt-in incremental stats for the WHOLE append family
    * (TBLPROPERTIES `graft.stats.auto = true`): folds a just-landed
    * batch's sketches into the standing ANALYZE stats — one extra
    * aggregate pass over the batch, never a table rescan. Called AFTER
    * the data commit by [[append]], [[appendOnce]] (so a streaming
    * sink's tables maintain stats exactly like batch ingest),
    * [[appendTxns]] and [[appendEvolve]]. The fold reads back the
    * JUST-COMMITTED adds against the POST-commit snapshot rather than
    * re-executing the input DataFrame: an expensive upstream pipeline
    * must not run twice, a nondeterministic source would describe rows
    * other than those actually written, and an evolve commit's widened
    * schema is only on the post-commit snapshot — the landed files are
    * the ground truth (and carry default-filled/identity columns the
    * input may have lacked). BEST-EFFORT: the data commit has already
    * succeeded, so a stats race (concurrent writer winning the metadata
    * commit) or any stats-side failure must never fail the append —
    * stats are estimates and the next fold or full ANALYZE repairs
    * them. Only NonFatal is swallowed: fatal JVM errors and interrupts
    * propagate. */
  private def maybeFoldStats(spark: SparkSession, path: String,
      adds: Seq[AddFile]): Unit = {
    val snap = snapshot(path)
    if (snap.properties.exists { case (k, x) =>
        k.equalsIgnoreCase("graft.stats.auto") && x.equalsIgnoreCase("true") })
      try analyzeAppend(spark, path, readFiles(spark, path, snap.schema,
        adds, snap.partitionBy, snap.physical))
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger("graft.DeltaLite").warn(
            s"auto-stats fold after append to $path failed " +
              "(stats unchanged; next fold or ANALYZE repairs)", e)
      }
  }

  /** Opt-in CHURN REPAIR — the write-side twin of the serve-side churn
    * DISARM: after a row-removing commit ([[ChurnOps]]) on a
    * `graft.stats.auto = true` table with BY PARTITION stats, re-ANALYZE
    * exactly the TOUCHED partitions (one grouped pass over their live
    * files — O(touched), never a table rescan) and re-derive the
    * table-level stats from the per-partition state:
    *  - untouched partitions' entries are still TRUE (the delete never
    *    saw them) and carry over;
    *  - table NDV re-derives as the HLL UNION across every live
    *    partition's kept sketch (mergeable — the same math the append
    *    fold uses), table nulls as the exact per-partition sum;
    *  - partition COLUMNS repair exactly from the log (distinct live
    *    partition values / null-partition row count) — no data read;
    *  - a column any live partition lacks a sketch for DROPS its
    *    NDV/nulls (decline-only: lengths stay as estimate-grade widths,
    *    nothing stale is re-armed); histograms and digests DROP (their
    *    bins/quantiles describe deleted rows and cannot subtract —
    *    the next full ANALYZE WITH HISTOGRAM rebuilds them).
    * The repair commit advances analyzedVersion past the churn, so the
    * serve path re-arms with repaired numbers instead of disarming.
    * Preconditions (any miss → stay disarmed until manual ANALYZE):
    * partitioned table, BY PARTITION stats covering every untouched
    * live partition, ≤ [[MaxAnalyzedPartitions]] live partitions.
    * Non-partitioned tables decline — an automatic FULL rescan after
    * every DELETE is not a surprise to spring at 100 TB. BEST-EFFORT
    * like the append fold: the data commit has succeeded; stats-side
    * failures log and leave the disarm standing. */
  private def maybeRepairChurnStats(path: String,
      touchedPvs: Set[String]): Unit = {
    val sparkOpt = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
    if (sparkOpt.isEmpty) return
    val spark = sparkOpt.get
    try {
      val snap = snapshot(path)
      if (!snap.properties.exists { case (k, x) =>
          k.equalsIgnoreCase("graft.stats.auto") &&
            x.equalsIgnoreCase("true") }) return
      if (snap.churnVersions.isEmpty) return
      val stored = parseColStats(snap.properties)
      if (stored.isEmpty) return
      if (snap.partitionBy.isEmpty) return // would need a full rescan
      val oldParts = parsePartStats(snap.properties)
      if (oldParts.isEmpty) return // no BY PARTITION state to repair from
      val livePvs = snap.files.map(f => pvKey(f.pv)).distinct
      if (livePvs.size > MaxAnalyzedPartitions) return
      // every untouched live partition must carry standing entries —
      // its stats are what makes the table-level union sound
      if (!livePvs.forall(k => touchedPvs.contains(k) ||
          oldParts.contains(k))) return
      val targets = snap.schema.fields.filter(f =>
        stored.contains(snap.phys(f.name))).toSeq
      val touchedFiles = snap.files.filter(f => touchedPvs(pvKey(f.pv)))
      val fresh =
        if (touchedFiles.isEmpty) Map.empty[String, (Long, Map[String, ColStatEntry])]
        else collectPartColStats(
          readFiles(spark, path, snap.schema, touchedFiles,
            snap.partitionBy, snap.physical), targets, snap)
      val newParts = (oldParts -- touchedPvs) ++ fresh
      // drop vanished partitions (all rows deleted)
      val liveParts = newParts.view.filterKeys(livePvs.toSet).toMap
      // every live partition must have an entry NOW (a touched
      // partition whose re-analysis produced nothing — e.g. an
      // all-partition-column stats subset — would silently undercount
      // the table union below): decline, stay disarmed
      if (!livePvs.forall(liveParts.contains)) return
      val pcolsPhys = snap.partitionBy.map(snap.phys).toSet
      val defaultPv = "__HIVE_DEFAULT_PARTITION__"
      val newTable = stored.map { case (phys, old) =>
        val logical = snap.schema.fields
          .find(f => snap.phys(f.name) == phys).map(_.name)
        val entry =
          if (pcolsPhys.contains(phys)) {
            // exact from the log: partition values ARE the column
            val c = logical.getOrElse(phys)
            val vals = snap.files.map(_.pv.getOrElse(c, defaultPv)).distinct
            val nullRows = liveParts.collect {
              case (k, (n, _)) if k.split('/').contains(s"$c=$defaultPv") => n
            }.sum
            old.copy(ndv = Some(vals.count(_ != defaultPv).toLong),
              nulls = Some(nullRows), hll = None,
              hist = None, qsk = None, histAsOf = None)
          } else {
            val entries = liveParts.values.map(_._2.get(phys)).toSeq
            val allHave = entries.forall(_.isDefined)
            val hlls = entries.flatten.flatMap(_.hll).toSeq
            val canUnion = allHave && hlls.size == entries.size
            val merged =
              if (!canUnion) None
              else Some(hlls.reduceOption(hllUnion).getOrElse(hlls.head))
            // nulls: the exact per-partition sum, but only when EVERY
            // live partition's entry carries one — a silent skip would
            // undercount while claiming fresh
            val nullCounts = entries.flatten.map(_.nulls)
            old.copy(
              ndv = merged.map(hllEstimate),
              nulls = if (allHave && nullCounts.forall(_.isDefined))
                Some(nullCounts.flatten.sum) else None,
              hll = merged,
              hist = None, qsk = None, histAsOf = None)
          }
        phys -> entry
      }
      writeColStats(path, snap.version, snap.totalRows, newTable, liveParts)
      org.slf4j.LoggerFactory.getLogger("graft.DeltaLite").info(
        s"churn repair at $path: re-analyzed ${touchedPvs.size} touched " +
          s"partition(s), table stats re-derived from ${liveParts.size} " +
          "partition sketches; analyzedVersion advanced")
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger("graft.DeltaLite").warn(
          s"churn stats repair at $path failed (stats stay disarmed; " +
            "ANALYZE repairs)", e)
    }
  }

  /** Row-INSERTING DML (merge/delete+insert/replaceWhere) would need
    * per-clause identity allocation woven through its join plan; that
    * surface is out of scope, so such ops fail loudly on identity tables
    * instead of silently writing null/stale ids. Pure rewrites (DELETE/
    * UPDATE/OPTIMIZE/CLUSTER) carry existing values and stay allowed. */
  private def rejectIdentity(snap: Snapshot, op: String): Unit =
    if (snap.identity.nonEmpty)
      throw new UnsupportedOperationException(
        s"$op is not supported on a table with identity columns " +
          s"(${snap.identity.keys.toSeq.sorted.mkString(", ")}); " +
          "use append for new rows")

  /** GENERATED ALWAYS AS IDENTITY materialization for an incoming batch:
    * the batch may never carry the column; values allocate sparsely above
    * the snapshot's high-water mark. No-op for tables without identity. */
  private def materializeIdentity(df: DataFrame, snap: Snapshot,
      op: String): DataFrame = {
    if (snap.identity.isEmpty) return df
    snap.identity.keys.find(df.columns.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"$op rejected: '$c' is GENERATED ALWAYS AS IDENTITY " +
          "and cannot be supplied by the batch")
    }
    snap.identity.foldLeft(df) { case (d, (c, ic)) =>
      d.withColumn(c, identityExpr(ic, ic.highWater.getOrElse(ic.start - ic.step)))
    }
  }

  /** Idempotent append for exactly-once sinks (Delta's `txn` action):
    * the commit records (`app`, `txnVersion`); if the log already holds a
    * txn for `app` at or beyond `txnVersion`, the batch was landed by a
    * previous run (or a racing duplicate) and this call is a no-op — the
    * restart-safety contract a streaming foreachBatch sink needs. NOTE:
    * the batch's data files are written before the check-and-commit, so
    * a skipped duplicate leaves orphan files that [[vacuum]] reclaims —
    * the same garbage real Delta leaves for failed optimistic writers. */
  def appendOnce(spark: SparkSession, path: String, df: DataFrame,
      app: String, txnVersion: Long): Long = {
    val snap = snapshot(path)
    if (snap.txns.get(app).exists(_ >= txnVersion)) return snap.version
    val withIds = materializeIdentity(
      applyDefaults(df, snap.schema, snap.properties), snap, "APPEND")
    checkWriteSchema(withIds.schema, snap.schema, "APPEND")
    checkConstraints(withIds, snap.schema, snap.constraints ++
      generatedChecks(df.columns.toSet, snap.generated), "APPEND")
    val adds = writeData(spark, root(path), snap.version + 1, withIds, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    val v = commit(path, snap, "APPEND", next = snap.copy(identity =
        advanceHighWater(snap.identity, adds, snap.schema, snap.physical)),
      adds = adds, txn = Some((app, txnVersion)), onLost = LostRace.Reapply)
    maybeAutoCompact(spark, path)
    maybeFoldStats(spark, path, adds)
    v
  }

  /** Idempotent append gated on SEVERAL txn identities riding one commit
    * (the multi-source analogue of [[appendOnce]] — e.g. an incremental
    * view over two sources records each source's applied version
    * atomically with the view data). Replay rule is COPY INTO's: ALL
    * identities already present = full replay, no-op; a PARTIAL overlap
    * means a concurrent writer landed a different slice and committing
    * blindly would double-apply — surfaced as
    * ConcurrentModificationException for the caller to re-derive. */
  def appendTxns(spark: SparkSession, path: String, df: DataFrame,
      txns: Seq[(String, Long)]): Long = {
    require(txns.nonEmpty, "appendTxns requires at least one txn identity")
    val snap = snapshot(path)
    rejectIdentity(snap, "APPEND_TXNS")
    if (txns.forall { case (a, v) => snap.txns.get(a).exists(_ >= v) })
      return snap.version
    val filled = applyDefaults(df, snap.schema, snap.properties)
    checkWriteSchema(filled.schema, snap.schema, "APPEND")
    checkConstraints(filled, snap.schema, snap.constraints ++
      generatedChecks(df.columns.toSet, snap.generated), "APPEND")
    val adds = writeData(spark, root(path), snap.version + 1, filled,
      snap.schema, snap.partitionBy, snap.physical, snap.generated,
      snap.properties)
    val v = commit(path, snap, "APPEND", adds = adds, txns = txns,
      onLost = LostRace.Reapply)
    maybeAutoCompact(spark, path)
    maybeFoldStats(spark, path, adds)
    v
  }

  /** Delta/Databricks `COPY INTO`-style idempotent bulk loading: the
    * source directory's parquet data files are enumerated, every file
    * whose identity (absolute path + size + mtime) was already loaded is
    * skipped, and the rest append as ONE batch whose commit also records
    * the newly loaded identities as txn actions — load + record are
    * atomic, so re-runs (and crash-retries) are exactly-once per file
    * identity. A file rewritten in place (same path, new size/mtime) is a
    * NEW identity and loads again — re-presenting changed data is
    * ingestion, silently ignoring it would be loss. The skip decision is
    * commit-log-only: an already-loaded file is never opened again, so an
    * incremental run over a landing zone costs O(new files) at any table
    * size. Loaded-identity state is O(loaded files) of log metadata —
    * the same order as the table's own add actions.
    * Returns (table version, number of files loaded this run). */
  def copyInto(spark: SparkSession, path: String,
      sourceDir: String): (Long, Long) = {
    val snap = snapshot(path)
    val listing = Files.list(root(sourceDir))
    val all = try listing.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter { p =>
        val n = p.getFileName.toString
        // Spark dir-write layout: data is part-*.parquet; _SUCCESS /
        // .crc / _committed markers are not data
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq.sortBy(_.toString)
    finally listing.close()
    def key(p: Path): String =
      s"copy/$p@${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    val fresh = all.filterNot(p => snap.txns.contains(key(p)))
    if (fresh.isEmpty) return (snap.version, 0L)
    val df = spark.read.parquet(fresh.map(_.toString): _*)
    val withIds = materializeIdentity(
      applyDefaults(df, snap.schema, snap.properties), snap, "COPY INTO")
    checkWriteSchema(withIds.schema, snap.schema, "COPY INTO")
    checkConstraints(withIds, snap.schema, snap.constraints ++
      generatedChecks(df.columns.toSet, snap.generated), "COPY INTO")
    val adds = writeData(spark, root(path), snap.version + 1, withIds,
      snap.schema, snap.partitionBy, snap.physical, snap.generated,
      snap.properties)
    val loadedTxns = fresh.map(p => key(p) -> 1L)
    val v = commit(path, snap, "COPY INTO", next = snap.copy(identity =
        advanceHighWater(snap.identity, adds, snap.schema, snap.physical)),
      adds = adds, txns = loadedTxns, onLost = LostRace.Reapply)
    maybeAutoCompact(spark, path)
    (v, fresh.size.toLong)
  }

  /** Schema-evolving append (Delta `mergeSchema`): new columns from the
    * batch extend the table schema (history reads them as null), missing
    * batch columns are null-filled. Existing files untouched. */
  def appendEvolve(spark: SparkSession, path: String, dfIn: DataFrame): Long = {
    val snap = snapshot(path)
    // DEFAULT fill applies to EXISTING schema columns the batch omits;
    // genuinely new columns evolve in as usual
    val df = applyDefaults(dfIn, snap.schema, snap.properties)
    checkWriteSchema(df.schema, snap.schema, "APPEND_EVOLVE", allowNew = true)
    val known = snap.schema.fieldNames.toSet
    // a NEW column's physical name is its logical name — it must not
    // collide with the physical name backing a RENAMED existing column
    val physNames = snap.schema.fieldNames.map(snap.phys).toSet
    df.schema.fields.filterNot(f => known.contains(f.name)).foreach { f =>
      require(!physNames.contains(f.name),
        s"new column '${f.name}' collides with the physical name of a renamed column")
    }
    val newFields = df.schema.fields.filterNot(f => known.contains(f.name)).toSeq
    val evolved = StructType(snap.schema.fields ++ newFields)
    // a re-added column whose name was dropped before is born under a
    // FRESH physical name so historical files' retired data stays dead
    val physical = snap.physical ++
      birthPhysical(snap, snap.version + 1, newFields)
    val withIds = materializeIdentity(df, snap, "APPEND_EVOLVE")
    checkConstraints(withIds, evolved, snap.constraints ++
      generatedChecks(df.columns.toSet, snap.generated), "APPEND_EVOLVE")
    val adds = writeData(spark, root(path), snap.version + 1, withIds, evolved,
      snap.partitionBy, physical, snap.generated, snap.properties)
    val v = commit(path, snap, "APPEND_EVOLVE", next = snap.copy(
        schema = evolved, physical = physical,
        identity = advanceHighWater(snap.identity, adds, evolved, physical)),
      adds = adds, onLost = LostRace.Reapply)
    maybeFoldStats(spark, path, adds)
    v
  }

  /** Delta `ALTER TABLE ... ADD CONSTRAINT name CHECK (check)` — the
    * write-time half of dbt's schema tests: instead of testing AFTER a
    * bad batch lands, the table refuses it. Validates the whole CURRENT
    * table first (one column-pruned scan, exactly like Delta), then
    * records the constraint in table metadata with a data-less commit;
    * every subsequent write validates the rows it is about to commit.
    * SQL CHECK semantics: NULL passes, only definite FALSE rejects. */
  def addConstraint(spark: SparkSession, path: String, name: String,
      check: String): Long = {
    val snap = snapshot(path)
    require(!snap.constraints.contains(name),
      s"constraint '$name' already exists on $path")
    // validate against STORED rows (readRaw): a CHECK recorded while a
    // row filter hides violating rows would be a lie the next rewrite's
    // re-validation trips over
    val bad = readRaw(spark, path)
      .filter(not(coalesce(expr(check), lit(true)))).limit(1).count()
    require(bad == 0L,
      s"cannot add constraint '$name': existing rows violate CHECK ($check)")
    commit(path, snap, "ADD_CONSTRAINT",
      next = snap.copy(constraints = snap.constraints + (name -> check)))
  }

  /** Delta `ALTER TABLE ... RENAME COLUMN old TO new` (column-mapping
    * mode `name`): METADATA-ONLY — zero data files touched at any table
    * size. The logical schema renames the field; the column-mapping
    * table records that the new logical name is still backed by the
    * column's original PHYSICAL parquet name, so files written before
    * and after the rename interoperate, and time travel to a pre-rename
    * version sees the old name. Partition columns and columns referenced
    * by a CHECK constraint are not renamable (Delta requires re-stating
    * the constraint; we reject, which is strictly safer). */
  def renameColumn(path: String, oldName: String, newName: String): Long = {
    val snap = snapshot(path)
    require(snap.schema.fieldNames.contains(oldName),
      s"no column '$oldName' in ${snap.schema.fieldNames.toSeq}")
    require(!snap.schema.fieldNames.contains(newName),
      s"column '$newName' already exists")
    require(!snap.partitionBy.contains(oldName),
      s"cannot rename partition column '$oldName'")
    // the new logical name must not shadow any live PHYSICAL name of
    // ANOTHER column, or stats keys / data columns would collide
    val otherPhys = snap.schema.fieldNames.filterNot(_ == oldName)
      .map(snap.phys).toSet
    require(!otherPhys.contains(newName),
      s"'$newName' collides with an existing physical column name")
    require(!constraintMentions(snap.constraints, oldName),
      s"cannot rename '$oldName': referenced by a CHECK constraint")
    require(!snap.properties.contains(s"graft.mask.$oldName") &&
        !snap.properties.contains(s"graft.maskExempt.$oldName") &&
        !snap.properties.get("graft.rowFilter")
          .exists(f => ("(?i)\\b" +
            java.util.regex.Pattern.quote(oldName) + "\\b").r
            .findFirstIn(f).isDefined),
      s"cannot rename '$oldName': referenced by a governance policy " +
        "(graft.mask.* / graft.rowFilter) — update or drop the policy first")
    require(!snap.generated.contains(oldName) &&
        !constraintMentions(snap.generated, oldName),
      s"cannot rename '$oldName': it is, or is referenced by, a generated column")
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newPhysical = (snap.physical - oldName) + (newName -> snap.phys(oldName))
    commit(path, snap, "RENAME_COLUMN",
      next = snap.copy(schema = newSchema, physical = newPhysical))
  }

  /** Delta type widening (`delta.enableTypeWidening` / `ALTER COLUMN ...
    * TYPE <wider>`): METADATA-ONLY — the schema re-states the column at
    * the wider type and no data file is touched at any table size. Old
    * files keep their narrow physical encoding; the parquet reader
    * up-promotes them at scan time (int32→int64, int32→float64,
    * float→double — Spark 4's widening read path), while writes after the
    * change land natively wide. Stats need NO migration: the log's
    * decoded stat space already collapses every integer width to Long and
    * every float width to Double ([[decodeStat]]), so old-file bounds
    * keep pruning correctly under the new type. Narrow batches appended
    * after the widen up-cast through the existing Cast.canUpCast
    * enforcement rule. Time travel to a pre-widen version reads the
    * narrow schema.
    *
    * Refused for: partition columns (their values parse by type from
    * path strings), identity columns (allocation arithmetic is pinned to
    * the declared type), generated columns and generator inputs (the
    * expression's result type is part of the written contract), and
    * columns with a live per-file bloom index (bloom probes hash the
    * CAST-to-column-type value, so pre-widen blooms would wrongly prune
    * — OPTIMIZE first to rebuild files, then widen). */
  def widenColumnType(path: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    val snap = snapshot(path)
    val field = snap.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$name' in ${snap.schema.fieldNames.toSeq}"))
    val ok = (field.dataType, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(ok, s"unsupported type change ${field.dataType.simpleString} -> " +
      s"${to.simpleString}: only integer widening (byte/short/int -> " +
      "int/long/double) and float -> double are metadata-only")
    require(!snap.partitionBy.contains(name),
      s"cannot widen partition column '$name'")
    require(!snap.identity.contains(name),
      s"cannot widen identity column '$name'")
    require(!snap.generated.contains(name) &&
        !constraintMentions(snap.generated, name),
      s"cannot widen '$name': it is, or is referenced by, a generated column")
    val pn = snap.phys(name)
    require(snap.files.forall(f => !f.bloom.contains(pn)),
      s"cannot widen '$name': live files carry a bloom index keyed to the " +
        "narrow type's hash — OPTIMIZE to rewrite them first")
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    // widened tables need the widening read path → auto-require the
    // reader feature (Delta's automatic protocol upgrade on enablement)
    commit(path, snap, "WIDEN_COLUMN_TYPE", next = snap.copy(schema = newSchema,
      properties = withFeature(snap.properties, "typeWidening", reader = true)))
  }

  /** Delta `ALTER TABLE ... DROP COLUMN name` (column mapping):
    * METADATA-ONLY — the field leaves the logical schema, the physical
    * data stays in place and is simply never read again (reads select
    * only mapped physical columns, so pruning drops it at the scan).
    * Time travel to a pre-drop version still sees the column. */
  def dropColumn(path: String, name: String): Long = {
    val snap = snapshot(path)
    require(snap.schema.fieldNames.contains(name),
      s"no column '$name' in ${snap.schema.fieldNames.toSeq}")
    require(!snap.partitionBy.contains(name),
      s"cannot drop partition column '$name'")
    require(snap.schema.fields.length > 1, "cannot drop the only column")
    require(!constraintMentions(snap.constraints, name),
      s"cannot drop '$name': referenced by a CHECK constraint")
    require(!snap.properties.contains(s"graft.mask.$name") &&
        !snap.properties.contains(s"graft.maskExempt.$name") &&
        !snap.properties.get("graft.rowFilter")
          .exists(f => ("(?i)\\b" +
            java.util.regex.Pattern.quote(name) + "\\b").r
            .findFirstIn(f).isDefined),
      s"cannot drop '$name': referenced by a governance policy " +
        "(graft.mask.* / graft.rowFilter) — update or drop the policy first")
    require(!constraintMentions(snap.generated, name),
      s"cannot drop '$name': referenced by a generated column's expression")
    val newSchema = StructType(snap.schema.fields.filterNot(_.name == name))
    // dropping a generated column itself is fine — it simply stops being
    // computed (its metadata entry leaves with the schema field)
    //
    // The dropped column's PHYSICAL name is retired forever: historical
    // files still carry data under it, so a column later evolved in with
    // the same name must be born under a FRESH physical name or those
    // files' stale values would resurface as the new column's data
    // (Delta avoids this by assigning fresh physical ids at birth).
    val retired = (retiredPhys(snap.properties) + snap.phys(name))
      .toSeq.sorted.mkString(",")
    commit(path, snap, "DROP_COLUMN", next = snap.copy(schema = newSchema,
      physical = snap.physical - name, generated = snap.generated - name,
      identity = snap.identity - name,
      properties = snap.properties + (RetiredPhysKey -> retired)))
  }

  /** Delta `ALTER TABLE ... ADD COLUMN name type` — METADATA-ONLY
    * schema evolution as an explicit DDL (the evolve-on-write paths —
    * appendEvolve, MERGE WITH SCHEMA EVOLUTION, on_schema_change —
    * discover new columns from a batch; this declares one up front).
    * One metaData commit, zero file rewrites at any table size: every
    * existing file reads the new column as null through the log schema
    * (the same parquet missing-column-as-null semantics the evolve
    * paths rely on), and only future writes carry values. The column is
    * nullable by construction (historical rows HAVE no value); declare
    * a DEFAULT afterwards via `ALTER ... SET DEFAULT` if inserts should
    * fill it. A name matching a retired dropped column's physical name
    * is born under a fresh physical name ([[birthPhysical]]) so stale
    * historical bytes can never resurface as the new column's data. */
  def addColumn(path: String, name: String,
      dt: org.apache.spark.sql.types.DataType): Long = {
    val snap = snapshot(path)
    require(!snap.schema.fieldNames.contains(name),
      s"column '$name' already exists")
    val physNames = snap.schema.fieldNames.map(snap.phys).toSet
    require(!physNames.contains(name),
      s"new column '$name' collides with the physical name of a renamed column")
    val field = StructField(name, dt, nullable = true)
    val newSchema = StructType(snap.schema.fields :+ field)
    val physical =
      snap.physical ++ birthPhysical(snap, snap.version + 1, Seq(field))
    commit(path, snap, "ADD_COLUMN",
      next = snap.copy(schema = newSchema, physical = physical))
  }

  /** Table property holding comma-separated physical names that once
    * backed a since-dropped column — see [[dropColumn]]/[[birthPhysical]]. */
  private val RetiredPhysKey = "graft.retired.physicalNames"

  private def retiredPhys(props: Map[String, String]): Set[String] =
    props.get(RetiredPhysKey).map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Physical names for columns being BORN into the schema (the evolve
    * paths): normally the logical name, but NEVER a physical name any
    * historical file may already carry data under (a retired dropped
    * column) — those get a fresh deterministic name `logical__v<N>`,
    * recorded in the column-mapping table like a rename in reverse. */
  private def birthPhysical(snap: Snapshot, v: Long,
      newFields: Seq[StructField]): Map[String, String] = {
    val retired = retiredPhys(snap.properties)
    if (retired.isEmpty) return Map.empty
    val taken = retired ++ snap.schema.fieldNames.map(snap.phys) ++
      snap.schema.fieldNames
    newFields.filter(f => retired.contains(f.name)).map { f =>
      var cand = s"${f.name}__v$v"
      while (taken.contains(cand)) cand = cand + "_"
      f.name -> cand
    }.toMap
  }

  /** Conservative word-boundary test: does any CHECK expression mention
    * column `name`? (May over-match a same-named identifier in a string
    * literal — rejecting too much is safe, silently breaking a
    * constraint is not.) */
  private def constraintMentions(constraints: Map[String, String],
      name: String): Boolean = {
    val re = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    constraints.values.exists(e => re.findFirstIn(e).isDefined)
  }

  /** Delta `ALTER TABLE ... DROP CONSTRAINT name`. */
  def dropConstraint(path: String, name: String): Long = {
    val snap = snapshot(path)
    require(snap.constraints.contains(name), s"no constraint '$name' on $path")
    commit(path, snap, "DROP_CONSTRAINT",
      next = snap.copy(constraints = snap.constraints - name))
  }

  /** Delta `ALTER TABLE ... SET TBLPROPERTIES (k = v, ...)` — free-form
    * table metadata in the log, merged key-wise (a metadata-only commit;
    * no data touched at any table size). Recognized semantic property:
    * `delta.appendOnly = true` turns the table append-only — every
    * row-removing or row-rewriting op (DELETE/UPDATE/MERGE/delete+insert/
    * replaceWhere, DV deletes) is refused until the property is unset,
    * Delta's ingest-ledger protection. Unknown keys are carried verbatim
    * (dbt `tblproperties` config lands here). */
  def setProperties(path: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "no properties given")
    val snap = snapshot(path)
    commit(path, snap, "SET_TBLPROPERTIES",
      next = snap.copy(properties = snap.properties ++ props))
  }

  /** Table property holding ANALYZE-computed column statistics (JSON:
    * `{"analyzedVersion": V, "rows": N, "cols": {"<physical name>":
    * {"ndv": …, "nulls": …, "avgLen": …, "maxLen": …}}}`). Living in
    * properties means the stats travel with clones/restores and any
    * log reader can serve them. */
  val ColStatsKey = "graft.colStats"

  /** Quantile-digest accuracy for histogram maintenance (relative rank
    * error 1/512 ≈ 0.2% of rows — a 32-bin grid's bins are 3.1% wide,
    * so boundary error stays a small fraction of a bin while the stored
    * digest stays a few KB in the log's properties JSON; single-
    * percentile consumers like `approx_percentile` default to 10000,
    * which would bloat every stats commit ~20×). */
  private val QskAccuracy = 512

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` — the
    * warehouse column-statistics pass. ONE aggregate scan computes per
    * stat-eligible column: approximate NDV (HLL — the same sketch
    * ANALYZE uses everywhere), null count, and for strings avg/max
    * length; the result lands in table properties under [[ColStatsKey]]
    * keyed by PHYSICAL column name (rename-stable, like the file
    * stats). The read path merges these with the LIVE per-file min/max
    * into Catalyst `ColumnStat`s, which is what unlocks CBO's filter
    * selectivity and join-cardinality estimates (both require NDV —
    * min/max alone are ignored by `FilterEstimation.evaluateBinary`).
    *
    * Staleness contract: like every warehouse, stats describe the
    * table AS OF the analyzed version and serve estimates until the
    * next ANALYZE; rowCount/sizeInBytes stay live from the log either
    * way. At 100 TB the pass is one map-side-partial aggregation over
    * the table — run it after large loads, not per query. */
  def analyzeTable(spark: SparkSession, path: String,
      columns: Seq[String] = Nil, histogramBins: Int = 0,
      byPartition: Boolean = false): Long = {
    val snap = snapshot(path)
    val eligible = snap.schema.fields.filter(f => f.dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
           StringType | BooleanType => true
      case _ => false
    }).toSeq
    val targets =
      if (columns.isEmpty) eligible
      else {
        columns.foreach(c => require(eligible.exists(_.name == c),
          s"ANALYZE: column '$c' is missing or not stat-eligible"))
        eligible.filter(f => columns.contains(f.name))
      }
    require(targets.nonEmpty, s"ANALYZE: no stat-eligible columns on $path")
    // statistics describe STORED data (readRaw): governed-frame stats
    // would be principal-dependent and inconsistent with totalRows
    val df = readRaw(spark, path)
    // WITH HISTOGRAM also folds a quantile digest per eligible column in
    // the SAME pass — it both supplies the bin bounds below (no separate
    // percentile pass) and is stored as the histogram's mergeable state
    val histTargets: Set[String] =
      if (histogramBins <= 0) Set.empty
      else targets.flatMap(f => histCast(f).map(_ => f.name)).toSet
    val base = collectColStats(df, targets, histTargets)
    val entries =
      if (histogramBins <= 0) base
      else {
        val hists = collectHistograms(df, targets, histogramBins, base,
          snap.totalRows)
        base.map { case (n, e) =>
          n -> e.copy(hist = hists.get(n),
            histAsOf = hists.get(n).map(_ =>
              snap.totalRows - e.nulls.getOrElse(0L)))
        }
      }
    // a FOR COLUMNS subset updates only the named columns: stats of
    // untouched columns carry over (warehouse ANALYZE semantics)
    val kept = parseColStats(snap.properties)
      .view.filterKeys(k => !targets.exists(f => snap.phys(f.name) == k))
      .toMap
    val byPhys = entries.map { case (n, e) => snap.phys(n) -> e }
    // BY PARTITION: one extra GROUPED pass lands partition-LOCAL NDV and
    // null counts (with their HLL fold state), replacing the standing
    // partition-stats set; without it, existing partition stats carry
    // over untouched (they keep maintaining under appends). Bounded to
    // MaxAnalyzedPartitions live partitions — property-resident stats,
    // not a second table.
    val parts =
      if (!byPartition) parsePartStats(snap.properties)
      else {
        require(snap.partitionBy.nonEmpty,
          s"ANALYZE ... BY PARTITION: table at $path is not partitioned")
        val nParts = snap.files.map(_.pv).distinct.size
        require(nParts <= MaxAnalyzedPartitions,
          s"ANALYZE ... BY PARTITION supports at most $MaxAnalyzedPartitions " +
            s"live partitions; $path has $nParts — use file-level stats " +
            "(always live) or a coarser partitioning")
        collectPartColStats(df, targets, snap)
      }
    writeColStats(path, snap.version, snap.totalRows, kept ++ byPhys, parts)
  }

  /** Per-partition column statistics in ONE grouped aggregate pass:
    * canonical partition key → (rows, physical-name-keyed entries).
    * NDV estimates ride the same aggregate (hll_sketch_estimate over
    * the group's sketch — no per-partition driver jobs); the sketch
    * itself is kept so [[analyzeAppend]] folds per-partition in
    * O(batch). Partition columns themselves are skipped (constant
    * within a partition; the plan's literal already tells the optimizer
    * more than a stat could). */
  private def collectPartColStats(df: DataFrame,
      targets: Seq[StructField], snap: Snapshot)
      : Map[String, (Long, Map[String, ColStatEntry])] = {
    val pcols = snap.partitionBy
    val statTargets = targets.filterNot(f => pcols.contains(f.name))
    if (statTargets.isEmpty) return Map.empty
    val keyCols = pcols.map(c => coalesce(col(c).cast("string"),
      lit("__HIVE_DEFAULT_PARTITION__")).as(s"__pk_$c"))
    val aggs = statTargets.flatMap { f =>
      (hllCast(f) match {
        case Some(c) => Seq(
          base64(hll_sketch_agg(c)).as(s"__hll_${f.name}"),
          hll_sketch_estimate(hll_sketch_agg(c)).as(s"__ndv_${f.name}"))
        case None => Seq(
          approx_count_distinct(col(f.name)).cast("long")
            .as(s"__ndv_${f.name}"))
      }) :+
      sum(when(col(f.name).isNull, 1L).otherwise(0L)).cast("long")
        .as(s"__nulls_${f.name}")
    } :+ count(lit(1)).as("__rows")
    // bounded collect: ≤ MaxAnalyzedPartitions result rows by the
    // caller's gate (or the batch's own partition count on a fold)
    df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*).collect()
      .map { r =>
        val key = pcols.sorted
          .map(c => c + "=" + r.getString(r.fieldIndex(s"__pk_$c")))
          .mkString("/")
        def getL(n: String): Option[Long] = {
          val i = r.fieldIndex(n)
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        }
        def getS(n: String): Option[String] = {
          val i = r.fieldIndex(n)
          if (r.isNullAt(i)) None else Some(r.getString(i))
        }
        val cols = statTargets.map { f =>
          val hll = if (hllCast(f).isDefined) getS(s"__hll_${f.name}") else None
          snap.phys(f.name) -> ColStatEntry(
            getL(s"__ndv_${f.name}"),
            getL(s"__nulls_${f.name}").orElse(Some(0L)),
            None, None, hll)
        }.toMap
        key -> (r.getLong(r.fieldIndex("__rows")), cols)
      }.toMap
  }

  /** `EXPLAIN COST '<path>'` payload: the optimizer-facing statistics
    * of a table rendered as (entity, statistic, value) rows — the
    * user-facing window into everything [[withLogStats]] feeds the CBO.
    * Table rows carry size/rowCount/file count straight off the live
    * log entries (what sizes broadcast decisions); column rows carry
    * the ANALYZE-maintained NDV/nulls/lengths, the LIVE min/max served
    * from file stats, and the HISTOGRAM STATE — `current` while the
    * bins match their as-of stamp, `rebinned from merged digest` once
    * appends have folded past them, exactly what estimation will see.
    * Log-metadata only: never scans data. */
  def explainCost(spark: SparkSession, path: String)
      : Seq[(String, String, String)] = {
    val snap = snapshot(path)
    val (aRows, stats) = parseColStatsFull(snap.properties)
    val live = snap.files
    // analyzedVersion renders the stats' AGE: appends fold (stats stay
    // fresh), but row-removing commits do not — "analyzed at v3, table
    // at v9" is the signal to re-ANALYZE after a churn of deletes
    val analyzedV: Option[Long] =
      props_analyzedVersion(snap.properties)
    // ROW-CHURN staleness: appends fold into the stats, but [[ChurnOps]]
    // change or remove committed rows in ways sketches cannot track
    // (they can't subtract) — the count here is the SAME replay-tracked
    // figure the serve path disarms on, so what this renders is exactly
    // what estimation will (not) see. A cold checkpoint replay yields a
    // lower bound (commitInfo before the checkpoint is not replayed).
    val churn: Option[Long] =
      analyzedV.map(_ => snap.churnVersions.length.toLong)
    val tolerance = churnTolerance(snap.properties, spark)
    val serving = churn.map { n =>
      if (n > tolerance) {
        // say WHY automatic churn repair did not engage, so the fix is
        // one read away instead of a docs hunt
        val repairHint =
          if (snap.partitionBy.isEmpty)
            "churn repair unavailable: table is not partitioned"
          else if (parsePartStats(snap.properties).isEmpty)
            "for automatic repair: ANALYZE ... BY PARTITION + " +
              "TBLPROPERTIES graft.stats.auto = true"
          else "for automatic repair: TBLPROPERTIES graft.stats.auto = true"
        s"DISARMED — $n row-removing commit(s) since ANALYZE " +
          s"(tolerance $tolerance); serving live min/max only — " +
          s"re-ANALYZE to re-arm ($repairHint)"
      } else "armed"
    }
    val tableRows = Seq(
      ("table", "size_bytes", live.map(_.bytes).sum.toString),
      ("table", "row_count", snap.totalRows.toString),
      ("table", "num_files", live.size.toString),
      ("table", "version", snap.version.toString)) ++
      (if (stats.isEmpty) Nil
       else Seq(("table", "analyzed_non_null_rows", aRows.toString)) ++
         analyzedV.map(v => ("table", "analyzed_version", v.toString)) ++
         churn.map(n =>
           ("table", "stats_churn_commits_since_analyze", n.toString)) ++
         serving.map(s => ("table", "stats_serving", s)))
    // governance policies render too (the S63 surface) — EXPLAIN COST
    // is where an operator asks "what will a read of this table DO",
    // and a row filter or mask changes that answer as much as stats do
    val govRows =
      snap.properties.get("graft.rowFilter").map(f =>
        ("governance", "row_filter",
          f + snap.properties.get("graft.rowFilterExempt")
            .map(e => s" (exempt: $e)").getOrElse(""))).toSeq ++
      snap.properties.toSeq.collect {
        case (k, v) if k.startsWith("graft.mask.") =>
          val c = k.stripPrefix("graft.mask.")
          ("governance", s"mask.$c",
            v + snap.properties.get(s"graft.maskExempt.$c")
              .map(e => s" (exempt: $e)").getOrElse(""))
        case (k, v) if k.startsWith("graft.roles.") =>
          // role membership renders beside the policies that may name
          // it — "who can see this" answers from one EXPLAIN COST
          ("governance", s"role.${k.stripPrefix("graft.roles.")}", v)
      }.sortBy(_._2)
    def ext(v: Any, dt: DataType): Option[String] = v match {
      case null => None
      case _: org.apache.spark.unsafe.types.UTF8String => None
      case x => Some(org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
        .toExternalString(x, "", dt))
    }
    val colRows = snap.schema.fields.toSeq.flatMap { f =>
      stats.get(snap.phys(f.name)).toSeq.flatMap { e =>
        def live1(isMin: Boolean) = graft.plans.StatsAggRewrite
          .statExtremum(live, f.name, f.dataType, isMin)
          .flatMap(ext(_, f.dataType))
        val histState = servedHistogram(aRows, e).map { case (h, bins) =>
          val state = e.histAsOf match {
            case None => "as-of ANALYZE (no digest)"
            case Some(a) if a == aRows - e.nulls.getOrElse(0L) => "current"
            case _ => "rebinned from merged digest"
          }
          s"${bins.size} equi-height bins, height ${math.round(h)}, $state"
        }.orElse(e.hist.map(_ => "disarmed (stale bins, no digest)"))
        Seq(
          e.ndv.map(v => (f.name, "ndv", v.toString)),
          e.nulls.map(v => (f.name, "null_count", v.toString)),
          e.avgLen.map(v => (f.name, "avg_len", v.toString)),
          e.maxLen.map(v => (f.name, "max_len", v.toString)),
          live1(isMin = true).map(v => (f.name, "min", v)),
          live1(isMin = false).map(v => (f.name, "max", v)),
          histState.map(v => (f.name, "histogram", v))).flatten
      }
    }
    def logical(phys: String): String = snap.schema.fields
      .find(f => snap.phys(f.name) == phys).map(_.name).getOrElse(phys)
    // live per-partition footprint straight off the log's file entries
    // (what a pruned branch's CatalogStatistics will carry), alongside
    // the ANALYZE-maintained local column stats
    val liveByPart: Map[String, (Long, Long)] = live.groupBy(f => pvKey(f.pv))
      .map { case (k, fs) => k -> ((fs.map(_.rows).sum, fs.map(_.bytes).sum)) }
    val partRows = parsePartStats(snap.properties).toSeq.sortBy(_._1)
      .flatMap { case (k, (n, cs)) =>
        Seq((s"partition $k", "row_count", n.toString)) ++
          liveByPart.get(k).toSeq.flatMap { case (r, b) => Seq(
            (s"partition $k", "live_row_count", r.toString),
            (s"partition $k", "size_bytes", b.toString)) } ++
          cs.toSeq.sortBy(_._1).flatMap { case (c, e) =>
            e.ndv.map(v =>
              (s"partition $k", s"ndv(${logical(c)})", v.toString)).toSeq ++
            e.nulls.map(v =>
              (s"partition $k", s"null_count(${logical(c)})", v.toString))
          }
      }
    tableRows ++ govRows ++ colRows ++ partRows
  }

  /** Double rendering of a column for histogram space — matches the
    * INTERNAL value Catalyst's estimation converts literals to (dates
    * as epoch days, timestamps as epoch micros), so bin bounds and
    * query literals live on the same axis. */
  private def histCast(f: StructField): Option[Column] = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType => Some(col(f.name).cast("double"))
    case DateType => Some(unix_date(col(f.name)).cast("double"))
    case TimestampType => Some(unix_micros(col(f.name)).cast("double"))
    case TimestampNTZType =>
      Some(unix_micros(col(f.name).cast(TimestampType)).cast("double"))
    case _ => None
  }

  /** EQUI-HEIGHT histograms (`ANALYZE ... WITH HISTOGRAM`) — the
    * skew-aware half of column statistics: bin bounds are the
    * approx-percentile grid (pass 1), per-bin NDV is an
    * approx-distinct over each bin's range (pass 2 — the same two-pass
    * discipline Spark's own ANALYZE uses), height = non-null rows /
    * bins. Under CBO a range predicate then prices against the bins it
    * actually overlaps instead of assuming uniformity over [min, max] —
    * the estimate that saves a skewed 100 TB fact from a
    * 50%-selectivity guess on a 0.1%-selectivity filter. */
  private def collectHistograms(df: DataFrame, targets: Seq[StructField],
      bins: Int, base: Map[String, ColStatEntry], rows: Long)
      : Map[String, (Double, Seq[(Double, Double, Long)])] = {
    val hs = targets.flatMap(f => histCast(f).map(f.name -> _))
    if (hs.isEmpty) return Map.empty
    // bin bounds come straight off the quantile digest collectColStats
    // already folded (and keeps as the histogram's mergeable state):
    // the old separate percentile_approx pass over the data is gone —
    // WITH HISTOGRAM is now 2 passes total, not 3
    val bounds: Map[String, Seq[Double]] = hs.flatMap { case (n, _) =>
      base.get(n).flatMap(_.qsk)
        .flatMap(graft.functions.QuantileSketch.boundsBase64(_, bins))
        .map(n -> _)
    }.toMap
    val ndvAggs = hs.filter(h => bounds.contains(h._1)).flatMap { case (n, c) =>
      val bs = bounds(n)
      (0 until bins).map { i =>
        approx_count_distinct(when(c >= bs(i) && c <= bs(i + 1), c))
          .as(s"__bndv_${n}_$i")
      }
    }
    if (ndvAggs.isEmpty) return Map.empty
    val ndvRow = df.agg(ndvAggs.head, ndvAggs.tail: _*).head()
    bounds.map { case (n, bs) =>
      val binSeq = (0 until bins).map { i =>
        val j = ndvRow.fieldIndex(s"__bndv_${n}_$i")
        val ndv = if (ndvRow.isNullAt(j)) 0L else ndvRow.getLong(j)
        (bs(i), bs(i + 1), math.max(1L, ndv))
      }
      // equi-height: each bin covers an equal share of the non-null rows
      val nulls = base.get(n).flatMap(_.nulls).getOrElse(0L)
      n -> (((rows - nulls).toDouble / bins, binSeq))
    }
  }

  /** HLL-sketchable rendering of a column (DataSketches HLL accepts
    * int/long/string/binary): bijective casts keep the distinct count
    * exact; None for float/double/decimal (ANALYZE falls back to
    * approx_count_distinct and the sketch-merge path skips them). */
  private def hllCast(f: StructField): Option[Column] = f.dataType match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(col(f.name).cast("long"))
    case BooleanType => Some(col(f.name).cast("int"))
    case DateType => Some(unix_date(col(f.name)))
    case TimestampType => Some(unix_micros(col(f.name)))
    case TimestampNTZType =>
      Some(unix_micros(col(f.name).cast(TimestampType)))
    case StringType => Some(col(f.name))
    case _ => None
  }

  /** ONE aggregate pass over `df` producing each target's
    * [[ColStatEntry]]: NDV from an HLL sketch where the type is
    * sketchable (the sketch itself is kept — it's the mergeable state
    * behind O(batch) maintenance), approx_count_distinct otherwise;
    * exact null counts; string avg/max lengths. */
  private def collectColStats(df: DataFrame, targets: Seq[StructField],
      sketchCols: Set[String] = Set.empty): Map[String, ColStatEntry] = {
    if (sketchCols.nonEmpty) // quantile_sketch_agg below needs resolving
      graft.functions.GraftFunctions.register(df.sparkSession)
    val aggs = targets.flatMap { f =>
      val ndvAgg = hllCast(f) match {
        case Some(c) => base64(hll_sketch_agg(c)).as(s"__hll_${f.name}")
        case None => approx_count_distinct(col(f.name)).as(s"__ndv_${f.name}")
      }
      Seq(ndvAgg,
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).cast("long")
          .as(s"__nulls_${f.name}")) ++
      (if (sketchCols.contains(f.name)) histCast(f).map(c =>
        base64(call_function("quantile_sketch_agg", c,
          lit(QskAccuracy))).as(s"__qsk_${f.name}")).toSeq
       else Nil) ++
      (f.dataType match {
        case StringType => Seq(
          ceil(avg(length(col(f.name)))).cast("long").as(s"__avglen_${f.name}"),
          max(length(col(f.name))).cast("long").as(s"__maxlen_${f.name}"))
        case _ => Nil
      })
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def getL(n: String): Option[Long] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.getLong(i))
    }
    def getS(n: String): Option[String] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.getString(i))
    }
    targets.map { f =>
      val hll = if (hllCast(f).isDefined) getS(s"__hll_${f.name}") else None
      val ndv = hll match {
        case Some(sk) => Some(hllEstimate(sk))
        case None => getL(s"__ndv_${f.name}")
      }
      val qsk =
        if (sketchCols.contains(f.name) && histCast(f).isDefined)
          getS(s"__qsk_${f.name}")
        else None
      f.name -> ColStatEntry(ndv,
        getL(s"__nulls_${f.name}").orElse(Some(0L)),
        if (f.dataType == StringType) getL(s"__avglen_${f.name}") else None,
        if (f.dataType == StringType) getL(s"__maxlen_${f.name}") else None,
        hll, qsk = qsk)
    }.toMap
  }

  /** Estimate a base64 HLL sketch's cardinality driver-side — matches
    * hll_sketch_estimate (round of the DataSketches estimate), without
    * the 1-row Spark job per column ANALYZE used to pay. */
  private def hllEstimate(b64: String): Long =
    Math.round(org.apache.datasketches.hll.HllSketch.heapify(
      java.util.Base64.getMimeDecoder.decode(b64)).getEstimate)

  /** Serialize entries under [[ColStatsKey]] (a metadata-only commit).
    * `parts` is the partition-level stats map (ANALYZE ... BY
    * PARTITION) — every writer passes the current/folded value through,
    * so a table-global re-ANALYZE or an append fold never silently
    * drops partition stats. */
  private def writeColStats(path: String, analyzedVersion: Long,
      rows: Long, entries: Map[String, ColStatEntry],
      parts: Map[String, (Long, Map[String, ColStatEntry])] = Map.empty)
      : Long = {
    import org.json4s.JsonDSL._
    def colsJson(es: Map[String, ColStatEntry]) = es.map { case (k, e) =>
      val base = ("ndv" -> e.ndv) ~ ("nulls" -> e.nulls) ~
        ("avgLen" -> e.avgLen) ~ ("maxLen" -> e.maxLen) ~
        ("hll" -> e.hll) ~ ("qsk" -> e.qsk)
      k -> e.hist.map { case (h, bins) =>
        base ~ ("hist" -> (("height" -> h) ~
          ("asof" -> e.histAsOf) ~
          ("bins" -> bins.map(b => Seq(JDouble(b._1), JDouble(b._2),
            JLong(b._3))).toList)))
      }.getOrElse(base)
    }
    val obj0 = ("analyzedVersion" -> analyzedVersion) ~
      ("rows" -> rows) ~ ("cols" -> colsJson(entries))
    val obj =
      if (parts.isEmpty) obj0
      else obj0 ~ ("parts" -> parts.map { case (k, (n, cs)) =>
        k -> (("rows" -> n) ~ ("cols" -> colsJson(cs)))
      })
    val json = JsonMethods.compact(JsonMethods.render(obj))
    setProperties(path, Map(ColStatsKey -> encodeStatsJson(json)))
  }

  /** Transparent gzip for LARGE stats payloads: a fully-histogrammed
    * wide table's sketches+digests reach ~800 KB of JSON (measured,
    * 16 columns × 3 partitions at sf0.1), and the property value rides
    * every stats commit AND every checkpoint — compressing it ~halves
    * standing log metadata under frequent auto-folds. Small payloads
    * stay plain JSON (inspectable, and regex-editable in tests); the
    * `gz:` prefix keeps decode unambiguous, and the value remains an
    * opaque string to everything else (clones/restore/checkpoints). */
  private def encodeStatsJson(json: String): String =
    if (json.length < 32768) json
    else {
      val bos = new java.io.ByteArrayOutputStream
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      gz.close()
      "gz:" + java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }

  /** Carrier key for un-ANALYZEd churn versions inside CHECKPOINT
    * metaData only (written by writeCheckpoint, stripped by replay) —
    * never present in surfaced table properties or commits. */
  private val PendingChurnKey = "graft.stats.pendingChurnVersions"

  /** Row-churn tolerance before ANALYZE-derived stats disarm: per-table
    * TBLPROPERTY first (the natural place for a warehouse operator to
    * declare "this table prefers stale pricing over none"), session
    * conf as the fleet-wide fallback, default 0. ONE resolution rule
    * shared by the serve path (withLogStats) and EXPLAIN COST — the
    * render must report exactly what estimation will (not) see. */
  private def churnTolerance(props: Map[String, String],
      spark: SparkSession): Long =
    props.collectFirst {
      case (k, v) if k.equalsIgnoreCase("graft.stats.maxChurn") =>
        scala.util.Try(v.trim.toLong).getOrElse(0L)
    }.getOrElse(spark.conf.get("spark.graft.stats.maxChurn", "0").toLong)

  /** Commit operations that change or remove committed rows in ways the
    * standing ANALYZE stats cannot track (sketches can't subtract) —
    * appends FOLD (analyzeAppend), the OPTIMIZE/CLUSTER/REORG family is
    * row-preserving; everything here leaves NDV/nulls/histograms
    * describing rows that no longer exist. */
  private[graft] val ChurnOps: Set[String] = Set("DELETE", "DELETE_DV",
    "DELETE_INSERT", "MERGE", "REPLACE_WHERE", "UPDATE", "RESTORE")

  /** The version the standing stats were computed at (fold commits
    * rewrite it to the fold's base version). Memoized by the property
    * string — this runs on every log replay, and the payload can be a
    * ~100 KB gzipped JSON. */
  private val analyzedVCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
  private def props_analyzedVersion(props: Map[String, String]): Option[Long] =
    props.get(ColStatsKey).flatMap { json =>
      memo(analyzedVCache, json) {
        try JsonMethods.parse(decodeStatsJson(json)) \ "analyzedVersion" match {
          case JInt(x) => Some(x.toLong)
          case JLong(x) => Some(x)
          case _ => None
        } catch { case _: Throwable => None }
      }
    }

  private def decodeStatsJson(v: String): String =
    if (!v.startsWith("gz:")) v
    else new String(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(
        java.util.Base64.getMimeDecoder.decode(v.substring(3))))
      .readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)

  /** Canonical key of one partition's value map — sorted `c=v` pairs
    * joined with '/'. Values are the LOG's (Hive-path) string rendering;
    * the ANALYZE-side grouped pass renders with cast-to-string, which
    * matches for every partitionable type (dates ISO, numerics plain,
    * booleans true/false, null → the Hive default sentinel). */
  private def pvKey(pv: Map[String, String]): String =
    pv.toSeq.sortBy(_._1).map { case (c, v) => s"$c=$v" }.mkString("/")

  /** Live-partition cap for BY PARTITION stats: the entries live in one
    * log property, so the surface is bounded — a 10k-partition table
    * wants file-level stats (already live) or a coarser key, not 10k
    * property-resident HLL sketches. */
  val MaxAnalyzedPartitions = 64

  /** INCREMENTAL statistics maintenance: fold an appended batch into
    * the standing ANALYZE stats in O(batch) — no table rescan, ever.
    * HLL sketches are mergeable, so per-column NDV updates as
    * `estimate(union(stored, sketch(batch)))` (the same math a 1000-
    * executor ANALYZE would distribute); null counts and row counts
    * add; string avg length re-weights by row counts and max length
    * takes the max; min/max need nothing (the read path serves them
    * LIVE from file stats). Non-sketchable columns (float/double/
    * decimal) keep their analyzed NDV — an increasingly stale lower
    * bound, refreshed by the next full ANALYZE. Row-removing ops make
    * NDV an upper bound (sketches cannot subtract) — still valid as an
    * estimate; re-ANALYZE to tighten. No-op unless the table has
    * standing stats. Set TBLPROPERTIES `graft.stats.auto = true` and
    * [[append]] runs this automatically on every batch. */
  def analyzeAppend(spark: SparkSession, path: String,
      batch: DataFrame): Long = {
    val snap = snapshot(path)
    val (rows, stored) = parseColStatsFull(snap.properties)
    if (stored.isEmpty) return -1L
    // physical → logical: stats are stored by physical name, the batch
    // carries logical columns
    val logical = snap.schema.fields.filter(f =>
      stored.contains(snap.phys(f.name)) && batch.columns.contains(f.name))
    if (logical.isEmpty) return -1L
    // columns with a stored quantile digest fold the batch's digest too
    // (same single pass): the histogram's bin bounds re-derive from the
    // merged digest on read, so bins never go stale under appends
    val sketchCols = logical.filter(f =>
      stored(snap.phys(f.name)).qsk.isDefined).map(_.name).toSet
    val fresh = collectColStats(batch, logical.toSeq, sketchCols)
    val batchRows = batch.count()
    val merged = stored.map { case (physName, old) =>
      logical.find(f => snap.phys(f.name) == physName) match {
        case None => physName -> old
        case Some(f) =>
          val b = fresh(f.name)
          val hll = (old.hll, b.hll) match {
            case (Some(a), Some(nb)) => Some(hllUnion(a, nb))
            case _ => None
          }
          val ndv = hll match {
            case Some(sk) => Some(hllEstimate(sk))
            case None => old.ndv // non-sketchable: keep the analyzed floor
          }
          val avgLen = (old.avgLen, b.avgLen) match {
            case (Some(oa), Some(ba)) if rows + batchRows > 0 =>
              Some(math.ceil((oa.toDouble * rows + ba.toDouble * batchRows) /
                (rows + batchRows)).toLong)
            case (a, bb) => a.orElse(bb)
          }
          // GK digests merge driver-side with error bounds preserved
          val qsk = (old.qsk, b.qsk) match {
            case (Some(a), Some(nb)) =>
              Some(graft.functions.QuantileSketch.mergeBase64(a, nb))
            case _ => None
          }
          // The stored bins stay AS-OF their build (bins themselves
          // can't merge), but with a folded digest the READ path rebins
          // from the merged sketch whenever asof ≠ maintained non-null
          // count. Without a digest the histogram is unmaintainable —
          // DROP it (correct-by-decline) rather than let the CBO price
          // a drifted distribution against stale bins.
          val (hist, asof) =
            if (old.hist.isDefined && qsk.isDefined) (old.hist, old.histAsOf)
            else (None, None)
          physName -> ColStatEntry(ndv,
            Some(old.nulls.getOrElse(0L) + b.nulls.getOrElse(0L)),
            avgLen,
            (old.maxLen.toSeq ++ b.maxLen.toSeq).maxOption,
            hll, hist, qsk, asof)
      }
    }
    // partition-level stats fold the same way: the batch's grouped pass
    // merges into matching partitions by HLL union (new partitions just
    // insert). If the fold would exceed the partition cap, the whole
    // partition-stats set drops — disarm, never a silently partial map.
    val storedParts = parsePartStats(snap.properties)
    val foldedParts: Map[String, (Long, Map[String, ColStatEntry])] =
      if (storedParts.isEmpty) storedParts
      else {
        val partCols = storedParts.values.flatMap(_._2.keys).toSet
        val pTargets = snap.schema.fields.filter(f =>
          partCols.contains(snap.phys(f.name)) &&
            batch.columns.contains(f.name)).toSeq
        val fresh = collectPartColStats(batch, pTargets, snap)
        val all = (storedParts.keySet ++ fresh.keySet).toSeq.map { k =>
          (storedParts.get(k), fresh.get(k)) match {
            case (Some((r0, c0)), Some((r1, c1))) =>
              k -> ((r0 + r1, (c0.keySet ++ c1.keySet).toSeq.map { pn =>
                (c0.get(pn), c1.get(pn)) match {
                  case (Some(a), Some(b)) =>
                    val h = (a.hll, b.hll) match {
                      case (Some(x), Some(y)) => Some(hllUnion(x, y))
                      case _ => None
                    }
                    pn -> ColStatEntry(
                      h.map(hllEstimate).orElse(a.ndv),
                      Some(a.nulls.getOrElse(0L) + b.nulls.getOrElse(0L)),
                      None, None, h)
                  case (a, b) => pn -> a.orElse(b).get
                }
              }.toMap))
            case (a, b) => k -> a.orElse(b).get
          }
        }.toMap
        if (all.size > MaxAnalyzedPartitions) Map.empty else all
      }
    writeColStats(path, snap.version, rows + batchRows, merged, foldedParts)
  }

  /** Merge two base64 HLL sketches DRIVER-SIDE, no Spark job: the fold
    * path unions one sketch per (column[, partition]) — as 1-row Spark
    * jobs those cost ~25 ms of scheduling EACH for microseconds of
    * sketch math, and a 16-column partitioned fold paid a ~3 s job
    * storm (measured at sf0.1). Spark's hll_sketch_agg family is the
    * same bundled DataSketches library, so heapify/serialize here stays
    * fully interchangeable with hll_union / hll_sketch_estimate over
    * the stored values (lgMaxK 12 = Spark's default lgConfigK, HLL_8 =
    * its target type). */
  private def hllUnion(a: String, b: String): String = {
    import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
    val dec = java.util.Base64.getMimeDecoder // Spark base64() chunks CRLF
    val u = new Union(12)
    u.update(HllSketch.heapify(dec.decode(a)))
    u.update(HllSketch.heapify(dec.decode(b)))
    java.util.Base64.getEncoder.encodeToString(
      u.getResult(TgtHllType.HLL_8).toUpdatableByteArray)
  }

  /** One column's ANALYZE entry: NDV + null count (+ string lengths) +
    * the base64 HLL sketch the NDV came from — the MERGEABLE state that
    * lets [[analyzeAppend]] maintain NDV in O(batch) — and optionally
    * an equi-height histogram (height, bins of (lo, hi, ndv) in the
    * column's double rendering) for skew-aware selectivity. WITH
    * HISTOGRAM additionally keeps `qsk`, a base64 Greenwald–Khanna
    * quantile digest — the histogram's own mergeable state: appends
    * fold their digest in (the HLL discipline applied to distribution
    * shape), and the read path re-derives bin bounds from the merged
    * digest whenever `histAsOf` (non-null rows when the bins were
    * built) no longer matches the maintained count, so the CBO never
    * prices a drifted distribution against stale bins. */
  private[graft] final case class ColStatEntry(ndv: Option[Long],
      nulls: Option[Long], avgLen: Option[Long], maxLen: Option[Long],
      hll: Option[String],
      hist: Option[(Double, Seq[(Double, Double, Long)])] = None,
      qsk: Option[String] = None,
      histAsOf: Option[Long] = None)

  /** The histogram to SERVE for a column entry: the stored bins while
    * they're current, a REBIN from the merged quantile digest once
    * appends have folded past them (`histAsOf` no longer matches the
    * maintained non-null count), nothing when neither is trustworthy.
    * Rebinned bins put the equi-height boundary grid of the MERGED
    * digest under the maintained row count, so a range predicate over
    * freshly-appended value ranges prices against bins that actually
    * cover them — never against the stale as-of-ANALYZE frame. Per-bin
    * NDV on a rebin is the maintained (HLL-folded) NDV split evenly:
    * the uniformity assumption WITHIN the fresh equi-height frame —
    * the bounds carry the skew signal. Entries without an `asof` stamp
    * (pre-digest stats) serve as stored, exactly the legacy contract. */
  private def servedHistogram(rows: Long, e: ColStatEntry)
      : Option[(Double, Seq[(Double, Double, Long)])] = e.hist match {
    case None => None
    case some @ Some((_, bins)) =>
      val nonNull = rows - e.nulls.getOrElse(0L)
      e.histAsOf match {
        case None => some
        case Some(asof) if asof == nonNull => some
        case _ =>
          val nBins = bins.size
          e.qsk.flatMap { q =>
            memo(rebinCache, (q, nBins, nonNull, e.ndv.getOrElse(-1L))) {
              graft.functions.QuantileSketch.boundsBase64(q, nBins)
                .map { bs =>
                  val ndvEach =
                    math.max(1L, e.ndv.map(_ / nBins).getOrElse(1L))
                  (nonNull.toDouble / nBins,
                    (0 until nBins).map(i => (bs(i), bs(i + 1), ndvEach)))
                }
            }
          } // no digest → None: disarmed, never stale-priced
      }
  }

  /** Parsed [[ColStatsKey]] payload keyed by physical name, plus the
    * analyzed row count. Tolerant of absent/garbled properties (stats
    * are estimates — never fail a read over them). */
  private[graft] def parseColStats(props: Map[String, String]):
      Map[String, ColStatEntry] = parseColStatsFull(props)._2

  private def parseEntry(v: JValue): ColStatEntry = {
    def f(k: String): Option[Long] = v \ k match {
      case JInt(x) => Some(x.toLong)
      case JLong(x) => Some(x)
      case _ => None
    }
    val hll = v \ "hll" match {
      case JString(x) => Some(x); case _ => None
    }
    def d(j: JValue): Double = j match {
      case JDouble(x) => x; case JInt(x) => x.toDouble
      case JLong(x) => x.toDouble; case _ => 0.0
    }
    val qsk = v \ "qsk" match {
      case JString(x) => Some(x); case _ => None
    }
    val (hist, asof) = v \ "hist" match {
      case h: JObject =>
        val bins = (h \ "bins") match {
          case JArray(bs) => bs.collect { case JArray(List(lo, hi, n)) =>
            (d(lo), d(hi), d(n).toLong) }
          case _ => Nil
        }
        val a = h \ "asof" match {
          case JInt(x) => Some(x.toLong)
          case JLong(x) => Some(x)
          case _ => None
        }
        if (bins.isEmpty) (None, None)
        else (Some((d(h \ "height"), bins)), a)
      case _ => (None, None)
    }
    ColStatEntry(f("ndv"), f("nulls"), f("avgLen"),
      f("maxLen"), hll, hist, qsk, asof)
  }

  private def parseEntries(cols: JValue): Map[String, ColStatEntry] =
    cols.asInstanceOf[JObject].obj.map { case (name, v) =>
      name -> parseEntry(v)
    }.toMap

  /** PARSE MEMOS (scale-path, not semantics): under CBO a partitioned
    * read builds one scan branch per partition group, and every branch
    * re-parses the SAME stats property — a JSON that with digests can
    * reach ~100 KB on a wide analyzed table, so a 64-branch read would
    * otherwise parse megabytes per plan build. Keyed by the property
    * string itself (a new string per snapshot load, equal across the
    * branches of one read); wholesale-cleared past a small bound —
    * pure memos, correctness unaffected. The rebin memo does the same
    * for the digest→bins derivation (deserialize + 33-point quantile
    * query per histogram column per branch). */
  private val statsParseCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Map[String, ColStatEntry])]()
  private val partStatsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, (Long, Map[String, ColStatEntry])]]()
  private val rebinCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long, Long), Option[(Double, Seq[(Double, Double, Long)])]]()
  private def memo[K, V](cache: java.util.concurrent.ConcurrentHashMap[K, V],
      key: K)(compute: => V): V = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val v = compute
      if (cache.size > 64) cache.clear()
      cache.put(key, v)
      v
    }
  }

  private[graft] def parseColStatsFull(props: Map[String, String]):
      (Long, Map[String, ColStatEntry]) =
    props.get(ColStatsKey).map { json =>
      memo(statsParseCache, json) {
        try {
          val root = JsonMethods.parse(decodeStatsJson(json))
          val rows = root \ "rows" match {
            case JInt(x) => x.toLong; case JLong(x) => x; case _ => 0L
          }
          rows -> parseEntries(root \ "cols")
        } catch { case _: Throwable => (0L, Map.empty[String, ColStatEntry]) }
      }
    }.getOrElse((0L, Map.empty))

  /** Partition-level stats (`ANALYZE ... BY PARTITION`): canonical
    * partition key → (partition row count, physical-name-keyed
    * NDV/null entries with their HLL fold state). Same garbled-property
    * tolerance as the table-level parse. */
  private[graft] def parsePartStats(props: Map[String, String]):
      Map[String, (Long, Map[String, ColStatEntry])] =
    props.get(ColStatsKey).map { json =>
      memo(partStatsCache, json) {
        try {
          JsonMethods.parse(decodeStatsJson(json)) \ "parts" match {
            case p: JObject => p.obj.map { case (k, v) =>
              val rows = v \ "rows" match {
                case JInt(x) => x.toLong; case JLong(x) => x; case _ => 0L
              }
              k -> ((rows, parseEntries(v \ "cols")))
            }.toMap
            case _ => Map.empty[String, (Long, Map[String, ColStatEntry])]
          }
        } catch {
          case _: Throwable =>
            Map.empty[String, (Long, Map[String, ColStatEntry])]
        }
      }
    }.getOrElse(Map.empty)

  /** Delta `ALTER TABLE ... UNSET TBLPROPERTIES (k)`. */
  def unsetProperty(path: String, key: String): Long = {
    val snap = snapshot(path)
    require(snap.properties.contains(key), s"no property '$key' on $path")
    commit(path, snap, "UNSET_TBLPROPERTIES",
      next = snap.copy(properties = snap.properties - key))
  }

  /** `delta.appendOnly` enforcement: refuse any op that removes or
    * rewrites committed rows. Appends, OPTIMIZE-family rewrites (row-
    * preserving), and metadata commits stay allowed. */
  private def rejectIfAppendOnly(snap: Snapshot, op: String): Unit =
    if (snap.properties.exists { case (k, v) =>
        k.equalsIgnoreCase("delta.appendOnly") && v.equalsIgnoreCase("true") })
      throw new UnsupportedOperationException(
        s"$op is not allowed: this table is append-only " +
          "(TBLPROPERTIES delta.appendOnly = true)")

  /** MERGE INTO upsert (dbt incremental `merge` / Delta MERGE / S8),
    * copy-on-write. Rewrites ONLY the files that hold a key present in
    * `updates`: [[locateRows]] stats-prunes candidates by the updates'
    * key ranges and semi-joins the candidates' rows on the keys, the
    * copy-on-write tail ([[touchedFiles]]) collects the hit files,
    * their rows are upserted, and every other file is carried forward
    * by reference. */
  def merge(spark: SparkSession, path: String, updatesIn: DataFrame,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "merge keys required")
    val snap = snapshot(path)
    rejectIdentity(snap, "MERGE")
    rejectIfAppendOnly(snap, "MERGE")
    checkWriteSchema(updatesIn.schema, snap.schema, "MERGE")
    withMaterializedSource(updatesIn) { updates =>
      val (touched, touchedRows) = touchedFiles(spark, path, snap,
        OnKeys(updates, keys))
      val merged = graft.operators.Merge.upsert(touchedRows, align(updates, snap.schema), keys)
      checkConstraints(merged, snap.schema, snap.constraints, "MERGE")
      val v = snap.version + 1
      val adds = writeData(spark, root(path), v, merged, snap.schema,
        snap.partitionBy, snap.physical, snap.generated, snap.properties)
      commit(path, snap, "MERGE", adds = adds, removes = touched)
    }
  }

  /** Materialize a merge/delete+insert SOURCE once before its multiple
    * consumers run (Delta's MERGE materializes its source for the same
    * reason): the source plan is evaluated up to four times per commit —
    * [[locateRows]]' key-bounds aggregate and key semi-join,
    * duplicate-key guard, and the merge join itself — and for CDF-derived sources
    * (incremental MV refreshes) each evaluation replays the whole
    * change-diff. A spillable within-commit cache collapses that to one
    * evaluation; unpersisted before returning, so nothing outlives the
    * commit. Also lets AQE see the source's REAL (post-computation) size
    * when picking the merge join strategy. */
  private def withMaterializedSource[T](source: DataFrame)
      (f: DataFrame => T): T = {
    val mat = source.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(mat) finally { mat.unpersist(false); () }
  }

  /** Full multi-clause MERGE INTO (Delta `WHEN MATCHED [AND cond] THEN
    * UPDATE/DELETE`, `WHEN NOT MATCHED [AND cond] THEN INSERT`, `WHEN NOT
    * MATCHED BY SOURCE ...`): clause semantics from
    * [[graft.operators.Merge.merge]], file discipline from [[merge]] —
    * only files that can hold an affected row are rewritten. With any
    * NOT MATCHED BY SOURCE clause every candidate file of the scope is
    * rewritten (rows absent from the source live anywhere); otherwise
    * the touched files are [[locateRows]]' key matches, collected by
    * the copy-on-write tail ([[touchedFiles]]).
    *
    * `incrementalPredicates` is dbt's `incremental_predicates` config:
    * declared SQL predicates over TARGET columns that scope the merge's
    * target side BEFORE key matching. Semantics follow dbt's generated
    * MERGE (predicates ride the ON condition): a target row failing (or
    * nulling) any predicate is invisible to every clause — MATCHED
    * clauses cannot touch it, NOT MATCHED BY SOURCE clauses cannot
    * delete it, and it is carried forward byte-identical. dbt's
    * documented footgun carries over deliberately: a source key whose
    * only target match is out of scope INSERTs a second row — the
    * config trades that contract for scan cost. At scale this is the
    * point: simple `col <op> literal` conjuncts become stats bounds
    * ([[candidateFiles]]) that shrink the candidate-file set the
    * key-confirm scan reads (on a 100 TB target a `day >= X` predicate
    * turns the confirm scan from all-files into the recent tail);
    * conjuncts the extractor cannot read still apply row-level, so
    * pruning stays an optimization, never a semantics change. */
  def mergeClauses(spark: SparkSession, path: String, sourceIn: DataFrame,
      keys: Seq[String],
      clauses: Seq[graft.operators.Merge.MergeClause],
      schemaEvolution: Boolean = false,
      txn: Option[(String, Long)] = None,
      incrementalPredicates: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "merge keys required")
    val snap = snapshot(path)
    // txn idempotence (same rule as appendOnce): an already-applied
    // version makes the whole merge a no-op — the exactly-once hook the
    // incremental-MV refresher builds on.
    txn.foreach { case (app, ver) =>
      if (snap.txns.get(app).exists(_ >= ver)) return snap.version
    }
    withMaterializedSource(sourceIn) { source =>
    rejectIdentity(snap, "MERGE")
    rejectIfAppendOnly(snap, "MERGE")
    // Delta `MERGE ... WITH SCHEMA EVOLUTION`: extra SOURCE columns join
    // the table schema (must be explicit — without the flag they remain
    // legal but are only visible to clause conditions). Existing files
    // are NOT rewritten for the new columns: history reads them as null
    // through the log schema, exactly like appendEvolve; only the merge's
    // own rewrite carries values.
    val known = snap.schema.fieldNames.toSet
    val newFields =
      if (!schemaEvolution) Seq.empty
      else source.schema.fields.filterNot(f => known.contains(f.name)).toSeq
    val physNames = snap.schema.fieldNames.map(snap.phys).toSet
    newFields.foreach(f => require(!physNames.contains(f.name),
      s"new column '${f.name}' collides with the physical name of a renamed column"))
    val evolved = StructType(snap.schema.fields ++ newFields)
    // evolved-in columns are born under fresh physical names when their
    // logical name was retired by an earlier DROP COLUMN (see dropColumn)
    val physical = snap.physical ++ birthPhysical(snap, snap.version + 1, newFields)
    val hasBySource = clauses.exists {
      case _: graft.operators.Merge.NotMatchedBySourceUpdate => true
      case _: graft.operators.Merge.NotMatchedBySourceDelete => true
      case _ => false
    }
    val scopeCol: Option[Column] =
      if (incrementalPredicates.isEmpty) None
      else Some(incrementalPredicates.map(p => expr(p)).reduce(_ && _))
    val (touched, touchedRows) =
      if (hasBySource) {
        // by-source clauses can touch ANY in-scope row; candidates are
        // every file the scope bounds cannot disprove (all files when
        // no predicates are declared — the pre-config behavior)
        val cands = scopeCol.fold(snap.files)(c =>
          candidateFiles(spark, snap, Where(c)))
        (cands.map(_.path),
          readFiles(spark, path, snap.schema, cands, snap.partitionBy, snap.physical))
      } else touchedFiles(spark, path, snap, OnKeys(source, keys, scopeCol))
    val target = newFields.foldLeft(touchedRows)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    // Column DEFAULTs apply to MERGE INSERTs exactly as in SQL: an INSERT
    // that does not name a defaulted column takes the default; MATCHED
    // updates never do (DEFAULT is insert-time only). Star clauses over a
    // source that omits a defaulted column are rewritten to explicit
    // per-column assignments so the fill lands ONLY in the insert branch
    // (and the update star narrows to the columns the source carries,
    // leaving the rest untouched). Defaults in merge context should be
    // self-contained expressions (plain column names resolve against the
    // TARGET side of the join, which is all-null in the insert branch).
    val defs = columnDefaults(snap.properties)
    val effClauses = if (defs.isEmpty) clauses else {
      import graft.operators.Merge.{MatchedUpdate, NotMatchedInsert}
      val srcCols = source.columns.toSet
      val tgtCols = evolved.fieldNames.toSeq
      val missingDefault =
        tgtCols.filter(c => defs.contains(c) && !srcCols.contains(c))
      clauses.map {
        case NotMatchedInsert(cond, vals) if vals.isEmpty =>
          if (missingDefault.isEmpty) NotMatchedInsert(cond, vals)
          else NotMatchedInsert(cond, tgtCols.collect {
            case c if srcCols.contains(c) => c -> graft.operators.Merge.src(c)
            case c if defs.contains(c) => c -> expr(defs(c))
          }.toMap)
        case NotMatchedInsert(cond, vals) =>
          NotMatchedInsert(cond, vals ++ defs.collect {
            case (c, e) if !vals.contains(c) && !keys.contains(c) &&
              tgtCols.contains(c) => c -> expr(e)
          })
        case MatchedUpdate(cond, set)
            if set.isEmpty && missingDefault.nonEmpty =>
          MatchedUpdate(cond, tgtCols.filter(srcCols.contains)
            .map(c => c -> graft.operators.Merge.src(c)).toMap)
        case other => other
      }
    }
    // out-of-scope rows in touched files ride through unchanged (no
    // clause may see them); NULL predicate results read as out of scope,
    // matching an ON-condition that fails to hold
    val (scoped, outOfScope) = scopeCol match {
      case Some(c) =>
        val hit = coalesce(c, lit(false))
        (target.filter(hit), Some(target.filter(!hit)))
      case None => (target, None)
    }
    val merged0 = graft.operators.Merge.merge(scoped, source, keys, effClauses)
    val merged = outOfScope.fold(merged0)(merged0.unionByName(_))
    checkConstraints(merged, evolved, snap.constraints, "MERGE")
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, merged, evolved,
      snap.partitionBy, physical, snap.generated, snap.properties)
    commit(path, snap, "MERGE",
      next = snap.copy(schema = evolved, physical = physical),
      adds = adds, removes = touched, txn = txn)
    }
  }

  /** dbt incremental `delete+insert` strategy: delete every target row
    * whose key appears in `batch`, then insert ALL batch rows. Unlike
    * MERGE the batch may legitimately carry multiple rows per key —
    * that is the strategy's reason to exist (e.g. re-landing an
    * order's line items). Same touched-file discipline as [[merge]]:
    * only files holding a batch key are rewritten. */
  def deleteInsert(spark: SparkSession, path: String, batchIn: DataFrame,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "delete+insert keys required")
    val snap = snapshot(path)
    rejectIdentity(snap, "DELETE_INSERT")
    rejectIfAppendOnly(snap, "DELETE_INSERT")
    val batchRaw = applyDefaults(batchIn, snap.schema, snap.properties)
    checkWriteSchema(batchRaw.schema, snap.schema, "DELETE_INSERT")
    withMaterializedSource(batchRaw) { batch =>
      val (touched, touchedRows) = touchedFiles(spark, path, snap,
        OnKeys(batch, keys))
      val survivors = touchedRows.join(
        batch.select(keys.map(batch.col): _*).distinct(), keys, "left_anti")
      val newData = survivors.unionByName(align(batch, snap.schema))
      checkConstraints(align(batch, snap.schema), snap.schema, snap.constraints,
        "DELETE_INSERT")
      val v = snap.version + 1
      val adds = writeData(spark, root(path), v, newData, snap.schema,
        snap.partitionBy, snap.physical, snap.generated, snap.properties)
      commit(path, snap, "DELETE_INSERT", adds = adds, removes = touched)
    }
  }

  /** Shallow CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): a new
    * table whose version 0 references the source's current live files
    * BY ABSOLUTE PATH — zero data copied, O(metadata) cost regardless of
    * table size (the 100 TB dev/test-fork primitive). The clone then
    * evolves independently: DML rewrites land under the clone's root
    * (relative paths), the source never changes, and the clone's VACUUM
    * only walks the clone's root so referenced source files are never
    * deleted. Cloning a table with live deletion vectors is rejected
    * (their `u` descriptors resolve against the source root); OPTIMIZE
    * the source first to materialize DVs, like Delta requires.
    *
    * `asOf` = CLONE AT VERSION (Delta `CLONE src VERSION AS OF n`): the
    * clone's v0 references the files live at that SOURCE version — a
    * zero-copy fork of historical state (reproduce last week's training
    * run against last week's table, O(metadata)). Same dependency
    * caveat as any shallow clone, sharpened: the referenced files may
    * already be non-live in the source HEAD, so a source VACUUM breaks
    * the clone — Delta documents the identical hazard; deep-clone to
    * cut the tie. */
  def cloneShallow(spark: SparkSession, sourcePath: String,
      targetPath: String, asOf: Option[Long] = None): Long = {
    require(latestVersion(targetPath).isEmpty,
      s"table already exists at $targetPath")
    val snap = snapshot(sourcePath, asOf)
    require(snap.files.forall(_.dv.isEmpty),
      "cannot shallow-clone a table with live deletion vectors; " +
        "run compact/cluster on the source first to materialize them")
    val srcRoot = root(sourcePath)
    val adds = snap.files.map(f =>
      f.copy(path = srcRoot.resolve(f.path).toString))
    commit(targetPath, NoTable, "CLONE", next = snap, adds = adds)
  }

  /** Delta `CLONE ... DEEP`: a fully materialized, independent copy.
    * Data files and the `deletion_vector_*.bin` files their descriptors
    * reference are byte-copied PRESERVING their table-relative layout,
    * so every logged attribute — stats, partition values, blooms, and
    * deletion-vector descriptors (row indexes of a byte-identical file,
    * resolved against the table root) — stays valid in the target
    * without recomputation; the copy is pure I/O, no Spark jobs.
    * By-reference files (a shallow-clone source) materialize under a
    * fresh clone dir, so deep-cloning a shallow clone is the documented
    * way to cut its tie to the origin (a DV on such a file keeps its
    * descriptor: the copy is byte-identical, so its row indexes hold).
    * O(table bytes), embarrassingly parallel per-file at scale. The
    * target starts its own timeline at CLONE.
    * `asOf` = CLONE AT VERSION: materializes the files live at that
    * source version — a fully independent copy of historical state
    * (no vacuum hazard, unlike the shallow form). */
  def cloneDeep(spark: SparkSession, sourcePath: String,
      targetPath: String, asOf: Option[Long] = None): Long = {
    require(latestVersion(targetPath).isEmpty,
      s"table already exists at $targetPath")
    val snap = snapshot(sourcePath, asOf)
    val srcRoot = root(sourcePath)
    val dstRoot = root(targetPath)
    Files.createDirectories(dstRoot)
    def copyInto(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    // `u` descriptors resolve against the table root → DV files keep
    // their relative names and the descriptors keep meaning in the target
    snap.files.flatMap(_.dv).filter(_.storageType == "u")
      .map(DeletionVectors.dvFilePath(srcRoot, _)).distinct.foreach { f =>
        copyInto(f, dstRoot.resolve(srcRoot.relativize(f).toString))
      }
    val cloneDir = "files-00000-deep-" +
      java.util.UUID.randomUUID.toString.take(8)
    val adds = snap.files.zipWithIndex.map { case (f, i) =>
      val p = Paths.get(f.path)
      if (p.isAbsolute) {
        val rel = s"$cloneDir/$i-${p.getFileName}"
        copyInto(p, dstRoot.resolve(rel))
        f.copy(path = rel)
      } else {
        copyInto(srcRoot.resolve(f.path), dstRoot.resolve(f.path))
        f
      }
    }
    commit(targetPath, NoTable, "CLONE", next = snap, adds = adds)
  }

  /** Delta `RESTORE TABLE ... TO VERSION AS OF v`: a NEW commit whose
    * live file set is exactly version v's. Zero data files are copied
    * or rewritten — v's files are re-added BY REFERENCE (so v must not
    * have been vacuumed away), current files absent from v are removed.
    * History keeps both timelines: the pre-restore state remains
    * time-travelable. */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val cur = snapshot(path)
    val old = snapshot(path, asOf = Some(version))
    // file identity is (path, dv) — a deletion-vector change re-adds the
    // same physical file with a different DV, and RESTORE must roll the
    // DV back too (diffing by path alone silently kept the CURRENT
    // deletion vector; caught by the randomized model check once it
    // mixed DV deletes with restores). The remove-then-add line order in
    // the commit makes the re-add with the old DV win the replay.
    val oldKeys = old.files.map(f => (f.path, f.dv)).toSet
    val curKeys = cur.files.map(f => (f.path, f.dv)).toSet
    val readds = old.files.filterNot(f => curKeys.contains((f.path, f.dv)))
    val removes = cur.files.filterNot(f => oldKeys.contains((f.path, f.dv)))
      .map(_.path)
    commit(path, cur, "RESTORE", next = old, adds = readds, removes = removes)
  }

  /** Delta `GENERATE symlink_format_manifest`: export the CURRENT live
    * file set as plain-text manifests that log-unaware engines
    * (Presto/Trino/Athena/Hive external tables) can read — one absolute
    * data-file path per line, under `_symlink_format_manifest/`
    * (per-partition `<k>=<v>/` subdirs for Hive-layout tables, exactly
    * Delta's layout). Previous manifests are wiped first so dropped
    * partitions and rewritten files cannot resurface. REFUSES when any
    * live file carries a deletion vector: a symlink reader has no DV
    * concept and would resurrect soft-deleted rows — Delta blocks the
    * same way. The export is log-metadata-only (no data reads) and the
    * manifest is a SNAPSHOT: re-generate after each write the external
    * reader should see (or wire it as a post-commit hook). Returns the
    * manifest file paths. */
  def generateSymlinkManifest(spark: SparkSession,
      path: String): Seq[String] = {
    import java.nio.file.{Files => JFiles}
    val snap = snapshot(path)
    require(snap.files.forall(_.dv.isEmpty),
      "GENERATE symlink_format_manifest: table has deletion vectors; " +
        "a symlink reader would resurrect soft-deleted rows")
    val r = root(path)
    val mdir = r.resolve("_symlink_format_manifest")
    if (JFiles.exists(mdir)) {
      // Files.walk returns a Stream backed by OPEN directory handles —
      // close it (try/finally) or repeated GENERATE calls leak fds.
      val walk = JFiles.walk(mdir)
      val toDelete = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
      try {
        val all = walk.iterator()
        while (all.hasNext) toDelete += all.next()
      } finally walk.close()
      toDelete.sortBy(-_.getNameCount).foreach(JFiles.deleteIfExists(_))
    }
    val groups: Seq[(java.nio.file.Path, Seq[String])] =
      if (snap.partitionBy.isEmpty)
        Seq(mdir -> snap.files.map(f => r.resolve(f.path).toString))
      else snap.files.groupBy(_.pv).toSeq.map { case (pv, fs) =>
        val sub = snap.partitionBy.foldLeft(mdir)((d, k) =>
          d.resolve(s"$k=${escapePartitionValue(
            pv.getOrElse(k, "__HIVE_DEFAULT_PARTITION__"))}"))
        sub -> fs.map(f => r.resolve(f.path).toString)
      }
    groups.map { case (dir, lines) =>
      JFiles.createDirectories(dir)
      val mf = dir.resolve("manifest")
      JFiles.write(mf, lines.sorted.mkString("\n").getBytes("UTF-8"))
      mf.toString
    }
  }

  /** Hive/Delta partition-path escaping: raw partition VALUES go into
    * `<k>=<v>/` directory names, so path metacharacters ('/', '=', '#',
    * '%', ':', control bytes, …) must percent-escape or they corrupt
    * the manifest layout — Delta escapes exactly this set. */
  private def escapePartitionValue(v: String): String = {
    val needsEscape = "\"#%'*/:=?\\{[]^"
    val sb = new StringBuilder
    v.foreach { c =>
      if (c < 0x20 || c == 0x7F || needsEscape.indexOf(c.toInt) >= 0)
        sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  /** `RESTORE ... TO TIMESTAMP AS OF`: resolve the instant to the
    * version live at that time (same rule as time-travel reads), then
    * restore by version. */
  def restoreAtTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): Long =
    restore(spark, path, versionAtTimestamp(path, tsMillis))

  /** Which rows a row-level op touches: rows where `cond` holds (a NULL
    * result is no match — DELETE, UPDATE, replaceWhere), or live rows
    * whose `keys` equal a key of `source` (MERGE, delete+insert) among
    * the rows where `within` holds (dbt `incremental_predicates`). */
  private[graft] sealed trait RowScope
  private[graft] final case class Where(cond: Column) extends RowScope
  private[graft] final case class OnKeys(source: DataFrame, keys: Seq[String],
      within: Option[Column] = None) extends RowScope

  /** What [[locateRows]] finds: the candidate files, the deleted
    * positions of their deletion vectors ([[dvPositionsFrame]]), and the
    * matched LIVE rows — table columns plus `path` (the file's log key)
    * and `row_index` (its physical position, the DV's domain). `matched`
    * is lazy and uncut: the copy-on-write tail collects its distinct
    * paths, the deletion-vector tails cut it. */
  private[graft] final case class Located(candidates: Seq[AddFile],
      oldPos: DataFrame, matched: DataFrame)

  /** A predicate analyzed over an empty frame of the table schema, so
    * names and types validate before any I/O: whether it is
    * deterministic (the DV ops decline one that is not), and the bounds
    * [[graft.plans.BranchFilePruning.boundsOf]] reads from it. What it
    * cannot read is not used for pruning; the predicate still applies
    * row-level. */
  private[graft] final case class PredicateInfo(deterministic: Boolean,
      bounds: Seq[ColumnBound])

  private[graft] def analyzePredicate(spark: SparkSession,
      schema: StructType, cond: Column): PredicateInfo = {
    val conds = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      .filter(cond).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition -> f.child.outputSet
      }
    PredicateInfo(conds.forall(_._1.deterministic), conds.flatMap {
      case (c, out) => graft.plans.BranchFilePruning.boundsOf(c, out) })
  }

  /** The locator's candidate step: the live files of `snap` whose
    * logged min/max (or partition value) cannot disprove `scope` —
    * [[pruneFiles]] over the predicate's bounds, or over the source's
    * key bounds ([[sourceKeyBounds]], one small agg) plus `within`'s. */
  private[graft] def candidateFiles(spark: SparkSession, snap: Snapshot,
      scope: RowScope): Seq[AddFile] = {
    def bounds(c: Column) = analyzePredicate(spark, snap.schema, c).bounds
    pruneFiles(snap, scope match {
      case Where(cond) => bounds(cond)
      case OnKeys(src, keys, within) =>
        sourceKeyBounds(src, keys) ++ within.toSeq.flatMap(bounds)
    })
  }

  /** Per-key [min, max] bounds of `keyed`'s key columns (one small
    * agg) — THE key-bound builder of the merge candidate path, for both
    * logs (through [[candidateFiles]]). Values stay in their collected
    * external form; [[pruneFiles]] normalizes them. An all-null key
    * column yields an open bound. */
  private[graft] def sourceKeyBounds(keyed: DataFrame,
      keys: Seq[String]): Seq[ColumnBound] = {
    val aggExprs = keys.zipWithIndex.flatMap { case (k, i) => Seq(
      min(keyed.col(k)).as(s"__lo$i"), max(keyed.col(k)).as(s"__hi$i")) }
    val bRow = keyed.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
    keys.zipWithIndex.map { case (k, i) =>
      ColumnBound(k, Option(bRow.getAs[Any](s"__lo$i")),
        Option(bRow.getAs[Any](s"__hi$i")))
    }
  }

  /** THE candidate-and-match step of every row-level op on both logs,
    * under two write tails: copy-on-write ([[delete]], [[update]],
    * [[replaceWhere]], [[merge]], [[mergeClauses]], [[deleteInsert]],
    * through [[touchedFiles]]) and deletion vectors
    * ([[deleteVectorized]] and `DeltaInterop`'s `exportDeleteWhere`,
    * `exportUpdateWhere` and `exportMerge`: cut `matched`, then
    * [[writeDeletionVectors]]). A file whose stats disprove the scope
    * ([[candidateFiles]]) is never opened; a DV'd file's stats are
    * PHYSICAL bounds, and deletion only shrinks the live set, so
    * pruning stays sound. The match is one positional read of the
    * candidates, the scope's filter or key semi-join, and, when a
    * candidate carries a DV, the anti-join that keeps already-deleted
    * rows from matching. Each op keeps its own gates. */
  private[graft] def locateRows(spark: SparkSession, path: String,
      snap: Snapshot, scope: RowScope): Located = {
    val candidates = candidateFiles(spark, snap, scope)
    val withPos = readFilesWithPos(spark, path, snap.schema,
      candidates.map(_.copy(dv = None)), snap.partitionBy, snap.physical,
      snap.properties)
    val hits = scope match {
      case Where(cond) => withPos.filter(cond)
      case OnKeys(src, keys, within) =>
        within.fold(withPos)(c => withPos.filter(c))
          .join(src.select(keys.map(col): _*), keys, "left_semi")
    }
    val dvs = candidates.flatMap(f => f.dv.map(f.path -> _))
    val (oldPos, _) = dvPositionsFrame(spark, path, dvs)
    Located(candidates, oldPos,
      if (dvs.isEmpty) hits
      else hits.join(oldPos, col("path") === col("__dv_path") &&
        col("row_index") === col("__dv_ri"), "left_anti"))
  }

  /** The copy-on-write tail's locate step: the live files holding at
    * least one row of `scope`, and a read of exactly those files' live
    * rows (the rewrite's input). A partition-only predicate resolves
    * from the log alone ([[partitionOnlyTouched]], zero jobs); otherwise
    * the touched files are the distinct `path`s of [[locateRows]]'
    * matches — one collect, and no scan at all without a candidate. */
  private def touchedFiles(spark: SparkSession, path: String,
      snap: Snapshot, scope: RowScope): (Seq[String], DataFrame) = {
    val hitPaths = (scope match {
      case Where(cond) =>
        partitionOnlyTouched(spark, snap, coalesce(cond, lit(false)))
      case _: OnKeys => None
    }).map(_.toSet).getOrElse {
      val l = locateRows(spark, path, snap, scope)
      if (l.candidates.isEmpty) Set.empty[String]
      else l.matched.select("path").distinct().collect()
        .map(_.getString(0)).toSet
    }
    val touched = snap.files.filter(f => hitPaths.contains(f.path))
    (touched.map(_.path), readFiles(spark, path, snap.schema, touched,
      snap.partitionBy, snap.physical))
  }

  /** UPDATE's SET projection on both logs: ONE select in which every
    * SET expression — and `hit`, when only some rows of `df` are updated
    * — reads the row's OLD values (chained `withColumn`s would let a
    * later SET, and the re-checked predicate, see an earlier SET's
    * result), each cast to its column's declared type (UPDATE's
    * implicit cast). */
  private[sources] def updateProjection(df: DataFrame, schema: StructType,
      set: Map[String, Column], hit: Option[Column]): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      set.get(f.name).map { e =>
        val v = e.cast(f.dataType)
        hit.fold(v)(h => when(h, v).otherwise(col(f.name))).as(f.name)
      }.getOrElse(col(f.name))
    }: _*)

  /** UPDATE's SET-name gate on both logs: every SET key names a column
    * of `schema` ([[updateProjection]] iterates the schema, so an
    * unknown key would otherwise be dropped and the op would commit
    * an unchanged rewrite). Checked before any data is read. */
  private[sources] def requireKnownSetColumns(op: String, path: String,
      schema: StructType, set: Iterable[String]): Unit = {
    val unknown = set.toSet -- schema.fieldNames
    require(unknown.isEmpty,
      s"$op on $path: SET names unknown column(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")}")
  }

  /** Delta `DELETE FROM ... WHERE cond`, copy-on-write: rewrites ONLY
    * the files holding a matching row ([[touchedFiles]] over
    * [[locateRows]], which opens only the files whose stats admit
    * `cond`); all other files are carried forward. Rows where `cond` is
    * NULL are kept (SQL DELETE semantics). */
  def delete(spark: SparkSession, path: String, cond: Column): Long = {
    val snap = snapshot(path)
    rejectIfAppendOnly(snap, "DELETE")
    val hit = coalesce(cond, lit(false))
    val (touched, kept) = touchedFiles(spark, path, snap, Where(cond))
    val rewritten = kept.filter(!hit)
    val v = snap.version + 1
    val adds = if (touched.isEmpty) Nil
      else writeData(spark, root(path), v, rewritten, snap.schema,
        snap.partitionBy, snap.physical, snap.generated, snap.properties)
    // rebase over concurrent blind appends; a winner's appended row that
    // MATCHES the predicate is a real ConcurrentAppend conflict (the
    // delete must be serializable against rows it should have removed)
    commit(path, snap, "DELETE", adds = adds, removes = touched,
      onLost = LostRace.Rebase(readConflict = Some(winnerAdds =>
        readFiles(spark, path, snap.schema, winnerAdds, snap.partitionBy,
          snap.physical).filter(hit).limit(1).count() > 0)))
  }

  /** Delta `UPDATE ... SET col = expr WHERE cond`: same touched-file
    * discipline as [[delete]]; every SET and the predicate read the old
    * row ([[updateProjection]]). */
  def update(spark: SparkSession, path: String, cond: Column,
      set: Map[String, Column]): Long = {
    val snap = snapshot(path)
    rejectIfAppendOnly(snap, "UPDATE")
    requireKnownSetColumns("UPDATE", path, snap.schema, set.keys)
    // GENERATED ALWAYS AS columns cannot be assigned (Delta's rule); they
    // are recomputed from the updated base columns inside writeData.
    set.keys.find(snap.generated.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"UPDATE rejected: '$c' is GENERATED ALWAYS AS " +
          s"(${snap.generated(c)}) and cannot be assigned directly")
    }
    set.keys.find(snap.identity.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"UPDATE rejected: '$c' is GENERATED ALWAYS AS IDENTITY " +
          "and cannot be assigned")
    }
    val hit = coalesce(cond, lit(false))
    val (touched, kept) = touchedFiles(spark, path, snap, Where(cond))
    val rewritten = updateProjection(kept, snap.schema, set, Some(hit))
    if (touched.nonEmpty)
      checkConstraints(rewritten, snap.schema, snap.constraints, "UPDATE")
    val v = snap.version + 1
    val adds = if (touched.isEmpty) Nil
      else writeData(spark, root(path), v, rewritten, snap.schema,
        snap.partitionBy, snap.physical, snap.generated, snap.properties)
    // same rebase-vs-conflict rule as DELETE: a concurrently appended row
    // matching the predicate should have been updated — real conflict
    commit(path, snap, "UPDATE", adds = adds, removes = touched,
      onLost = LostRace.Rebase(readConflict = Some(winnerAdds =>
        readFiles(spark, path, snap.schema, winnerAdds, snap.partitionBy,
          snap.physical).filter(hit).limit(1).count() > 0)))
  }

  /** Delta `replaceWhere` overwrite — the dbt incremental
    * `insert_overwrite` strategy: atomically replace exactly the rows
    * matching `cond` with the rows of `df`. Only files containing a
    * matching row are rewritten (their non-matching rows are carried into
    * the rewrite); all other files survive by reference. With data laid
    * out by the predicate column (e.g. daily appends, cond = that day)
    * this is a pure swap: remove the day's files, add the new ones —
    * O(partition), never O(table). */
  def replaceWhere(spark: SparkSession, path: String, cond: Column,
      dfIn: DataFrame): Long = {
    val snap = snapshot(path)
    rejectIdentity(snap, "REPLACE_WHERE")
    rejectIfAppendOnly(snap, "REPLACE_WHERE")
    val hit = coalesce(cond, lit(false))
    val (touched, kept) = touchedFiles(spark, path, snap, Where(cond))
    val df = applyDefaults(dfIn, snap.schema, snap.properties)
    checkWriteSchema(df.schema, snap.schema, "REPLACE_WHERE")
    val newData = kept.filter(!hit).unionByName(align(df, snap.schema))
    checkConstraints(align(df, snap.schema), snap.schema, snap.constraints,
      "REPLACE_WHERE")
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, newData, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    commit(path, snap, "REPLACE_WHERE", adds = adds, removes = touched)
  }

  /** Metadata-only touched-file resolution for PARTITION-scoped
    * predicates (Delta's metadata-only replaceWhere, r19): when `hit`
    * resolves against the partition columns alone, each file's logged
    * partition values decide it outright — the predicate is constant
    * per partition, so "file contains a matching row" ⟺ "file's
    * partition matches". Evaluated driver-side over the distinct pv
    * set as a LocalRelation (ConvertToLocalRelation folds the filter —
    * zero Spark jobs), with the same string→type cast the read path's
    * attachPartitionCols applies. None = predicate needs data columns
    * (analysis fails) — caller falls back to the confirm scan. A
    * day-scoped microbatch replaceWhere on a 100 TB table then costs
    * one log fold, not a table-wide find scan. */
  private def partitionOnlyTouched(spark: SparkSession, snap: Snapshot,
      hit: Column): Option[Seq[String]] = {
    if (snap.partitionBy.isEmpty) return None
    val types = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    val pvs = snap.files.map(_.pv).distinct
    try {
      import scala.jdk.CollectionConverters._
      val rawSchema = StructType(
        StructField("__pv_ord", org.apache.spark.sql.types.IntegerType,
          nullable = false) +:
        snap.partitionBy.map(c =>
          StructField(s"__raw_$c", org.apache.spark.sql.types.StringType,
            nullable = true)))
      val rows = pvs.zipWithIndex.map { case (pv, i) =>
        Row.fromSeq(i +: snap.partitionBy.map(c =>
          pv.get(c).filterNot(_ == "__HIVE_DEFAULT_PARTITION__").orNull))
      }
      var df = spark.createDataFrame(rows.asJava, rawSchema)
      snap.partitionBy.foreach { c =>
        df = df.withColumn(c, col(s"__raw_$c").cast(types(c)))
      }
      // resolution throws here when `hit` names any non-partition column
      val filtered = df.filter(coalesce(hit, lit(false)))
      // a NONDETERMINISTIC predicate is not constant per partition — one
      // per-partition draw here would diverge from the per-row rewrite
      // (such predicates are already per-row-incoherent for DELETE, but
      // never make it worse); take the scan path
      val resolvedOk = filtered.queryExecution.analyzed.expressions
        .forall(_.deterministic)
      if (!resolvedOk) return None
      val hits = filtered
        .select(col("__pv_ord")).collect().map(_.getInt(0)).toSet
      val matched = hits.map(pvs)
      Some(snap.files.filter(f => matched.contains(f.pv)).map(_.path))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  /** Delta `OPTIMIZE` analogue: small-file compaction — rewrite the
    * current live set into `numFiles` files (removes all live files, adds
    * the compacted ones; history stays time-travelable until [[vacuum]]).
    * After N incremental appends a table accumulates N× the write
    * parallelism in small files; at 100 TB compaction targets ~128 MB-1 GB
    * per file so scans stay dominated by sequential reads, not file-open
    * overhead. */
  def compact(spark: SparkSession, path: String, numFiles: Int = 1): Long = {
    val snap = snapshot(path)
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v,
      readForRewrite(spark, path, snap, snap.files)
        .repartition(numFiles),
      snap.schema, snap.partitionBy, snap.physical, snap.generated,
      snap.properties)
    // maintenance reads nothing beyond its victims — winner appends
    // rebase freely (their files are not in the remove set)
    commit(path, snap, "OPTIMIZE", adds = adds, removes = snap.files.map(_.path),
      onLost = LostRace.Rebase(readConflict = None))
  }

  /** Change Data Feed (Delta `table_changes`): the row-level difference
    * between two versions, computed from ONLY the files the log says
    * changed — files carried forward by reference cancel by construction,
    * so cost is O(touched files), never O(table). Returns the union of
    * net-new rows (`_change_type = 'insert'`, covering inserts and
    * update post-images) and net-removed rows (`'delete'`, covering
    * deletes and update pre-images), as a multiset diff. Downstream
    * incremental consumers (the dbt-style use) apply inserts and retract
    * deletes. A SERVING surface: S63 governance applies (see the
    * governed-change-feed comment in the body). Derived-data refreshers
    * that fold deltas into stored state use [[changesRaw]] — folding a
    * governed delta into a raw accumulator drifts the result. */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): DataFrame =
    changesImpl(spark, path, fromVersion, toVersion, governed = true)

  /** The ungoverned change feed for REFRESH INTERNALS (IncrementalMv's
    * delta folds) — the CDF twin of [[readRaw]], package-private for
    * the same reason: derived-data maintenance must see STORED deltas
    * or the maintained state drifts; the policy belongs on the serving
    * read of the DERIVED table (and of this one). */
  private[graft] def changesRaw(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame =
    changesImpl(spark, path, fromVersion, toVersion, governed = false)

  /** Signed row-change view for AGGREGATE folding — every row of files
    * added in (from, to] carrying `_cdf_sign` +1 and of files removed
    * carrying −1, WITHOUT the row-level exceptAll cancellation
    * [[changesRaw]] performs. Rows a rewrite carried through unchanged
    * appear once with each sign and cancel ARITHMETICALLY in any per-key
    * sum/count fold (the sums ride exact DECIMAL/integer types), so a
    * consumer folding signed sums (the incremental-MV refresher) gets
    * identical aggregates from ONE map-side-combinable shuffle on the
    * group key instead of two whole-row exceptAll shuffles plus the agg
    * (guide §2.3: aggregate before you shuffle; §2.4: remove shuffles).
    * NOT a CDF surface: no _change_type labels, no per-commit
    * update_pre/postimage split — aggregate folding never needs them. */
  private[graft] def signedChangesRaw(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    val from = snapshot(path, Some(fromVersion))
    val to = snapshot(path, Some(toVersion))
    val fromKeys = from.files.map(f => (f.path, f.dv)).toSet
    val toKeys = to.files.map(f => (f.path, f.dv)).toSet
    val removedRows = readFiles(spark, path, to.schema,
      from.files.filterNot(f => toKeys.contains((f.path, f.dv))),
      to.partitionBy, to.physical)
    val addedRows = readFiles(spark, path, to.schema,
      to.files.filterNot(f => fromKeys.contains((f.path, f.dv))),
      to.partitionBy, to.physical)
    addedRows.withColumn("_cdf_sign", lit(1L))
      .unionByName(removedRows.withColumn("_cdf_sign", lit(-1L)))
  }

  private def changesImpl(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, governed: Boolean): DataFrame = {
    require(fromVersion <= toVersion, s"from $fromVersion > to $toVersion")
    val from = snapshot(path, Some(fromVersion))
    val to = snapshot(path, Some(toVersion))
    // identity = (path, dv): a deletion-vector change re-adds the same
    // physical file with a new DV, and the shared surviving rows cancel
    // in the exceptAll below — only the newly-deleted rows surface
    val fromKeys = from.files.map(f => (f.path, f.dv)).toSet
    val toKeys = to.files.map(f => (f.path, f.dv)).toSet
    // GOVERNED CHANGE FEED: the S63 serving projection (raw row
    // filter -> masks) applies to EACH IMAGE BEFORE the multiset diff,
    // under the policy at the `to` version, so the feed describes
    // changes to the GOVERNED VIEW — the deliberately-designed
    // semantics that replaced the earlier fail-closed refusal:
    //   * a filtered-out row's lifecycle emits NO events (its delete
    //     must not leak existence);
    //   * an update moving a row ACROSS the filter surfaces as a bare
    //     insert (entered the view) or delete (left the view);
    //   * masks apply identically to pre- and post-images, so a change
    //     visible only through a masked-away column CANCELS in the
    //     diff — correct: the governed view did not change;
    //   * exemption principals and the bypass conf see exactly what
    //     their batch read would (applyGovernance owns that logic).
    // Change-type labels still describe the COMMIT's operation;
    // governance only decides which rows are visible.
    // read through the LATER schema so evolved columns align (nulls for
    // rows from pre-evolution files)
    def serve(df: DataFrame): DataFrame =
      if (governed) applyGovernance(spark, df, to.properties) else df
    val removedRows = serve(readFiles(spark, path, to.schema,
      from.files.filterNot(f => toKeys.contains((f.path, f.dv))),
      to.partitionBy, to.physical))
    val addedRows = serve(readFiles(spark, path, to.schema,
      to.files.filterNot(f => fromKeys.contains((f.path, f.dv))),
      to.partitionBy, to.physical))
    // Delta CDF labels an UPDATE commit's rows update_preimage /
    // update_postimage instead of delete / insert. The distinction is
    // only well-defined PER COMMIT (an aggregate diff over many versions
    // mixes ops), so it applies exactly when this diff spans one commit
    // and that commit's header says UPDATE — which is how the streaming
    // CDF source always calls this.
    val (insLabel, delLabel) =
      if (toVersion == fromVersion + 1 &&
          commitHeader(path, toVersion)._1.contains("UPDATE"))
        ("update_postimage", "update_preimage")
      else ("insert", "delete")
    addedRows.exceptAll(removedRows).withColumn("_change_type", lit(insLabel))
      .unionByName(
        removedRows.exceptAll(addedRows).withColumn("_change_type", lit(delLabel)))
  }

  /** A partition-scope bound resolved to [[cmp]]'s comparable space,
    * validated EAGERLY: a bound value that cannot be interpreted as the
    * partition column's type (e.g. the SQL path handing a raw String for
    * an int/date column) must FAIL here, loudly — if it silently decayed
    * to "no bound" the `.forall` below would match every file and a
    * partition-scoped OPTIMIZE would rewrite the ENTIRE table, breaking
    * the untouched-partition file-identity contract streaming readers
    * depend on. */
  private case class ScopeBound(column: String, dt: DataType,
      lower: Option[Any], upper: Option[Any])

  private def resolveScopeBounds(snap: Snapshot, bounds: Seq[ColumnBound],
      op: String): Seq[ScopeBound] = {
    require(bounds.nonEmpty, s"$op needs at least one bound")
    require(bounds.forall(b => snap.partitionBy.contains(b.column)),
      s"bounds must name partition columns ${snap.partitionBy}; got " +
        bounds.map(_.column).mkString(", "))
    val types = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    bounds.map { b =>
      val dt = types(b.column)
      def res(side: String, v: Option[Any]): Option[Any] = v.map { raw =>
        // the SQL path (`OPTIMIZE … WHERE c = 'v'`) always hands a String;
        // parse it the same way logged partition values are decoded
        normBound(dt, raw)
          .orElse(raw match {
            case s: String => parsePartitionValue(dt, s)
            case _ => None
          })
          .getOrElse(throw new IllegalArgumentException(
            s"$op: $side bound for partition column ${b.column} " +
              s"($raw: ${raw.getClass.getSimpleName}) does not resolve to $dt"))
      }
      ScopeBound(b.column, dt, res("lower", b.lower), res("upper", b.upper))
    }
  }

  /** EXACT partition-value membership against resolved scope bounds (a
    * null partition never matches — `OPTIMIZE WHERE` must not silently
    * rewrite the null bucket). */
  private def partitionInScope(snap: Snapshot, resolved: Seq[ScopeBound],
      f: AddFile): Boolean =
    resolved.forall { b =>
      f.pv.get(b.column).filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
        .flatMap(parsePartitionValue(b.dt, _)) match {
        case Some(v) =>
          b.lower.forall(lo => cmp(b.dt, v, lo) >= 0) &&
            b.upper.forall(hi => cmp(b.dt, v, hi) <= 0)
        case None => false
      }
    }

  /** Partition-scoped OPTIMIZE (Delta `OPTIMIZE tbl WHERE part = x`):
    * compact ONLY the files whose logged partition values fall inside
    * `bounds` — the nightly maintenance shape for an append-heavy
    * partitioned table, where today's partition collects small files and
    * yesterday's are already packed. Bounds must name partition columns;
    * matching is EXACT against the log's partition values (a null
    * partition never matches — `OPTIMIZE WHERE` should not silently
    * rewrite the null bucket), so untouched partitions keep their file
    * identities (cheap CDF / streaming-source diffs). Cost is
    * O(matched partitions), never O(table). */
  def compactPartition(spark: SparkSession, path: String,
      bounds: Seq[ColumnBound], numFiles: Int = 1): Long = {
    val snap = snapshot(path)
    val resolved = resolveScopeBounds(snap, bounds, "compactPartition")
    val victims = snap.files.filter(partitionInScope(snap, resolved, _))
    if (victims.length <= 1) return snap.version
    val packed = readForRewrite(spark, path, snap, victims)
      .repartition(numFiles)
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, packed, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    commit(path, snap, "OPTIMIZE_PARTITION", adds = adds,
      removes = victims.map(_.path))
  }

  /** Bin-packing OPTIMIZE (what Delta's OPTIMIZE actually does): compact
    * ONLY files smaller than `minRows` rows, coalesced (no shuffle) into
    * ~`minRows`-sized files; full-size files are never rewritten. This is
    * the steady-state maintenance op for an append-heavy table: cost is
    * O(small files), not O(table) — at 100 TB, nightly OPTIMIZE touches
    * the day's small appends and nothing else. Returns the current
    * version unchanged when there is nothing to pack. */
  /** Delta `delta.autoOptimize.autoCompact` analogue (opt-in via
    * `graft.autoCompact = true`): after a file-ADDING commit (append /
    * appendOnce / COPY INTO — the ops that accumulate slivers), if the
    * table now holds at least `graft.autoCompact.minNumFiles` (default
    * 8) files under `graft.autoCompact.minRows` (default 1024) rows,
    * run [[compactSmall]] inline as a FOLLOW-UP commit. The triggering
    * write's version is returned unchanged; the compaction is its own
    * OPTIMIZE_SMALL log entry, exactly as if a manual OPTIMIZE had run
    * — logical content never changes, time travel sees both states.
    * Best-effort like Delta's auto compaction: a lost commit race never
    * fails the write that triggered it (the small files simply remain
    * for the next write to pick up). The threshold check is log-only
    * (file row counts ride the add actions), so a non-triggering write
    * pays zero extra I/O. */
  private def maybeAutoCompact(spark: SparkSession, path: String): Unit = {
    val snap = snapshot(path)
    def prop(key: String): Option[String] = snap.properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }
    val enabled = prop("graft.autoCompact")
      .exists(v => v.equalsIgnoreCase("true") || v == "1")
    if (!enabled) return
    val minRows = prop("graft.autoCompact.minRows")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(1024L)
    val minFiles = prop("graft.autoCompact.minNumFiles")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(8)
    if (snap.files.count(_.rows < minRows) >= minFiles)
      try compactSmall(spark, path, minRows)
      catch { case _: java.util.ConcurrentModificationException => () }
  }

  def compactSmall(spark: SparkSession, path: String, minRows: Long): Long = {
    val snap = snapshot(path)
    val small = snap.files.filter(_.rows < minRows)
    if (small.length <= 1) return snap.version
    val packed = readForRewrite(spark, path, snap, small)
      .coalesce(math.max(1L, small.map(_.rows).sum / minRows).toInt)
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, packed, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    commit(path, snap, "OPTIMIZE_SMALL", adds = adds, removes = small.map(_.path),
      onLost = LostRace.Rebase(readConflict = None))
  }

  /** Delta `REORG TABLE ... APPLY (PURGE)`: materialize soft deletes.
    * Rewrites ONLY the files carrying a deletion vector — their surviving
    * rows land in fresh files and the descriptor is dropped (its
    * `deletion_vector_*.bin` goes at the [[vacuum]] after no retained
    * version references it); every DV-free file is carried forward
    * untouched. Cost is O(DV'd file bytes), not O(table). Run it when
    * the DV anti-join tax outweighs the rewrite (or before
    * [[cloneShallow]], which requires a DV-free source). No-op (version
    * unchanged) when no file has a DV. */
  def reorgPurge(spark: SparkSession, path: String): Long = {
    val snap = snapshot(path)
    val dvFiles = snap.files.filter(_.dv.nonEmpty)
    if (dvFiles.isEmpty) return snap.version
    // readForRewrite applies the DV anti-join and re-attaches partition
    // columns, so this is exactly the surviving-row view of those files
    // (with row identity materialized on a row-tracked table).
    val survivors = readForRewrite(spark, path, snap, dvFiles)
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, survivors, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    commit(path, snap, "REORG", adds = adds, removes = dvFiles.map(_.path),
      onLost = LostRace.Rebase(readConflict = None))
  }

  /** `OPTIMIZE ... ZORDER BY` analogue: rewrite the live set
    * range-clustered on `cols` (repartitionByRange + local sort), so each
    * file covers a tight slice of the clustering key space and min/max
    * data skipping prunes aggressively — the Delta Z-order / liquid
    * clustering payoff, delivered with Spark's native range partitioner.
    * One shuffle over the table; run it at the cadence appends degrade
    * locality (like OPTIMIZE). History stays time-travelable. */
  def cluster(spark: SparkSession, path: String, cols: Seq[String],
      numFiles: Int): Long = {
    require(cols.nonEmpty, "clustering columns required")
    val snap = snapshot(path)
    val rewritten = readForRewrite(spark, path, snap, snap.files)
      .repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, rewritten, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    commit(path, snap, "CLUSTER", adds = adds, removes = snap.files.map(_.path))
  }

  /** True Z-order clustering on TWO bigint keys (`OPTIMIZE ZORDER BY
    * (a, b)`): rewrite the live set range-partitioned on the Morton
    * interleave of the keys (codegen'd
    * [[graft.functions.InterleaveBits]]), so each file covers a tight
    * 2-D box and min/max skipping prunes on EITHER column — where
    * [[cluster]]'s linear ordering only tightens the leading key. */
  def clusterZ(spark: SparkSession, path: String, colA: String, colB: String,
      numFiles: Int): Long = {
    graft.functions.GraftFunctions.register(spark)
    val snap = snapshot(path)
    val rewritten = readForRewrite(spark, path, snap, snap.files)
      .withColumn("__z", call_function(curveFn(snap.properties),
        col(colA).cast("long"), col(colB).cast("long")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, rewritten, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    commit(path, snap, "CLUSTER_Z", adds = adds, removes = snap.files.map(_.path))
  }

  /** Liquid-clustering-style INCREMENTAL clustering (Delta `CLUSTER BY`
    * + OPTIMIZE): rewrite ONLY the files that arrived since the last
    * clustering pass — appends, merges, compactions — into
    * clustering-ordered files (Morton for 2 columns, hierarchical range
    * sort otherwise), leaving every already-clustered file's identity
    * untouched. That is the liquid contract vs classic ZORDER: layout
    * maintenance cost tracks the NEW data (O(batch)), never the table
    * (O(100 TB)), at the price that each pass clusters its own increment
    * rather than re-interleaving the whole key space — periodic full
    * [[clusterZ]] remains available when global interleaving is worth
    * the rewrite. "Already clustered" is decided from the LOG alone:
    * after a pass every live file is clustered, so the candidates are
    * exactly the live files added by commits SINCE the last pass —
    * found via backward header reads + an O(delta-commits) add walk,
    * never a full-history replay. Declared via the
    * `graft.clusterBy` table property, which re-routes plain
    * [[compactSmall]]-style OPTIMIZE onto this path (the Databricks
    * OPTIMIZE-on-clustered-table behavior). */
  def clusterIncremental(spark: SparkSession, path: String,
      cols: Seq[String], numFiles: Int = 0): Long = {
    require(cols.nonEmpty, "clustering columns required")
    graft.functions.GraftFunctions.register(spark)
    // Snapshot-then-commit with NO retry would make OPTIMIZE on a
    // clustered table fail outright if a concurrent append lands between
    // the snapshot read and the commit — unlike other maintenance paths
    // there is no caller retry in the OPTIMIZE SQL command path. Retry the
    // whole read→cluster→commit cycle, re-resolving snapshot + candidate
    // set each attempt (the rewrite work is wasted on conflict, which is
    // the standard OCC trade — correctness first).
    var attempt = 0
    while (true) {
      try return clusterIncrementalOnce(spark, path, cols, numFiles)
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt >= 3) throw e
      }
    }
    -1L // unreachable
  }

  private def clusterIncrementalOnce(spark: SparkSession, path: String,
      cols: Seq[String], numFiles: Int): Long = {
    val snap = snapshot(path)
    // Provenance without a full-history walk: immediately after a
    // CLUSTER_INCREMENTAL commit EVERY live file is clustered (the pass
    // rewrites all candidates), so the unclustered set is exactly the
    // live files ADDED by commits AFTER the last pass — including
    // compaction rewrites (which destroy clustering order) and DV
    // re-adds. Find the last pass by reading version HEADERS backward
    // (one line each), then collect add paths from only the commits
    // since it: O(delta commits), not O(table age).
    // the backward header scan stops at the log-cleanup floor: below it
    // commit files were pruned, and "no pass found" already degrades
    // safely to the every-live-file first-pass rewrite
    val lastPass = (snap.version to earliestVersion(path).getOrElse(0L) by -1L)
      .find(v => commitHeader(path, v)._1.contains("CLUSTER_INCREMENTAL"))
    // First pass on a table: EVERY live file is a victim, so the add-walk
    // result would be discarded — skip the O(full history) JSON parsing
    // entirely and only walk commits when a prior pass bounds the range.
    val victims = lastPass match {
      case None => snap.files
      case Some(last) =>
        val addedSince = scala.collection.mutable.Set[String]()
        ((last + 1) to snap.version).foreach { v =>
          claimStore.readImmutable(logDir(path).resolve(s"$v.json"))
            .filter(_.nonEmpty).foreach { line =>
              parseLine(line) match {
                case JObject(fields) => fields.foreach {
                  case ("add", JObject(a)) =>
                    a.collectFirst { case ("path", JString(p)) => p }
                      .foreach(addedSince += _)
                  case _ => ()
                }
                case _ => ()
              }
            }
        }
        snap.files.filter(f => addedSince.contains(f.path))
    }
    if (victims.isEmpty) return snap.version
    val n = if (numFiles > 0) numFiles
      else math.max(1, math.ceil(victims.map(_.rows).sum / 500000.0).toInt)
    val base = readForRewrite(spark, path, snap, victims)
    val ordered = cols match {
      case Seq(a, b) =>
        base.withColumn("__z", call_function(curveFn(snap.properties),
            col(a).cast("long"), col(b).cast("long")))
          .repartitionByRange(n, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      case cs =>
        base.repartitionByRange(n, cs.map(col): _*)
          .sortWithinPartitions(cs.map(col): _*)
    }
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, ordered, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    commit(path, snap, "CLUSTER_INCREMENTAL", adds = adds,
      removes = victims.map(_.path))
  }

  /** The 2-D layout curve for clustering rewrites: `graft.cluster.curve
    * = hilbert` picks [[graft.functions.HilbertIndex]] (liquid
    * clustering's choice — consecutive curve intervals stay spatially
    * contiguous, no Z-diagonal jumps), default stays the Morton
    * interleave. The property rides table metadata, so every
    * clustering path — full, partition-scoped, incremental — agrees on
    * the curve without caller coordination. */
  private def curveFn(properties: Map[String, String]): String =
    properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase("graft.cluster.curve") => v
    }.map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case Some("hilbert") => "hilbert_index"
      case Some("zorder") | Some("morton") | None => "interleave_bits"
      case Some(other) => throw new IllegalArgumentException(
        s"unknown graft.cluster.curve '$other' (hilbert / zorder / morton)")
    }

  /** Clustering columns from the `graft.clusterBy` table property, if
    * declared (case-insensitive key — Spark lowercases option keys). */
  def clusterByColumns(properties: Map[String, String]): Seq[String] =
    properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase("graft.clusterBy") => v
    }.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Partition-scoped Z-order (`OPTIMIZE tbl WHERE part = x ZORDER BY
    * (a, b)`) — the nightly layout job for a partitioned table: rewrite
    * ONLY the bound partitions' files, Morton-ordered on (colA, colB)
    * within each partition, so 2-D data skipping tightens where new data
    * landed while every other partition keeps its file identities (cheap
    * CDF / streaming diffs). O(matched partitions), never O(table). */
  def clusterZPartition(spark: SparkSession, path: String,
      bounds: Seq[ColumnBound], colA: String, colB: String,
      numFiles: Int): Long = {
    graft.functions.GraftFunctions.register(spark)
    val snap = snapshot(path)
    val resolved = resolveScopeBounds(snap, bounds, "clusterZPartition")
    val victims = snap.files.filter(partitionInScope(snap, resolved, _))
    if (victims.isEmpty) return snap.version
    val rewritten = readForRewrite(spark, path, snap, victims)
      .withColumn("__z", call_function(curveFn(snap.properties),
        col(colA).cast("long"), col(colB).cast("long")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val v = snap.version + 1
    val adds = writeData(spark, root(path), v, rewritten, snap.schema,
      snap.partitionBy, snap.physical, snap.generated, snap.properties)
    commit(path, snap, "CLUSTER_Z_PARTITION", adds = adds,
      removes = victims.map(_.path))
  }

  /** `DESCRIBE DETAIL` analogue: one-row table summary from the log
    * alone (no data read) — current version, row/file counts, partition
    * columns, constraint count, and how many files are by-reference
    * (shallow-clone) vs owned. */
  def detail(spark: SparkSession, path: String): DataFrame = {
    val snap = snapshot(path)
    val absolute = snap.files.count(f => Paths.get(f.path).isAbsolute)
    val row = Row(snap.version, snap.totalRows, snap.totalBytes,
      snap.files.length,
      snap.files.length - absolute, absolute,
      snap.partitionBy.mkString(","), snap.constraints.size,
      snap.generated.toSeq.sortBy(_._1)
        .map { case (c, e) => s"$c=$e" }.mkString(","),
      snap.identity.toSeq.sortBy(_._1).map { case (c, ic) =>
        s"$c(start=${ic.start},step=${ic.step}" +
          ic.highWater.map(h => s",highWater=$h").getOrElse("") + ")"
      }.mkString(","),
      snap.properties.toSeq.sortBy(_._1)
        .map { case (k, x) => s"$k=$x" }.mkString(","),
      snap.schema.json)
    val sch = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("num_rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("num_files", IntegerType, nullable = false),
      StructField("num_owned_files", IntegerType, nullable = false),
      StructField("num_referenced_files", IntegerType, nullable = false),
      StructField("partition_columns", StringType, nullable = false),
      StructField("num_constraints", IntegerType, nullable = false),
      StructField("generated_columns", StringType, nullable = false),
      StructField("identity_columns", StringType, nullable = false),
      StructField("properties", StringType, nullable = false),
      StructField("schema_json", StringType, nullable = false)))
    spark.createDataFrame(java.util.List.of(row), sch)
  }

  /** Earliest commit file still present in the log (0 for its whole
    * life unless [[cleanupLogs]] has pruned history). */
  def earliestVersion(path: String): Option[Long] =
    claimStore.listLog(logDir(path))
      .filter(_.matches("""\d+\.json"""))
      .map(_.stripSuffix(".json").toLong)
      .minOption

  /** Delete EXPIRED COMMIT LOG files (Delta's `logRetentionDuration`
    * cleanup, version-addressed like [[vacuum]]): at 100-TB scale the
    * metadata grows without bound — one JSON file per commit forever —
    * and log listing/replay cost grows with it, so real Delta prunes
    * commits older than the retention window once a checkpoint covers
    * them. Semantics:
    *
    *   - the newest `keepVersions` versions stay time-travelable
    *     (default: the `graft.retention.logKeepVersions` table property,
    *     else 30);
    *   - the ANCHOR is the newest checkpoint at or below the earliest
    *     retained version; commits and checkpoints STRICTLY below the
    *     anchor are deleted. Retained-range replay resolves from the
    *     anchor checkpoint — which therefore becomes load-bearing (the
    *     pre-cleanup invariant "checkpoints are only an optimization"
    *     ends at the anchor, exactly Delta's contract);
    *   - no checkpoint at or below the earliest retained version ⇒
    *     nothing is deleted (never cut the replay chain);
    *   - v2-manifest deletion orphans its unshared sidecars; the
    *     age-floored [[gcSidecars]] pass collects them;
    *   - time travel below the anchor then fails LOUDLY with a
    *     "pruned by log cleanup" error (see [[snapshot]]), never a
    *     misleading "never committed".
    *
    * Returns the number of log files deleted (commit files + checkpoint
    * files/dirs). `dryRun` reports without deleting. */
  def cleanupLogs(path: String, keepVersions: Int = -1,
      dryRun: Boolean = false): Int = {
    val latest = latestVersion(path)
      .getOrElse(throw new IllegalArgumentException(s"no DeltaLite table at $path"))
    val keep =
      if (keepVersions >= 0) keepVersions
      else snapshot(path).properties.collectFirst {
        case (k, v) if k.equalsIgnoreCase("graft.retention.logKeepVersions") => v
      }.flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(30)
    val earliestRetained = math.max(0L, latest - keep + 1)
    // anchor on ANY checkpoint form — replay needs a live session for
    // the sidecar and legacy parquet forms, but every query path here
    // runs with one
    val ld = logDir(path)
    val names = claimStore.listLog(ld)
    val anchor = checkpointRefs(path, names, sessionOk = true)
      .map(_.version).filter(_ <= earliestRetained).maxOption match {
      case Some(cv) => cv
      case None => return 0 // no safe anchor: refuse to cut the chain
    }
    if (anchor <= 0L) return 0
    val victims = names.filter { n =>
        if (n.matches("""\d+\.json""")) n.stripSuffix(".json").toLong < anchor
        else checkpointName(n).exists(_.version < anchor)
      }.toList
    if (!dryRun) {
      victims.foreach(n => claimStore.deleteLog(ld.resolve(n)))
      gcSidecars(path)
      // the cached tip snapshot stays valid (cleanup never touches the
      // retained range), but a cached PRE-anchor historical state cannot
      // exist in snapCache (only tips are cached) — nothing to invalidate
    }
    victims.size
  }

  /** Table-relative names of every file the newest `keepVersions`
    * snapshots reference — data files plus the `deletion_vector_*.bin`
    * files their descriptors resolve to. -1 = "table default": the
    * graft.retention.keepVersions property (the
    * deletedFileRetentionDuration analogue for a version-addressed log),
    * else 1 — so an ops-set retention policy travels WITH the table
    * instead of living in every caller's cron job. */
  private def retainedFiles(path: String, keepVersions: Int): Set[String] = {
    val latest = latestVersion(path)
      .getOrElse(throw new IllegalArgumentException(s"no DeltaLite table at $path"))
    val keep =
      if (keepVersions >= 0) keepVersions
      else snapshot(path).properties.collectFirst {
        case (k, v) if k.equalsIgnoreCase("graft.retention.keepVersions") => v
      }.flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(1)
    val r = root(path)
    (math.max(0L, latest - keep + 1) to latest).flatMap { v =>
      snapshot(path, Some(v)).files.flatMap(f => f.path +:
        f.dv.filter(_.storageType != "i").map(d =>
          r.relativize(DeletionVectors.dvFilePath(r, d)).toString).toSeq)
    }.toSet
  }

  /** The name of a deletion-vector file
    * ([[DeletionVectors.writeDvFilePacked]]) — with `.parquet`, what
    * VACUUM may reclaim. */
  private val DvFileName = """deletion_vector_[^/]*\.bin"""

  /** Physically delete data and deletion-vector files not referenced by
    * the newest `keepVersions` snapshots (Delta `VACUUM`): the retention
    * boundary — time travel older than that stops working, by design.
    * Returns the deleted file count. `dryRun` (Delta `VACUUM ... DRY
    * RUN`) reports the victim count without deleting anything. */
  def vacuum(path: String, keepVersions: Int = -1,
      dryRun: Boolean = false): Int = {
    val referenced = retainedFiles(path, keepVersions)
    val r = root(path)
    val all = Files.walk(r)
    try {
      val victims = all.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          (p.toString.endsWith(".parquet") ||
            p.getFileName.toString.matches(DvFileName)))
        .map(p => r.relativize(p).toString)
        // the log dirs hold parquet CHECKPOINT parts, not data files —
        // never vacuum metadata. `_delta_log/` covers CONVERT FROM
        // DELTA tables, where a standard Delta log coexists beside the
        // graft one and its checkpoint parquets must survive a graft
        // VACUUM (review finding: `_last_checkpoint` would otherwise
        // dangle for foreign readers).
        .filterNot(_.startsWith("_graft_log/"))
        .filterNot(_.startsWith("_delta_log/"))
        .filterNot(referenced.contains)
        .toList
      if (!dryRun) victims.foreach(p => Files.delete(r.resolve(p)))
      victims.size
    } finally all.close()
  }

  /** Inventory-based VACUUM — Delta's `VACUUM … USING INVENTORY` shape.
    *
    * [[vacuum]] discovers candidates with a recursive directory walk; on
    * object stores at 100 TB that LISTING — billions of keys, throttled
    * paginated API calls — is the vacuum bottleneck, which is why Delta
    * accepts a pre-computed file inventory (e.g. an S3 Inventory / GCS
    * Storage Insights report) as the candidate source instead. Here the
    * inventory is a DataFrame with a string `path` column of
    * table-root-relative file paths, and the dead-file set is computed as
    * a DISTRIBUTED anti-join (inventory ∖ referenced), so no single
    * machine ever materializes the file census. Deletion likewise runs
    * per-partition on executors — O(victims / parallelism) wall clock.
    *
    * Safety rules match [[vacuum]]: only `.parquet` and
    * `deletion_vector_*.bin` files, never the log dir, never a file a
    * retained version references, and — because an inventory row is
    * UNTRUSTED input — any path that escapes the table root (`..`,
    * absolute) is ignored rather than resolved.
    * Staleness is safe in one direction only: files missing from the
    * inventory are simply not collected this pass (a newer file listed by
    * an old inventory can't be deleted either — it's referenced by the
    * CURRENT snapshots read here, not the inventory's vintage).
    */
  def vacuumInventory(spark: SparkSession, path: String, inventory: DataFrame,
      keepVersions: Int = -1, dryRun: Boolean = false): Long = {
    import spark.implicits._
    val refDf = retainedFiles(path, keepVersions).toSeq.toDF("path")
    val victims = inventory
      .select(col("path").cast("string").as("path"))
      .filter(col("path").endsWith(".parquet") ||
        col("path").rlike(s"(^|/)$DvFileName$$"))
      .filter(!col("path").startsWith("_graft_log/"))
      .filter(!col("path").startsWith("_delta_log/"))
      .filter(!col("path").startsWith("/") && !col("path").contains(".."))
      .join(refDf, Seq("path"), "left_anti")
    if (dryRun) victims.count()
    else {
      val rootStr = root(path).toString
      val deleted = spark.sparkContext.longAccumulator("vacuum_inventory_deleted")
      victims.select("path").as[String].foreachPartition { it: Iterator[String] =>
        it.foreach { rel =>
          val p = Paths.get(rootStr).resolve(rel).normalize()
          if (p.startsWith(rootStr) && Files.deleteIfExists(p)) deleted.add(1)
        }
      }
      deleted.value
    }
  }
}
