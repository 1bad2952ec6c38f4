package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.LogFileScan
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** STANDARD Delta-protocol interop — the reference stack's actual
  * on-disk format. dbt-duckdb + delta-rs (the reference's declared
  * stack) write real Delta tables: parquet data files plus a
  * `_delta_log/<20-digit-version>.json` commit log of `add` / `remove`
  * / `metaData` / `protocol` actions (delta.io PROTOCOL.md — public
  * spec). A user arriving from the reference has those directories on
  * disk; this module lets the engine READ them natively, time-travel
  * them, adopt them zero-copy into graft-delta (`CONVERT FROM DELTA`),
  * and hand tables BACK as minimal-protocol Delta (`exportToDelta`) so
  * the reference stack can keep consuming the results.
  *
  * Scope, stated plainly (a declined feature must fail LOUDLY, never
  * read wrong rows):
  *   - protocol: minReaderVersion 1 and 2, including column mapping
  *     modes `name` (the physical names feed graft's own
  *     logical→physical read aliasing) and `id` (Delta's
  *     `delta.columnMapping.id` translates to `parquet.field.id`
  *     metadata and Spark's field-id reader resolves columns by id —
  *     file column names are free to differ from physicalName);
  *     minReaderVersion 3 only when every `readerFeatures` entry is in
  *     [[SupportedReaderFeatures]]. Everything else throws, naming the
  *     feature.
  *   - deletion vectors READ natively ([[DeletionVectors]] decodes the
  *     protocol's roaring-bitmap format — u/p/i storage): snapshot and
  *     pruned reads anti-filter the deleted row indexes, the change
  *     feed diffs DV flips into row-level deletes/restores, the
  *     streaming source treats a DV flip as the rewrite it is, and
  *     CONVERT adopts the descriptors unchanged (the native log stores
  *     DVs in the same format) — zero data-file or DV-file copies.
  *     Unsupported DV STORAGE types decline loudly, naming them.
  *   - checkpoints: classic parquet checkpoints, single-part
  *     (`<v>.checkpoint.parquet`) and multi-part
  *     (`<v>.checkpoint.<i>.<n>.parquet`), AND v2/UUID checkpoints
  *     (`<v>.checkpoint.<uniqueStr>.{json|parquet}` manifests with
  *     `checkpointMetadata` validation and `_sidecars/` replay) all
  *     reconstruct snapshots — a log-cleaned table stays readable
  *     whichever checkpoint shape its writer left behind. A missing
  *     sidecar or multi-part piece throws; half a state never serves.
  *
  * Mechanics: this module is the PROTOCOL.md CODEC of the one log
  * replayer both logs share ([[DeltaLite.replayLog]]): it lists
  * `_delta_log`, discovers its checkpoints, decodes commit lines and
  * checkpoint rows into [[DeltaLite.LogAction]]s (stats, percent-encoded
  * paths, column-mapping field ids and physical partition keys, DV
  * descriptors, (path, DV)-exact removes with tombstones) and gates the
  * result ([[checkProtocol]]). The replayer owns the rest — the
  * per-log-directory tip cache, checkpoint selection, and the one fold
  * ([[DeltaLite.fold]]) into [[DeltaLite.Snapshot]], the same state
  * model the native format uses — so EVERYTHING downstream is shared,
  * not re-implemented: the Hive-layout partition re-attachment, the
  * min/max stats file pruning ([[DeltaLite.pruneFiles]] — Delta's
  * `stats` JSON decodes into the same typed bounds), the
  * BranchFilePruning scan tagging, and the `graft-delta` V1 relation.
  * At 100 TB a cold replay is one driver pass over log JSON + at most
  * one Spark job over checkpoint parquet — metadata-proportional,
  * exactly delta-spark's own Snapshot cost shape — and a warm one folds
  * only the commits after the cached tip.
  *
  * Write-side: the mutating exports commit through the SAME
  * claim-and-retry loop the native format uses
  * ([[DeltaLite.claimLoop]]) — `<v>.json` is CLAIMED (conditional-PUT
  * semantics, exactly one winner, ambiguity resolved by read-back
  * compare). Of the loop's three lost-race rules (reapply, rebase,
  * decline) the exports take the rebuild form: a lost race re-replays
  * and each export's build closure REBUILDS the commit against the new
  * state, declining whatever it cannot rebase ([[rebuildOnTip]]) — so
  * concurrent writers (including the reference stack racing the
  * exporter) interleave instead of clobbering. Row-level DML —
  * `exportDeleteWhere`, `exportUpdateWhere`, `exportMerge`, the dbt
  * incremental `delete` / `merge` traffic — is the deletion-vector
  * tail over the one row locator both logs share
  * ([[DeltaLite.locateRows]]: stats-pruned candidates, one positional
  * read, the matched live rows): each export gates the table, cuts
  * the matched rows, writes their DVs
  * ([[DeltaLite.writeDeletionVectors]]) and commits through
  * [[dvFlipCommit]]. The native log's copy-on-write DML is the other
  * tail over the same locator. Whole-partition deletes
  * (`exportDeletePartition`) stay remove actions only, zero rewrite.
  */
object DeltaInterop {

  import DeltaLite.{AddFile, ColStats, LogAction, LogListing, Snapshot, longOf}

  private def root(path: String): Path =
    Paths.get(path).toAbsolutePath.normalize()
  private[graft] def logDir(path: String): Path =
    root(path).resolve("_delta_log")

  /** Reader features this module actually implements. `timestampNtz`
    * and `vacuumProtocolCheck`/`v2Checkpoint` gate nothing on our read
    * path (NTZ is a native Spark type; vacuum is write-side; v2
    * checkpoints are never REQUIRED while JSON commits are retained —
    * see the class doc for when their absence throws). */
  private[graft] val SupportedReaderFeatures: Set[String] =
    Set("timestampNtz", "vacuumProtocolCheck", "v2Checkpoint",
      "columnMapping", "deletionVectors")

  /** A directory is a standard Delta table iff `_delta_log/` holds at
    * least one versioned commit or checkpoint (classic or v2). */
  def isStandardDelta(path: String): Boolean = DeltaLog.list(path).latest.nonEmpty

  private def listLog(path: String): Seq[String] = {
    val d = logDir(path)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  private def commitVersionsOf(names: Seq[String]): Seq[Long] =
    names.filter(_.matches("""\d{20}\.json"""))
      .map(_.stripSuffix(".json").toLong).sorted

  /** The commit-range walkers (CDF, history, streaming) need only the
    * JSON commit versions — one listing each. */
  private def commitVersions(path: String): Seq[Long] =
    commitVersionsOf(listLog(path))

  /** Classic parquet checkpoints present AND COMPLETE in the log,
    * version → parts. A multi-part checkpoint (`<v>.checkpoint.<i>.<n>
    * .parquet`) counts only when ALL n parts are present — replaying a
    * partial one would silently drop the missing parts' add actions
    * (wrong rows, the one outcome this module must never produce), so
    * an incomplete set is treated as no checkpoint at that version and
    * replay falls back to JSON commits or an older checkpoint. */
  private def checkpointsOf(path: String,
      names: Seq[String]): Map[Long, Seq[Path]] = {
    val d = logDir(path)
    val single = """(\d{20})\.checkpoint\.parquet""".r
    val multi = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
    val singles = names.collect { case n @ single(v) =>
      v.toLong -> Seq(d.resolve(n)) }.toMap
    val multis = names.collect { case n @ multi(v, i, t) =>
      (v.toLong, i.toInt, t.toInt, d.resolve(n)) }
      .groupBy(_._1).flatMap { case (v, parts) =>
        val total = parts.head._3
        val complete = parts.map(_._3).forall(_ == total) &&
          parts.map(_._2).toSet == (1 to total).toSet
        if (complete) Some(v -> parts.sortBy(_._2).map(_._4)) else None
      }
    singles ++ multis
  }

  /** V2 (UUID-named) checkpoints — PROTOCOL.md "V2 Checkpoints":
    * `<v>.checkpoint.<uniqueStr>.{json|parquet}` manifests carrying a
    * `checkpointMetadata` action, the snapshot actions, and optional
    * `sidecar` references into `_delta_log/_sidecars/`. Version →
    * manifest (newest uniqueStr arbitrary — any manifest at a version
    * restates the same state, per spec). The classic multi-part
    * pattern (`<v>.checkpoint.<i>.<n>.parquet`) cannot collide: its
    * uniqueStr would need an interior dot. */
  private def v2CheckpointsOf(path: String,
      names: Seq[String]): Map[Long, Path] = {
    val d = logDir(path)
    val v2 = """(\d{20})\.checkpoint\.([A-Za-z0-9_-]+)\.(json|parquet)""".r
    names.collect {
      case n @ v2(v, _, _) => v.toLong -> d.resolve(n)
    }.toMap
  }

  /** Every checkpoint present and complete in the log: version → its
    * classic parts (Left) or its v2 manifest (Right). A version with
    * both restates one state twice; the classic one serves it (a single
    * read, no sidecars). */
  private def checkpointFiles(path: String,
      names: Seq[String]): Map[Long, Either[Seq[Path], Path]] =
    v2CheckpointsOf(path, names).map { case (v, m) =>
      v -> (Right(m): Either[Seq[Path], Path]) } ++
      checkpointsOf(path, names).map { case (v, ps) => v -> Left(ps) }

  def latestVersion(path: String): Option[Long] = DeltaLog.list(path).latest

  // ------------------------------------------------------------- replay

  /** The PROTOCOL.md codec of the shared replayer
    * ([[DeltaLite.replayLog]]): `<20-digit>.json` commits listed and
    * read on the filesystem (the standard `_delta_log` is the foreign
    * stack's directory), classic and v2 checkpoints ([[checkpointFiles]]),
    * [[deltaActions]] decoding, and the [[checkProtocol]] read gate. */
  private object DeltaLog extends DeltaLite.LogCodec {
    def logDir(path: String): Path = DeltaInterop.logDir(path)

    def list(path: String): LogListing = {
      val names = listLog(path)
      val jsons = commitVersionsOf(names)
      LogListing(names, jsons.toSet,
        (jsons ++ checkpointFiles(path, names).keys).maxOption)
    }

    def target(path: String, log: LogListing, asOf: Option[Long]): Long = {
      val latest = log.latest.getOrElse(
        sys.error(s"no standard Delta log at $path"))
      val target = asOf.getOrElse(latest)
      require(target <= latest && (log.commits(target) ||
          checkpointFiles(path, log.names).contains(target)),
        s"version $target does not exist at $path (latest: $latest)")
      target
    }

    // a checkpoint restates the complete state at its version as action
    // rows — one Spark job (plus one per sidecar set), metadata-proportional
    def checkpoints(spark: Option[SparkSession], path: String,
        log: LogListing, v: Long): Seq[(Long, () => Seq[LogAction])] =
      checkpointFiles(path, log.names).toSeq.filter(_._1 <= v)
        .sortBy(-_._1).map { case (cp, files) =>
          cp -> (() => deltaActions(files match {
            case Left(parts) => spark.get.read.parquet(parts.map(_.toString): _*)
              .toJSON.collect().toSeq.map(JsonMethods.parse(_))
            case Right(manifest) =>
              v2CheckpointActions(spark.get, path, cp, manifest)
          }, s"checkpoint $cp"))
        }

    def commit(path: String, v: Long): Seq[LogAction] =
      deltaActions(commitLines(path, v), s"commit $v")

    def gate(path: String, snap: Snapshot): Unit = {
      require(snap.schema != null,
        s"no metaData action found replaying $path to version ${snap.version}")
      checkProtocol(path, snap)
    }
  }

  private def commitLines(path: String, v: Long): Seq[JValue] =
    Files.readAllLines(logDir(path).resolve(f"$v%020d.json")).asScala
      .filter(_.nonEmpty).toSeq.map(JsonMethods.parse(_))

  /** Delta `add.path`/`remove.path` are RFC 2396 percent-encoded
    * relative URIs (PROTOCOL.md "Add File and Remove File"). */
  private def decodePath(p: String): String =
    try new java.net.URI(p).getPath catch { case _: Exception => p }

  private def encodePath(p: String): String =
    new java.net.URI(null, null, p, null).getRawPath

  private def stringsOf(j: Option[JValue]): Option[Seq[String]] =
    j.collect { case JArray(xs) => xs.collect { case JString(x) => x } }

  /** The PROTOCOL.md codec: a commit's action lines, or a checkpoint's
    * rows, → [[LogAction]]s. commitInfo / cdc / domainMetadata carry no
    * snapshot state (a table REQUIRING them to read gates via protocol
    * features). */
  private def deltaActions(actions: Seq[JValue], where: String): Seq[LogAction] =
    actions.flatMap {
      case JObject(fields) => fields.flatMap {
        case ("metaData", JObject(m)) =>
          Some(LogAction.Meta(deltaMeta(m.toMap, where)))
        case ("protocol", JObject(p)) =>
          val pm = p.toMap
          Some(LogAction.SetProtocol(DeltaLite.Protocol(
            longOf(pm.get("minReaderVersion")).fold(1)(_.toInt),
            stringsOf(pm.get("readerFeatures")).getOrElse(Nil),
            longOf(pm.get("minWriterVersion")).fold(1)(_.toInt),
            stringsOf(pm.get("writerFeatures")).getOrElse(Nil))))
        case ("add", JObject(a)) => Some(deltaAdd(a.toMap, where))
        case ("remove", JObject(r)) =>
          val rm = r.toMap
          // Delta reconciliation identifies a LOGICAL file by (path,
          // deletionVector.uniqueId), and line order within a commit is
          // not guaranteed — a DV-flip commit may order [add(path,
          // newDV), remove(path, oldDV)]; a path-only eviction there
          // would drop the whole file. So the remove evicts on an EXACT
          // identity match and tombstones its identity — a tombstone
          // keyed by (path, DV) never shadows the post-flip live file,
          // and restates into checkpoints whatever the line order.
          // deletionTimestamp is optional; an absent one is 0 (already
          // aged out) — wall clock would make replays non-deterministic
          // and pin the tombstone in every future checkpoint.
          rm.get("path").collect { case JString(p) =>
            LogAction.Remove(decodePath(p),
              rm.get("deletionVector").collect { case o @ JObject(_) =>
                DeletionVectors.parseJValue(o, where) },
              longOf(rm.get("deletionTimestamp")).getOrElse(0L),
              exactDv = true)
          }
        case ("txn", JObject(t)) =>
          val tm = t.toMap
          for {
            app <- tm.get("appId").collect { case JString(x) => x }
            ver <- longOf(tm.get("version"))
          } yield LogAction.Txn(app, ver)
        case _ => None
      }
      case _ => Nil
    }

  /** A Delta add. Its `deletionVector` descriptor parses into
    * `AddFile.dv`, the typed slot the native log fills (an unsupported
    * STORAGE type fails loudly at bitmapBytes time, naming it). Under
    * column mapping Delta keys partitionValues by PHYSICAL name; graft's
    * model (pruneFiles' pv fallback, attachPartitionCols) wants logical
    * keys. A JSON-null partition value is a null partition (an absent
    * key reads as null, the Hive default). */
  private def deltaAdd(am: Map[String, JValue], where: String): LogAction = {
    val dv = am.get("deletionVector") match {
      case Some(o @ JObject(_)) => Some(DeletionVectors.parseJValue(o, where))
      case Some(JNull) | None => None
      case Some(_) => sys.error(s"$where: malformed deletionVector on add action")
    }
    val rel = decodePath(am.get("path").collect { case JString(s) => s }
      .getOrElse(sys.error(s"$where: add action without path")))
    val rawPv = am.get("partitionValues") match {
      case Some(JObject(vals)) => vals.collect { case (c, JString(s)) => c -> s }
      case _ => Nil
    }
    val stats = am.get("stats").collect { case JString(s) if s.nonEmpty => s }
    val bytes = longOf(am.get("size")).getOrElse(0L)
    val mtime = longOf(am.get("modificationTime"))
    LogAction.Add { meta =>
      val (rows, colStats) = stats.fold((0L, Map.empty[String, ColStats]))(
        parseStats(_, meta.schema, meta.partitionBy, meta.physical))
      AddFile(rel, rows, colStats, dv,
        rawPv.map { case (c, s) => meta.physToLogical.getOrElse(c, c) -> s }.toMap,
        bytes = bytes, mtime = mtime)
    }
  }

  /** A Delta metaData action. Its `id` is restated verbatim by
    * checkpoints (a fresh random id per checkpoint would change table
    * identity under foreign streaming queries that pin it). */
  private def deltaMeta(m: Map[String, JValue],
      where: String): Snapshot => Snapshot = {
    m.get("format").foreach {
      case JObject(f) => f.toMap.get("provider").foreach {
        case JString(p) => require(p.equalsIgnoreCase("parquet"),
          s"$where: unsupported data format '$p' (parquet only)")
        case _ => ()
      }
      case _ => ()
    }
    val id = m.get("id").collect { case JString(i) => i }
    // Delta's schemaString IS Spark's StructType JSON dialect —
    // including the column-mapping field metadata
    val schema = m.get("schemaString").collect { case JString(s) =>
      DataType.fromJson(s).asInstanceOf[StructType] }
    val partitionBy = stringsOf(m.get("partitionColumns"))
    val config = m.get("configuration").collect { case JObject(cs) =>
      cs.collect { case (k, JString(v)) => k -> v }.toMap }
    meta => {
      val conf = config.getOrElse(meta.properties)
      val sch = schema.getOrElse(meta.schema)
      meta.copy(tableId = id.orElse(meta.tableId),
        schema =
          if (conf.get("delta.columnMapping.mode").contains("id") && sch != null)
            withFieldIds(sch)
          else sch,
        // column mapping `name` mode: logical → physical parquet name,
        // from `delta.columnMapping.physicalName` field metadata
        physical = schema.fold(meta.physical)(_.fields.flatMap { f =>
          if (f.metadata.contains("delta.columnMapping.physicalName"))
            Some(f.name ->
              f.metadata.getString("delta.columnMapping.physicalName"))
          else None
        }.toMap),
        partitionBy = partitionBy.getOrElse(meta.partitionBy),
        properties = conf)
    }
  }

  /** `id` mapping mode: parquet columns resolve by FIELD ID, not name
    * (the file's column names are free to differ from physicalName —
    * iceberg-converted tables do). Spark's reader speaks field ids
    * natively when the read schema carries `parquet.field.id` metadata,
    * so Delta's `delta.columnMapping.id` translates into it once at
    * replay — every downstream read (snapshot scans, row-position DV
    * reads, CDF) inherits the id-resolving schema through the shared
    * physSchema copy. */
  private def withFieldIds(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (f.metadata.contains("delta.columnMapping.id") &&
          !f.metadata.contains("parquet.field.id"))
        f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("parquet.field.id",
            f.metadata.getLong("delta.columnMapping.id"))
          .build())
      else f
    })

  /** `numRecords` of an add's `stats` JSON, read with a streaming parser
    * that skips every other field unparsed (the per-column min/max/null
    * payloads); 0 when the field is absent or not an integer, or when
    * the JSON is malformed before it. */
  private def numRecordsOf(statsJson: String): Long = {
    val p = statsJsonFactory.createParser(statsJson)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) return 0L
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        if (p.nextToken() == JsonToken.VALUE_NUMBER_INT && name == "numRecords")
          return p.getLongValue
        p.skipChildren()
      }
      0L
    } catch { case _: java.io.IOException => 0L } finally p.close()
  }
  private val statsJsonFactory = new JsonFactory

  /** Delta per-file `stats` JSON → (numRecords, typed graft ColStats).
    * Values land in the DECODED representation [[DeltaLite]] prunes on
    * (epoch-day / epoch-micros longs for temporal types), so
    * `pruneFiles` treats an interop snapshot exactly like a native one.
    * Unparseable or unknown-typed values drop to no-stat (pruning is
    * only ever an optimization). Delta may truncate string maxValues to
    * a 32-char prefix with the last char incremented — still a valid
    * upper bound, used as-is. Nested-struct stats are skipped (we never
    * prune on nested fields). */
  private def parseStats(statsJson: String, schema: StructType,
      partitionBy: Seq[String],
      physical: Map[String, String] = Map.empty)
      : (Long, Map[String, ColStats]) = {
    // stats are keyed by the PHYSICAL column name (identity when the
    // table has no mapping) — exactly how graft's own AddFile.stats
    // are keyed, so the decoded map feeds pruneFiles unchanged
    val types: Map[String, DataType] =
      if (schema == null) Map.empty
      else schema.fields.filterNot(f => partitionBy.contains(f.name))
        .map(f => physical.getOrElse(f.name, f.name) -> f.dataType).toMap
    try {
      val o = JsonMethods.parse(statsJson) match {
        case JObject(fs) => fs.toMap
        case _ => return (0L, Map.empty)
      }
      val rows = longOf(o.get("numRecords")).getOrElse(0L)
      def side(key: String): Map[String, Any] = o.get(key) match {
        case Some(JObject(cols)) => cols.flatMap { case (c, v) =>
          types.get(c).flatMap(dt => decodeDeltaStat(dt, v)).map(c -> _)
        }.toMap
        case _ => Map.empty
      }
      val mins = side("minValues")
      val maxs = side("maxValues")
      val stats = (mins.keySet ++ maxs.keySet).map(c =>
        c -> ColStats(mins.get(c), maxs.get(c))).toMap
      (rows, stats)
    } catch { case _: Exception => (0L, Map.empty) }
  }

  /** One Delta-JSON stat value → graft's decoded representation.
    * PROTOCOL.md "Per-file statistics": dates as `yyyy-MM-dd` strings,
    * timestamps as ISO-8601 strings (with offset for TIMESTAMP, naive
    * for TIMESTAMP_NTZ), numbers as JSON numbers. */
  private def decodeDeltaStat(dt: DataType, j: JValue): Option[Any] =
    try (dt, j) match {
      case (_, JNull | JNothing) => None
      case (ByteType | ShortType | IntegerType | LongType, JInt(i)) =>
        Some(i.toLong)
      case (ByteType | ShortType | IntegerType | LongType, JLong(l)) =>
        Some(l)
      case (FloatType | DoubleType, JDouble(d)) => Some(d)
      case (FloatType | DoubleType, JDecimal(d)) => Some(d.toDouble)
      case (FloatType | DoubleType, JInt(i)) => Some(i.toDouble)
      case (FloatType | DoubleType, JLong(l)) => Some(l.toDouble)
      case (_: DecimalType, JDecimal(d)) => Some(d)
      case (_: DecimalType, JInt(i)) => Some(BigDecimal(i))
      case (_: DecimalType, JLong(l)) => Some(BigDecimal(l))
      case (_: DecimalType, JDouble(d)) => Some(BigDecimal(d))
      case (_: DecimalType, JString(s)) => Some(BigDecimal(s))
      case (StringType, JString(s)) => Some(s)
      case (DateType, JString(s)) =>
        Some(java.time.LocalDate.parse(s).toEpochDay)
      case (TimestampType | TimestampNTZType, JString(s)) =>
        Some(parseIsoMicros(s))
      case _ => None
    } catch { case _: Exception => None }

  /** ISO-8601 (with or without offset) → epoch micros. */
  private def parseIsoMicros(s: String): Long = {
    val inst =
      try java.time.OffsetDateTime.parse(s).toInstant
      catch { case _: Exception =>
        java.time.LocalDateTime.parse(s)
          .toInstant(java.time.ZoneOffset.UTC)
      }
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** The standard log at `asOf` (default latest) in graft's snapshot
    * model: the PROTOCOL.md codec through the shared replayer
    * ([[DeltaLite.replayLog]] — tip cache, then the newest checkpoint at
    * or below the target whose later commits are all present, else every
    * commit from version 0). Throws — naming what's missing — when
    * neither can reconstruct the state. */
  def snapshot(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Snapshot =
    DeltaLite.replayLog(DeltaLog, Some(spark), path, asOf)

  /** One v2 checkpoint manifest → the full action row set: validates
    * the mandatory `checkpointMetadata` (its declared version must
    * match the file name — a copied manifest must never replay as the
    * wrong version), then appends the referenced sidecar files'
    * add/remove rows. A MISSING sidecar fails loudly — replaying
    * without it would silently drop its file actions, the wrong-rows
    * outcome this module never produces. `checkpointMetadata` and
    * `sidecar` keys are inert in [[deltaActions]], so the combined row
    * set replays through the one shared path. */
  private def v2CheckpointActions(spark: SparkSession, path: String,
      cp: Long, manifest: Path): Seq[JValue] = {
    val raw: Seq[JValue] =
      if (manifest.toString.endsWith(".json"))
        Files.readAllLines(manifest).asScala.filter(_.nonEmpty).toSeq
          .map(JsonMethods.parse(_))
      else spark.read.parquet(manifest.toString)
        .toJSON.collect().toSeq.map(JsonMethods.parse(_))
    def field(jv: JValue, k: String): Option[Map[String, JValue]] =
      jv match {
        case JObject(fs) => fs.collectFirst {
          case (`k`, JObject(o)) => o.toMap }
        case _ => None
      }
    val metas = raw.flatMap(field(_, "checkpointMetadata"))
    require(metas.nonEmpty,
      s"v2 checkpoint $manifest carries no checkpointMetadata action " +
        "(mandatory per spec) — refusing to replay an unidentified " +
        "manifest")
    metas.foreach { m =>
      val v = longOf(m.get("version"))
      require(v.contains(cp),
        s"v2 checkpoint $manifest declares version " +
          s"${v.getOrElse("<none>")} but is named for version $cp")
    }
    val sidecarActions: Seq[JValue] = {
      val refs = raw.flatMap(field(_, "sidecar")).map(s =>
        s.get("path").collect { case JString(p) => p }.getOrElse(
          sys.error(s"v2 checkpoint $manifest: sidecar action " +
            "without a path")))
      if (refs.isEmpty) Nil
      else {
        val sdir = logDir(path).resolve("_sidecars")
        val files = refs.map { p =>
          val cand = Paths.get(decodePath(p))
          val resolved = if (cand.isAbsolute) cand else sdir.resolve(cand)
          require(Files.isRegularFile(resolved),
            s"sidecar '$p' of v2 checkpoint $manifest is missing — " +
              "replaying without it would silently drop its file actions")
          resolved.toString
        }
        spark.read.parquet(files: _*)
          .toJSON.collect().toSeq.map(JsonMethods.parse(_))
      }
    }
    raw ++ sidecarActions
  }

  private def checkProtocol(path: String, snap: Snapshot): Unit = {
    val mappingMode = snap.properties.getOrElse("delta.columnMapping.mode", "none")
    // `name` mode reads natively: the physical names feed the SAME
    // logical→physical aliasing graft's own RENAME COLUMN machinery
    // uses in readFiles. `id` mode reads by parquet FIELD ID (the
    // translated parquet.field.id metadata + Spark's field-id reader —
    // see withFieldIds); anything else declines loudly.
    require(mappingMode == "none" || mappingMode == "name" ||
        mappingMode == "id",
      s"$path requires column mapping mode '$mappingMode' — unsupported")
    require(mappingMode == "none" || (snap.schema != null &&
        snap.schema.fields.forall(f =>
          f.metadata.contains("delta.columnMapping.physicalName"))),
      s"$path declares column mapping mode '$mappingMode' but not EVERY " +
        "field carries delta.columnMapping.physicalName metadata — a " +
        "partially-mapped schema would silently resolve the unmapped " +
        "columns by the wrong (logical) name")
    require(mappingMode != "id" ||
        snap.schema.fields.forall(f =>
          f.metadata.contains("delta.columnMapping.id")),
      s"$path declares column mapping mode 'id' but not EVERY field " +
        "carries delta.columnMapping.id metadata — field-id resolution " +
        "would silently miss the unmapped columns")
    val proto = snap.protocol
    if (proto.minReader >= 3) {
      val unsupported = proto.readerFeatures.filterNot(SupportedReaderFeatures)
      require(unsupported.isEmpty,
        s"$path requires reader features ${unsupported.mkString(", ")} — " +
          s"unsupported (this reader implements: " +
          s"${SupportedReaderFeatures.toSeq.sorted.mkString(", ")})")
    } else require(proto.minReader <= 2,
      s"$path requires minReaderVersion ${proto.minReader} — unsupported")
  }

  // -------------------------------------------------------------- reads

  /** Snapshot read of a standard Delta table — one parquet scan over
    * exactly the live files, schema from the log, Hive-partition
    * columns re-attached as typed literals from `partitionValues`
    * (all via [[DeltaLite.readFiles]] — shared machinery, not a port). */
  def read(spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, path, asOf)
    stripFieldIds(readLive(spark, path, snap.schema, snap.files,
      snap.partitionBy, snap.physical, snap.properties))
  }

  /** Spark's parquet reader resolves columns by FIELD ID (instead of
    * name) only under this conf; flip it on lazily the first time an
    * id-mapped schema (carrying the translated `parquet.field.id`
    * metadata — see withFieldIds) reaches a read. The conf is
    * SESSION-GLOBAL and consumed at plan time (ParquetFileFormat
    * re-sets the hadoopConf key from the session conf, so a per-read
    * option cannot scope it) — schemas without the metadata keep
    * resolving by name, and [[stripFieldIds]] keeps the metadata from
    * leaking out through returned frames, so the only reads whose
    * semantics change are ones whose requested schema EXPLICITLY
    * carries `parquet.field.id` — i.e. callers who opted into id
    * resolution (review finding). */
  private def ensureFieldIdRead(spark: SparkSession,
      schema: StructType): Unit =
    if (schema != null && schema.fields.exists(
        _.metadata.contains("parquet.field.id")))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** The translated `parquet.field.id` metadata must not LEAK out of
    * the interop read: [[ensureFieldIdRead]] leaves the session's
    * field-id reader on, so a caller who copies a returned frame's
    * schema to read OTHER parquet would silently switch that read from
    * by-name to by-id resolution (erroring on id-less files, or worse,
    * resolving different columns — review finding). Aliases with
    * explicit stripped metadata; identity when nothing to strip. */
  private def stripFieldIds(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(_.metadata.contains("parquet.field.id")))
      df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.schema.fields.map { f =>
        val m = new MetadataBuilder().withMetadata(f.metadata)
          .remove("parquet.field.id").build()
        col(f.name).as(f.name, m)
      }.toSeq: _*)
    }

  /** Snapshot-file read with deletion vectors applied — the native
    * log's reader ([[DeltaLite.readFiles]]) over this log's files. */
  private def readLive(spark: SparkSession, path: String,
      schema: StructType, files: Seq[AddFile], partitionBy: Seq[String],
      physical: Map[String, String], props: Map[String, String])
      : DataFrame = {
    ensureFieldIdRead(spark, schema)
    DeltaLite.readFiles(spark, path, schema, files, partitionBy, physical,
      props)
  }

  /** Rows of `files` AT the given positions only (the change-feed's
    * "exactly the newly-deleted/restored rows" read): the files' own
    * DVs are dropped from the positional read so their deleted rows
    * can be selected. */
  private def readOnlyPositions(spark: SparkSession, path: String,
      schema: StructType, files: Seq[AddFile], partitionBy: Seq[String],
      physical: Map[String, String], props: Map[String, String],
      pos: DataFrame, estBytes: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    ensureFieldIdRead(spark, schema)
    DeltaLite.requireNoPosCollision(schema, physical,
      "deletion-vector change feed")
    val withPos = DeltaLite.readFilesWithPos(spark, path, schema,
      files.map(_.copy(dv = None)), partitionBy, physical, props)
    val dvSide =
      if (estBytes <= DeltaLite.BroadcastDvMaxBytes) broadcast(pos) else pos
    withPos.join(dvSide,
      col("path") === col("__dv_path") &&
        col("row_index") === col("__dv_ri"), "left_semi")
      .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** Stats-pruned read: files whose logged min/max (or partition
    * values) prove no row can match `bounds` are never opened — Delta's
    * `stats` JSON feeds the exact same [[DeltaLite.pruneFiles]] core
    * the native format uses. */
  def scan(spark: SparkSession, path: String,
      bounds: Seq[DeltaLite.ColumnBound],
      asOf: Option[Long] = None): DataFrame =
    scanSnapshot(spark, path, snapshot(spark, path, asOf), bounds)

  /** [[scan]] over an ALREADY-REPLAYED snapshot — the V1 relation
    * replays once for its schema and reuses that state for every
    * buildScan instead of re-walking the log per scan (review
    * finding: the interop path paid two full replays per query while
    * the native twin served from its snapshot cache). */
  private[sources] def scanSnapshot(spark: SparkSession, path: String,
      snap: Snapshot, bounds: Seq[DeltaLite.ColumnBound]): DataFrame =
    // DV files' rows/stats are PHYSICAL upper bounds (a DV only ever
    // removes rows), so stats pruning stays sound before the DV
    // anti-filter applies
    readLive(spark, path, snap.schema,
      DeltaLite.pruneFiles(snap, bounds),
      snap.partitionBy, snap.physical, snap.properties)

  // ------------------------------------------------- per-commit folding

  /** Per-THREAD commits-parsed counter — the O(range)-not-O(range²)
    * pin's measurement hook: the fold-pin test diffs it around a call
    * (suites run in parallel, so a global counter would absorb other
    * threads' folds; construction runs on the calling thread, so the
    * thread-local sees exactly this call's work). */
  private[graft] val foldedCommitsLocal = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** One parsed add/remove/cdc action of a commit (raw partition-value
    * keys — PHYSICAL under column mapping; consumers translate). `dv`
    * is the add action's deletionVector descriptor, when present. */
  private final case class CommitAct(kind: String, rel: String,
      rawPv: Map[String, String], dataChange: Boolean,
      dv: Option[DeletionVectors.Descriptor] = None)

  /** THE per-commit fold both [[tableChanges]] and
    * [[readVersionAppends]] run on (review finding: two drifting
    * copies of the replay skeleton): verifies the range's commit JSONs
    * still exist (a checkpoint restates STATE, not per-commit
    * changes), seeds the state at `from - 1` (one snapshot — uses a
    * checkpoint when available), then per commit parses the action
    * lines ONCE, hands the consumer the pre-commit live-file map plus
    * the commit's visible actions, advances the snapshot through the
    * commit with the shared [[DeltaLite.fold]], and re-gates the
    * protocol. The consumer sees the snapshot AFTER the commit applied
    * (the at-v schema/partition/physical view). */
  private def foldCommitRange[A](spark: SparkSession, path: String,
      from: Long, to: Long, what: String)(
      consume: (Long, Snapshot, Map[String, AddFile], Seq[CommitAct]) => A)
      : Seq[A] = {
    val jsons = commitVersions(path)
    val jsonSet = jsons.toSet
    (from to to).foreach(v => require(jsonSet.contains(v),
      s"$what unavailable for version $v at $path: its commit JSON " +
        "has been cleaned up (a checkpoint restates STATE, not " +
        "per-commit changes); earliest JSON commit: " +
        s"${jsons.headOption.getOrElse(-1L)}"))
    var snap =
      if (from > 0) snapshot(spark, path, Some(from - 1))
      else DeltaLite.Unreplayed
    (from to to).map { v =>
      foldedCommitsLocal.set(foldedCommitsLocal.get() + 1L)
      val parsed = commitLines(path, v)
      val prevFiles = snap.byPath
      val acts = parsed.flatMap {
        case JObject(fields) => fields.collectFirst {
          case (k @ ("add" | "remove" | "cdc"), JObject(a)) =>
            val am = a.toMap
            CommitAct(k,
              decodePath(am.get("path").collect { case JString(x) => x }
                .getOrElse(sys.error(
                  s"commit $v at $path: $k action without a path"))),
              am.get("partitionValues") match {
                case Some(JObject(vals)) =>
                  vals.collect { case (c, JString(x)) => c -> x }.toMap
                case _ => Map.empty[String, String]
              },
              am.get("dataChange") match {
                case Some(JBool(b)) => b
                case _ => true // absent = data-changing
              },
              dv = if (k != "add") None
                else am.get("deletionVector").collect {
                  case o @ JObject(_) =>
                    DeletionVectors.parseJValue(o, s"commit $v")
                })
        }
        case _ => None
        // cdc actions carry dataChange=false BY SPEC (they describe
        // the change, they don't change the table) — the flag only
        // gates add/remove visibility
      }.filter(a => a.kind == "cdc" || a.dataChange)
      snap = DeltaLite.fold(snap,
        Iterator(v -> deltaActions(parsed, s"commit $v")))
      checkProtocol(path, snap)
      consume(v, snap, prevFiles, acts)
    }
  }

  // ---------------------------------------------------------------- CDF

  /** Row-level CHANGE FEED over a standard Delta table — Delta's
    * `table_changes(from, to)` semantics (both bounds inclusive;
    * version 0 delivers the initial contents as inserts):
    *
    *   - a commit's `add` actions with `dataChange = true` surface as
    *     `insert` rows; its `remove` actions (dataChange = true) as
    *     `delete` rows, read from the files' pre-commit content;
    *   - `dataChange = false` actions are INVISIBLE — an OPTIMIZE /
    *     compaction rewrite moves bytes, not rows, and a feed that
    *     re-emitted them would double-apply every row downstream;
    *   - when a commit carries `cdc` actions (a writer materialized
    *     change files under `_change_data/`), those files are the ONLY
    *     source for that commit (PROTOCOL.md's CDF rule — the
    *     add/remove actions of an UPDATE don't distinguish
    *     update_preimage from delete).
    *
    * Output: table columns + `_change_type` + `_commit_version`.
    * Scale: per commit one pass over only the files that commit
    * touched — the same O(changed files) shape as the native
    * [[DeltaLite.changes]]; schema/partition context replays per
    * version (driver-side log work). */
  def tableChanges(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"invalid change range [$fromVersion, $toVersion]")
    import org.apache.spark.sql.functions.{col, lit}
    var lastSchema: StructType = null
    val perCommit = foldCommitRange(spark, path, fromVersion, toVersion,
        "change feed") { (v, snap, prevFiles, acts) =>
      val schema = snap.schema
      lastSchema = schema
      val partitionBy = snap.partitionBy
      val physical = snap.physical
      def phys(c: String) = physical.getOrElse(c, c)
      val cdcs = acts.filter(_.kind == "cdc")
      if (cdcs.nonEmpty) {
        // cdc files carry the table columns + _change_type as DATA;
        // their partitionValues are raw (physical under mapping)
        ensureFieldIdRead(spark, schema)
        val p2l = snap.physToLogical
        val dataFields = schema.fields
          .filterNot(f => partitionBy.contains(f.name))
          .map(f => f.copy(name = phys(f.name)))
        val cdcSchema = StructType(dataFields :+
          StructField("_change_type", StringType))
        val r = root(path)
        val frames = cdcs
          .map(a => a.copy(rawPv = a.rawPv.map { case (k, x) =>
            p2l.getOrElse(k, k) -> x }))
          .groupBy(_.rawPv).toSeq.sortBy(_._1.toString)
          .map { case (pv, group) =>
            val base = LogFileScan.frame(spark, r, group.map(_.rel), cdcSchema)
              .select(schema.fields
                .filterNot(f => partitionBy.contains(f.name))
                .map(f => col(phys(f.name)).as(f.name)).toSeq :+
                col("_change_type"): _*)
            partitionBy.foldLeft(base) { (d, c) =>
              val dt = schema(c).dataType
              d.withColumn(c, pv.get(c)
                .map(x => lit(x).cast(dt)).getOrElse(lit(null).cast(dt)))
            }.select(schema.fieldNames.map(col).toSeq :+
              col("_change_type"): _*)
          }
        Some(frames.reduce(_ unionByName _)
          .withColumn("_commit_version", lit(v)))
      } else {
        val addActs = acts.filter(_.kind == "add")
        val addRelSet = addActs.map(_.rel).toSet
        // a path that was live at v-1 and is RE-ADDED here is a DV flip
        // (or an idempotent re-add): its row-level changes are the DV
        // DIFF, not a wholesale re-insert — re-emitting the surviving
        // rows would double-apply them downstream, the same failure
        // class as surfacing a compaction
        val (readds, freshActs) =
          addActs.partition(a => prevFiles.contains(a.rel))
        val freshRels = freshActs.map(_.rel).toSet
        val fresh = snap.files.filter(f => freshRels.contains(f.path))
        val removedOnly = acts
          .filter(a => a.kind == "remove" && !addRelSet.contains(a.rel))
          .map { a =>
            prevFiles.getOrElse(a.rel, sys.error(
              s"commit $v at $path removes '${a.rel}', which is not a " +
                s"live file at version ${v - 1} — the change feed cannot " +
                "reconstruct its deleted rows (corrupt or externally " +
                "modified log)"))
          }
        // fresh inserts and whole-file deletes apply each file's own DV
        // (an added file can be BORN with a DV; a removed file's
        // pre-commit content excludes its already-deleted rows)
        def readAs(files: Seq[AddFile], label: String) =
          readLive(spark, path, schema, files, partitionBy, physical,
            snap.properties)
            .withColumn("_change_type", lit(label))
        val flipFrames: Seq[DataFrame] = if (readds.isEmpty) Nil else {
          val flipFiles = readds.map(a => prevFiles(a.rel))
          val (newPos, newBytes) = DeltaLite.dvPositionsFrame(spark, path,
            readds.flatMap(a => a.dv.map(a.rel -> _)))
          val (oldPos, oldBytes) = DeltaLite.dvPositionsFrame(spark, path,
            flipFiles.flatMap(f => f.dv.map(f.path -> _)))
          def diff(a: DataFrame, b: DataFrame): DataFrame =
            a.join(b.withColumnRenamed("__dv_path", "__o_p")
                .withColumnRenamed("__dv_ri", "__o_r"),
              col("__dv_path") === col("__o_p") &&
                col("__dv_ri") === col("__o_r"), "left_anti")
          // newly-deleted rows (in the new DV, not the old) are deletes;
          // restored rows (dropped from the DV) are inserts
          Seq(
            readOnlyPositions(spark, path, schema, flipFiles, partitionBy,
              physical, snap.properties, diff(newPos, oldPos), newBytes)
              .withColumn("_change_type", lit("delete")),
            readOnlyPositions(spark, path, schema, flipFiles, partitionBy,
              physical, snap.properties, diff(oldPos, newPos), oldBytes)
              .withColumn("_change_type", lit("insert")))
        }
        (if (fresh.nonEmpty) Some(readAs(fresh, "insert")) else None)
          .toSeq ++
          (if (removedOnly.nonEmpty)
            Some(readAs(removedOnly, "delete")) else None) ++
          flipFrames match {
          case Nil => None
          case fs => Some(fs.reduce(_ unionByName _)
            .withColumn("_commit_version", lit(v)))
        }
      }
    }
    stripFieldIds(perCommit.flatten.reduceOption(_ unionByName _).getOrElse {
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(lastSchema.fields ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_version", LongType, nullable = false))))
    })
  }

  /** The files version `v`'s commit ADDED (dataChange only), read as
    * rows with the at-v schema — the streaming-source batch unit over
    * a standard log. `allowRewrites=false` (Delta's streaming default)
    * throws on a data-changing remove in range: a MERGE/DELETE rewrote
    * rows the stream already delivered, and silently re-reading the
    * rewritten files would duplicate them downstream. Returns per
    * version so the caller controls batching; one pass over each
    * commit's own actions — O(touched files), like [[tableChanges]]. */
  def readVersionAppends(spark: SparkSession, path: String,
      fromExclusive: Option[Long], toVersion: Long,
      allowRewrites: Boolean = false,
      emptySchema: Option[StructType] = None): DataFrame = {
    val from = fromExclusive.map(_ + 1L).getOrElse(0L)
    if (from > toVersion) {
      // empty range (restart replays, startingVersion ahead of the
      // log): serve the caller-cached schema instead of paying a full
      // snapshot replay per empty micro-batch (review finding)
      val sch = emptySchema.getOrElse(
        snapshot(spark, path, Some(toVersion)).schema)
      return stripFieldIds(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), sch))
    }
    foldCommitRange(spark, path, from, toVersion, "streaming read") {
        (v, snap, prevFiles, acts) =>
      // a DV flip on an already-live path IS a rewrite: the stream
      // delivered those rows already and the new add re-describes them
      val dvFlip = acts.exists(a =>
        a.kind == "add" && prevFiles.contains(a.rel))
      require((!acts.exists(_.kind == "remove") && !dvFlip) ||
          allowRewrites,
        s"version $v at $path rewrote or deleted rows mid-stream — a " +
          "version-offset stream would re-deliver or lose them; pass " +
          "ignoreChanges=true to accept re-delivered rewritten rows " +
          "(Delta's contract)")
      val addRels = acts.iterator.filter(_.kind == "add").map(_.rel).toSet
      val files = snap.files.filter(f => addRels.contains(f.path))
      // files carry their DV markers — delivery excludes deleted rows
      readLive(spark, path, snap.schema, files,
        snap.partitionBy, snap.physical, snap.properties)
    }.reduce(_ unionByName _).transform(stripFieldIds)
  }

  /** `TIMESTAMP AS OF`: the last version committed at or before `tsMs`
    * — `commitInfo.timestamp` when the commit carries one, else the
    * commit file's modification time (Delta's documented fallback). */
  def versionAtTimestamp(path: String, tsMs: Long): Long = {
    val vs = commitVersions(path)
    require(vs.nonEmpty, s"no standard Delta log at $path")
    val stamped = vs.map(v => v -> commitTimestamp(path, v))
    val at = stamped.filter(_._2 <= tsMs).map(_._1)
    require(at.nonEmpty,
      s"no commit at or before timestamp $tsMs at $path " +
        s"(earliest: ${stamped.head._2})")
    at.max
  }

  private def commitTimestamp(path: String, v: Long): Long = {
    val f = logDir(path).resolve(f"$v%020d.json")
    val fromInfo = Files.readAllLines(f).asScala.iterator
      .filter(_.contains("\"commitInfo\""))
      .map(JsonMethods.parse(_)).collectFirst {
        case JObject(fs) => fs.collectFirst {
          case ("commitInfo", JObject(ci)) => ci.collectFirst {
            case ("timestamp", JLong(t)) => t
            case ("timestamp", JInt(t)) => t.toLong
          }
        }.flatten
      }.flatten
    fromInfo.getOrElse(Files.getLastModifiedTime(f).toMillis)
  }

  /** `DESCRIBE HISTORY` rows for a standard Delta table — per commit:
    * version, operation, timestamp, add/remove action counts, and the
    * rows added (sum of the adds' stats numRecords; 0 when the writer
    * recorded no stats). One driver pass over each commit's JSON. */
  private[graft] def historyRows(path: String)
      : Seq[(Long, String, Long, Int, Int, Long)] =
    commitVersions(path).map { v =>
      var op = ""
      var ts = -1L
      var nAdd = 0
      var nRemove = 0
      var rowsAdded = 0L
      commitLines(path, v).foreach {
        case JObject(fields) => fields.foreach {
          case ("commitInfo", JObject(ci)) =>
            val cm = ci.toMap
            cm.get("operation").foreach {
              case JString(o) => op = o; case _ => () }
            longOf(cm.get("timestamp")).foreach(ts = _)
          case ("add", JObject(a)) =>
            nAdd += 1
            a.toMap.get("stats").foreach {
              case JString(x) if x.nonEmpty => rowsAdded += numRecordsOf(x)
              case _ => ()
            }
          case ("remove", _) => nRemove += 1
          case _ => ()
        }
        case _ => ()
      }
      (v, op, if (ts >= 0) ts else commitTimestamp(path, v),
        nAdd, nRemove, rowsAdded)
    }

  /** Commit history of a standard Delta table: (version, timestamp,
    * operation) — operation from `commitInfo` when present. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    historyRows(path).map { case (v, op, ts, _, _, _) =>
      (v, new java.sql.Timestamp(ts), op)
    }.toDF("version", "timestamp", "operation")
  }

  // ---------------------------------------------- CONVERT FROM DELTA

  /** Adopt a standard Delta table as a graft-delta table IN PLACE —
    * zero copy: graft's version 0 re-states the Delta snapshot's live
    * file set (stats, partition values, sizes, deletion-vector
    * descriptors and all — both logs store DVs in the one standard
    * format, so the `deletion_vector_*.bin` files are adopted as they
    * are; `txn` app versions carry over so idempotent-append dedup
    * survives the switch). The `_delta_log` stays untouched beside the new
    * `_graft_log`; after convert the table has graft's FULL write
    * surface — nothing distinguishes adopted files from written ones.
    * The 100 TB migration path: one driver-side log replay, no data
    * movement. */
  def convertFromDelta(spark: SparkSession, path: String,
      asOf: Option[Long] = None): Long = {
    require(DeltaLite.latestVersion(path).isEmpty,
      s"a graft-delta table already exists at $path")
    val snap = snapshot(spark, path, asOf)
    // `id`-mapped adoption declines: the native read path resolves
    // parquet columns by (physical) NAME, and id-mode files are free
    // to name columns anything (iceberg-converted tables do) — an
    // adopted table could silently read NULLs. Reading/streaming the
    // table through the interop surfaces keeps working.
    require(!snap.properties.get("delta.columnMapping.mode").contains("id"),
      s"CONVERT FROM DELTA on $path: the table uses column mapping " +
        "mode 'id' — graft's native reader resolves by physical name, " +
        "which id-mode files do not guarantee; keep reading it through " +
        "the interop surfaces instead")
    val props =
      if (snap.files.forall(_.dv.isEmpty)) snap.properties
      else DeltaLite.withFeature(snap.properties, "deletionVectors",
        reader = true)
    DeltaLite.commit(path, DeltaLite.NoTable, "CONVERT_FROM_DELTA",
      next = DeltaLite.NoTable.copy(schema = snap.schema,
        partitionBy = snap.partitionBy, physical = snap.physical,
        // delta.* table configuration is provenance, not behavior, on
        // the graft side — carried so SHOW TBLPROPERTIES tells the story
        properties = props),
      adds = snap.files, txns = snap.txns.toSeq)
  }

  // ------------------------------------------------------------ export

  /** Create a standard Delta table at `path` from `df` — the
    * interchange EXPORT: protocol (1, 2) + metaData + stats-bearing
    * adds, readable by delta-rs/dbt-duckdb/delta-spark (and
    * round-trip-tested against this module's own reader). Single-writer
    * by contract (see class doc). Returns version 0. */
  def exportToDelta(spark: SparkSession, df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Long = {
    require(!isStandardDelta(path) && DeltaLite.latestVersion(path).isEmpty,
      s"a table already exists at $path")
    val dir = root(path)
    Files.createDirectories(dir)
    val adds = writeDataFiles(spark, df, dir, partitionBy)
    val schema = df.schema
    val metaData = JObject(List(
      "id" -> JString(java.util.UUID.randomUUID.toString),
      "format" -> JObject(List("provider" -> JString("parquet"),
        "options" -> JObject(Nil))),
      "schemaString" -> JString(schema.json),
      "partitionColumns" -> JArray(partitionBy.map(JString(_)).toList),
      "configuration" -> JObject(Nil),
      "createdTime" -> JLong(System.currentTimeMillis())))
    val lines =
      Seq(JsonMethods.compact(JObject(List("protocol" -> JObject(List(
          "minReaderVersion" -> JInt(1), "minWriterVersion" -> JInt(2))))))) ++
        Seq(JsonMethods.compact(JObject(List("metaData" -> metaData)))) ++
        adds.map(a => JsonMethods.compact(encodeDeltaAdd(a, schema))) :+
        commitInfoLine("WRITE")
    // a lost CREATE claim is not rebase-able — another writer owns the
    // table now; say so instead of surfacing a raw claim collision
    DeltaLite.claimLoop(-1L)(v => writeCommitFile(path, v + 1, lines)) {
      (_, _) => throw new IllegalStateException(
        s"exportToDelta on $path: a concurrent writer created the table first")
    }
  }

  /** Append `df` to a standard Delta table — one adds-only commit
    * (Delta does not restate metaData per commit). */
  def exportAppend(spark: SparkSession, df: DataFrame, path: String): Long = {
    val snap0 = snapshot(spark, path)
    requireWritable(snap0, path, "exportAppend", removesRows = false)
    requireUnmapped(snap0, path, "exportAppend")
    requireSchemaMatch(df, snap0, path, "exportAppend")
    val adds = writeDataFiles(spark, df, root(path), snap0.partitionBy)
    DeltaLite.claimLoop(snap0) { snap =>
      requireWritable(snap, path, "exportAppend", removesRows = false)
      requireUnmapped(snap, path, "exportAppend")
      requireSchemaMatch(df, snap, path, "exportAppend")
      requireSameLayout(snap, snap0, path, "exportAppend")
      writeCommitFile(path, snap.version + 1,
        adds.map(a => JsonMethods.compact(encodeDeltaAdd(a, snap.schema))) :+
          commitInfoLine("WRITE"))
    }(rebuildOnTip(spark, path, "exportAppend"))
  }

  /** OCC-rebase gate twin of the writability checks: the staged data
    * files were laid out (Hive directories + per-add partitionValues)
    * under the PRE-STAGING partitioning — if a racing foreign writer
    * changed the table's partitioning (overwriteSchema with the same
    * columns passes the schema gate), committing the staged adds would
    * attach stale partitionValues and foreign readers would re-attach
    * the partition columns as NULL (review finding). Decline loudly;
    * the caller re-stages against fresh state. */
  private def requireSameLayout(snap: Snapshot, snap0: Snapshot, path: String,
      op: String): Unit =
    require(snap.partitionBy == snap0.partitionBy,
      s"$op on $path: the table's partitioning changed concurrently " +
        s"(${snap0.partitionBy.mkString(",")} -> " +
        s"${snap.partitionBy.mkString(",")}) — the staged files follow " +
        "the old layout; re-run the export against the new state")

  /** OVERWRITE the table's contents in one commit — delta-rs's
    * `mode="overwrite"` (the reference stack's most common write):
    * the new batch's adds plus a data-changing remove of every
    * previously-live file, atomically versioned, history still
    * time-travelable. Schema must match (overwrite-with-evolution is
    * the native format's job). */
  def exportOverwrite(spark: SparkSession, df: DataFrame,
      path: String): Long = {
    val snap0 = snapshot(spark, path)
    requireWritable(snap0, path, "exportOverwrite", removesRows = true)
    requireUnmapped(snap0, path, "exportOverwrite")
    requireSchemaMatch(df, snap0, path, "exportOverwrite")
    val adds = writeDataFiles(spark, df, root(path), snap0.partitionBy)
    DeltaLite.claimLoop(snap0) { snap =>
      requireWritable(snap, path, "exportOverwrite", removesRows = true)
      requireUnmapped(snap, path, "exportOverwrite")
      requireSchemaMatch(df, snap, path, "exportOverwrite")
      requireSameLayout(snap, snap0, path, "exportOverwrite")
      val now = System.currentTimeMillis()
      // the CURRENT live set per attempt — a rebase removes the racing
      // writer's files too, which is exactly what overwrite means
      writeCommitFile(path, snap.version + 1,
        adds.map(a => JsonMethods.compact(encodeDeltaAdd(a, snap.schema))) ++
          snap.files.map(f => removeLine(f, now)) :+
          commitInfoLine("WRITE"))
    }(rebuildOnTip(spark, path, "exportOverwrite"))
  }

  /** Partition-aligned DELETE on a standard Delta table: every live
    * file whose `partitionValues` carry `column = value` is removed in
    * one metadata-only commit — zero data rewritten, the delete shape
    * that stays O(log) at 100 TB. Row-level deletes are
    * [[exportDeleteWhere]]'s (deletion vectors). */
  def exportDeletePartition(spark: SparkSession, path: String,
      column: String, value: String): Long = {
    DeltaLite.claimLoop(snapshot(spark, path)) { snap =>
      requireWritable(snap, path, "exportDeletePartition", removesRows = true,
        writesRows = false)
      require(snap.partitionBy.contains(column),
        s"'$column' is not a partition column of $path " +
          s"(partitioned by: ${snap.partitionBy.mkString(", ")})")
      val doomed = snap.files.filter(_.pv.get(column).contains(value))
      require(doomed.nonEmpty, s"no live files with $column=$value at $path")
      val now = System.currentTimeMillis()
      writeCommitFile(path, snap.version + 1,
        doomed.map(removeLine(_, now)) :+ commitInfoLine("DELETE"))
    }(rebuildOnTip(spark, path, "exportDeletePartition"))
  }

  /** The gates every row-level DV export passes first, in order:
    * writability, unmapped columns, the row-position collision check. */
  private def requireDvWritable(snap: Snapshot, path: String, op: String,
      commitOp: String, writesRows: Boolean): Unit = {
    requireWritable(snap, path, op, removesRows = true, writesRows = writesRows)
    requireUnmapped(snap, path, op)
    DeltaLite.requireNoPosCollision(snap.schema, snap.physical,
      s"deletion-vector ${commitOp.toLowerCase}")
  }

  /** The predicate exports' locate step ([[exportDeleteWhere]], and
    * [[exportUpdateWhere]] with its `set`), in order: the DV gates, the
    * SET's column names, a no-op on a table with no live file, the DV
    * determinism decline of the predicate and of the SET expressions
    * (they re-evaluate on rebase retries and feed cdc postimages —
    * nondeterminism would let the three disagree), then
    * [[DeltaLite.locateRows]]. None when the op is a no-op: no live
    * file, or no candidate file. */
  private def locateWhere(spark: SparkSession, path: String, op: String,
      commitOp: String, snap0: Snapshot, predicate: String,
      set: Map[String, String] = Map.empty): Option[DeltaLite.Located] = {
    import org.apache.spark.sql.functions.expr
    requireDvWritable(snap0, path, op, commitOp, writesRows = set.nonEmpty)
    DeltaLite.requireKnownSetColumns(op, path, snap0.schema, set.keys)
    if (snap0.files.isEmpty) return None
    val cond = expr(predicate)
    DeltaLite.requireDeterministicDv(op, path, predicate,
      DeltaLite.analyzePredicate(spark, snap0.schema, cond).deterministic)
    require(spark.createDataFrame(new java.util.ArrayList[Row](), snap0.schema)
        .select(set.toSeq.map { case (k, e) => expr(e).as(k) }: _*)
        .queryExecution.analyzed.expressions.forall(_.deterministic),
      s"$op on $path: a SET expression is nondeterministic — " +
        "materialize the choice into a column first")
    Some(DeltaLite.locateRows(spark, path, snap0, DeltaLite.Where(cond)))
      .filter(_.candidates.nonEmpty)
  }

  /** Row-level DELETE on a standard Delta table via DELETION VECTORS —
    * the delete shape that stays metadata-proportional at 100 TB: zero
    * data files rewritten; each touched file's deleted row positions
    * land in one packed roaring DV file and the commit flips
    * (remove(old identity) + add(same path, new DV)). The bitmaps
    * build on EXECUTORS (per-file sorted positions → portable roaring
    * bytes); the driver holds only (path, compact bytes, cardinality)
    * — the same metadata-proportional contract the DV READ side keeps.
    * A file already carrying a DV gets the UNION (old ∪ new) — never a
    * DV that forgets prior deletes. First DV on a legacy-protocol
    * table upgrades it in the same commit (minReader 3 / minWriter 7,
    * restating the legacy-implied features per PROTOCOL.md). On an OCC
    * rebase the build re-verifies every touched file is still live
    * under the SAME DV identity the union was computed against — a
    * concurrent flip or file removal declines loudly (delta-spark's
    * concurrent-delete conflict), never commits a DV that would
    * resurrect or double-count rows. Candidate files and matched rows
    * come from [[DeltaLite.locateRows]]; the matched positions are cut
    * once. Returns the committed version, or the current version
    * unchanged when no live row matches. */
  def exportDeleteWhere(spark: SparkSession, path: String,
      predicate: String): Long = {
    import org.apache.spark.sql.functions.lit
    val snap0 = snapshot(spark, path)
    locateWhere(spark, path, "exportDeleteWhere", "DELETE", snap0, predicate)
        .fold(snap0.version) { l =>
      // a DELETE cuts positions only; no data column reaches its commit
      dvFlipCommit(spark, path, "exportDeleteWhere", "DELETE", snap0,
        graft.Frames.cut(l.matched.select("path", "row_index")), l.oldPos,
        _ => Nil,
        () => Some(l.matched.drop("path", "row_index")
          .withColumn("_change_type", lit("delete"))))
    }
  }

  /** Row-level UPDATE via deletion vectors on the export path: DV the
    * matched rows out of their files (zero data-file rewrites of
    * survivors) and append the rewritten rows as fresh files, in ONE
    * OCC commit. `set` maps column name → SQL expression; every
    * expression evaluates against the row's OLD values (standard
    * UPDATE semantics, [[DeltaLite.updateProjection]]) and casts to the
    * column's declared type.
    * Updating a partition column is allowed — the rewritten rows land
    * in their new partitions through the partitioned stage write.
    * Matching, pruning, DV union, rebase and serializability rules
    * are [[exportDeleteWhere]]'s (shared machinery); the appended
    * files additionally pass the row-writing gates (CHECK/generated/
    * identity/invariants, non-null enforcement). CDF tables get
    * update_preimage/update_postimage change files. */
  def exportUpdateWhere(spark: SparkSession, path: String,
      predicate: String, set: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{expr, lit}
    require(set.nonEmpty, s"exportUpdateWhere on $path: empty SET")
    val snap0 = snapshot(spark, path)
    locateWhere(spark, path, "exportUpdateWhere", "UPDATE", snap0,
        predicate, set).fold(snap0.version) { l =>
      // cut once: the DV positions, the rewrite and the cdc images all
      // read the matched rows
      val matched = graft.Frames.cut(l.matched)
      val matchedData = matched.drop("path", "row_index")
      val rewritten = DeltaLite.updateProjection(matchedData, snap0.schema,
        set.map { case (k, e) => k -> expr(e) }, hit = None)
      requireSchemaMatch(rewritten, snap0, path, "exportUpdateWhere")
      dvFlipCommit(spark, path, "exportUpdateWhere", "UPDATE", snap0,
        matched.select("path", "row_index"), l.oldPos,
        // no deletion vector written = no row matched
        newDv => if (newDv.isEmpty) Nil
          else writeDataFiles(spark, rewritten, root(path),
            snap0.partitionBy),
        () => Some(
          matchedData
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(rewritten
              .withColumn("_change_type", lit("update_postimage")))))
    }
  }

  /** MERGE (upsert) on the export path — the reference stack's
    * bread-and-butter shape (dbt incremental `merge` materialized to
    * a shared Delta table): target rows matching a source row on
    * `keys` are rewritten with the source row's values (WHEN MATCHED
    * THEN UPDATE SET *), source rows matching no live target row
    * insert (WHEN NOT MATCHED THEN INSERT *). Matched target rows DV
    * out of their files; the source batch's rewrites + inserts append
    * as fresh files; ONE OCC commit carries both. Source keys must be
    * unique (two source rows matching one target row is ambiguous —
    * delta-spark's multiple-source-match error). Candidate files
    * prune by the source's per-key min/max against log stats
    * ([[DeltaLite.locateRows]]) — a selective merge into a 100 TB
    * table opens only key-overlapping files. CDF tables get
    * update_preimage/update_postimage/insert change files. */
  def exportMerge(spark: SparkSession, path: String,
      source: DataFrame, keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val op = "exportMerge"
    val src = graft.Frames.cut(source)
    val snap0 = snapshot(spark, path)
    requireDvWritable(snap0, path, op, "MERGE", writesRows = true)
    requireSchemaMatch(src, snap0, path, op)
    require(keys.nonEmpty, s"$op on $path: empty key list")
    val unknown = keys.toSet -- snap0.schema.fieldNames
    require(unknown.isEmpty,
      s"$op on $path: unknown key column(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")}")
    // an aggregate, not a LIMIT: Spark names each limit's counter from a
    // JVM-wide sequence, so a LIMIT stage compiles a new class every run
    val maxRowsPerKey = src.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).agg(max(col("__n"))).head()
    require(maxRowsPerKey.isNullAt(0) || maxRowsPerKey.getLong(0) <= 1L,
      s"$op on $path: duplicate source keys — a target row " +
        "matched by two source rows is ambiguous (delta-spark's " +
        "multiple-source-match error); de-duplicate the source " +
        "first")
    // empty source (no key group, so a null max): nothing matches,
    // nothing inserts (an empty target still takes a non-empty source's
    // inserts)
    if (maxRowsPerKey.isNullAt(0)) return snap0.version
    val l = DeltaLite.locateRows(spark, path, snap0, DeltaLite.OnKeys(src, keys))
    val matched = graft.Frames.cut(l.matched)
    val cols = snap0.schema.fieldNames.map(col).toSeq
    val matchedData = matched.drop("path", "row_index")
    // WHEN MATCHED: each matched target row takes its source row's
    // values (a key shared by N target rows yields N identical
    // rewrites — delta-spark's multi-target-match semantics)
    val rewritten = matched.select(keys.map(col): _*)
      .join(src, keys, "inner").select(cols: _*)
    // WHEN NOT MATCHED: source rows whose key matches no LIVE target
    // row (candidate pruning is sound for this anti-join too — a
    // non-candidate file cannot hold a matching key)
    val inserts = src.join(matched.select(keys.map(col): _*),
      keys, "left_anti").select(cols: _*)
    // a non-empty source always appends: each source row is a rewrite
    // (its key matched) or an insert (the anti-join keeps it)
    dvFlipCommit(spark, path, op, "MERGE", snap0,
      matched.select("path", "row_index"), l.oldPos,
      _ => writeDataFiles(spark, rewritten.unionByName(inserts), root(path),
        snap0.partitionBy),
      () => Some(
        matchedData
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(rewritten
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(inserts
            .withColumn("_change_type", lit("insert")))))
  }

  /** The shared COMMIT TAIL of the row-level DV write surfaces
    * (DELETE / UPDATE / MERGE): the DV write of both logs
    * ([[DeltaLite.writeDeletionVectors]] — fresh positions ∪ the
    * touched files' existing deletes into one packed DV file;
    * untouched DV files keep their descriptor), cdc staging
    * when CDF is enabled, and the OCC commit with rebase-identity +
    * concurrent-append serializability checks. `fresh` is the
    * (path, row_index) frame of freshly-deleted positions (already
    * anti-joined against existing DVs, already cut); `stageAdds`
    * stages the op's appended data files (empty for DELETE) from the
    * DV write's result (one descriptor per touched file, empty when no
    * row matched); `cdcFrame`
    * builds the change rows (table columns + _change_type) and runs
    * only when delta.enableChangeDataFeed=true. cdc files stage
    * pre-claim like the DV file: uncommitted files are invisible, and
    * the rebase declines any concurrent append/flip, so the staged
    * rows stay exactly the commit's change set on every attempt. */
  private def dvFlipCommit(spark: SparkSession, path: String,
      op: String, commitOp: String, snap0: Snapshot,
      fresh: DataFrame, oldPos: DataFrame,
      stageAdds: Seq[(String, DeletionVectors.Descriptor)] => Seq[AddFile],
      cdcFrame: () => Option[DataFrame]): Long = {
    val newDv = DeltaLite.writeDeletionVectors(spark, path, fresh, oldPos)
    val newAdds = stageAdds(newDv)
    if (newDv.isEmpty && newAdds.isEmpty) return snap0.version // no-op
    // delta.enableChangeDataFeed=true obliges ROW-LEVEL change files:
    // a foreign CDF reader sees remove+re-add of the same path as a
    // file rewrite, so the change rows materialize under
    // _change_data/ and the commit carries cdc actions — which CDF
    // readers then use as the ONLY change source for this commit
    // (PROTOCOL.md "Change Data Files"; dataChange=false BY SPEC)
    val cdcActs: Seq[String] =
      if (!snap0.properties.get("delta.enableChangeDataFeed")
          .exists(_.equalsIgnoreCase("true"))) Nil
      else cdcFrame().map(stageCdcFiles(spark, path, _, snap0))
        .getOrElse(Nil)
    DeltaLite.claimLoop(snap0) { snap =>
      requireWritable(snap, path, op, removesRows = true,
        writesRows = newAdds.nonEmpty)
      requireUnmapped(snap, path, op)
      // rebase safety: every touched file must still be live under the
      // EXACT DV identity the union was computed against — a foreign
      // flip in the race window means our union misses its deletes
      // (committing would RESURRECT them); a foreign removal means the
      // file is gone (committing would resurrect the whole file)
      newDv.foreach { case (p, _) =>
        val cur = snap.byPath.get(p).getOrElse(sys.error(
          s"$op on $path: file '$p' was removed by a concurrent " +
            "writer — re-run against fresh state"))
        require(cur.dv == snap0.byPath(p).dv,
          s"$op on $path: the deletion vector of '$p' changed " +
            "concurrently — re-run against fresh state (committing a " +
            "stale union would resurrect rows)")
      }
      // serializability: a file APPENDED in the race window may hold
      // rows matching the predicate/keys this op never evaluated —
      // committing over it yields a history no serial order explains
      // (delta-spark's ConcurrentAppendException). Decline every
      // concurrent add; re-running re-evaluates the full live set.
      val appended = snap.byPath.keySet -- snap0.byPath.keySet
      require(appended.isEmpty,
        s"$op on $path: file(s) " +
          s"${appended.toSeq.sorted.take(3).mkString(", ")} were " +
          "appended concurrently and may match — re-run against " +
          "fresh state")
      val now = System.currentTimeMillis()
      writeCommitFile(path, snap.version + 1,
        (if (newDv.isEmpty) None else dvProtocolUpgrade(snap)).toSeq ++
          newDv.flatMap { case (p, d) =>
            val old = snap.byPath(p)
            val upd = old.copy(dv = Some(d))
            Seq(removeLine(old, now),
              JsonMethods.compact(encodeDeltaAdd(upd, snap.schema)))
          } ++
          newAdds.map(a => JsonMethods.compact(
            encodeDeltaAdd(a, snap.schema))) ++
          cdcActs :+ commitInfoLine(commitOp))
    }(rebuildOnTip(spark, path, op))
  }

  /** Stage `df` (table columns + _change_type) as change-data parquet
    * under `_change_data/` — per-partition files when the table is
    * partitioned — and return the commit's cdc action lines. */
  private def stageCdcFiles(spark: SparkSession, path: String,
      df: DataFrame, snap0: Snapshot): Seq[String] = {
    val stage = root(path).resolve("_change_data")
      .resolve("cdc-" + java.util.UUID.randomUUID.toString.take(12))
    val writer = if (snap0.partitionBy.nonEmpty)
      df.write.partitionBy(snap0.partitionBy: _*) else df.write
    writer.parquet(stage.toString)
    val cdcSchema = StructType(snap0.schema.fields :+
      StructField("_change_type", StringType))
    DeltaLite.footerAdds(spark, root(path), stage, cdcSchema,
      snap0.partitionBy, Map.empty).map(a =>
      JsonMethods.compact(JObject(List("cdc" -> JObject(List(
        "path" -> JString(encodePath(a.path)),
        "partitionValues" -> JObject(a.pv.toList.sortBy(_._1)
          .map { case (k, v) => k -> JString(v) }),
        "size" -> JLong(a.bytes),
        "dataChange" -> JBool(false)))))))
  }

  /** The `deletionVectors` protocol upgrade, when the table's current
    * protocol does not already carry it: one protocol action in the
    * same commit as the first DV flip — minReader 3 / minWriter 7 with
    * reader/writer feature lists that RESTATE the legacy versions'
    * implied features (PROTOCOL.md: a table-features upgrade must name
    * everything the table uses). */
  private def dvProtocolUpgrade(snap: Snapshot): Option[String] = {
    val p = snap.protocol
    val has = p.minReader >= 3 && p.readerFeatures.contains("deletionVectors") &&
      p.minWriter >= 7 && p.writerFeatures.contains("deletionVectors")
    if (has) None
    else {
      val readerFeats = (if (p.minReader >= 3) p.readerFeatures.toSet
        else if (p.minReader == 2) Set("columnMapping")
        else Set.empty[String]) + "deletionVectors"
      val writerFeats = effectiveWriterFeatures(snap) + "deletionVectors"
      Some(JsonMethods.compact(JObject(List("protocol" -> JObject(List(
        "minReaderVersion" -> JInt(3),
        "minWriterVersion" -> JInt(7),
        "readerFeatures" -> JArray(
          readerFeats.toList.sorted.map(JString(_))),
        "writerFeatures" -> JArray(
          writerFeats.toList.sorted.map(JString(_)))))))))
    }
  }

  /** THE remove-action encoder — one definition for the overwrite,
    * partition-delete, and DV-flip commits (review finding: verbatim
    * copies drift). A remove of a DV-carrying file MUST name the DV:
    * Delta reconciliation identifies a logical file by (path, DV
    * uniqueId), so a path-only remove of a DV'd file would fail to
    * evict it under strict-identity replay (our own reader's rule). */
  private def removeLine(f: AddFile, now: Long): String =
    JsonMethods.compact(JObject(List(
      "remove" -> JObject(List(
        "path" -> JString(encodePath(f.path)),
        "deletionTimestamp" -> JLong(now),
        "dataChange" -> JBool(true),
        "extendedFileMetadata" -> JBool(true),
        "partitionValues" -> JObject(f.pv.toList.sortBy(_._1)
          .map { case (k, v) => k -> JString(v) }),
        "size" -> JLong(f.bytes)) ++
        f.dv.map(d => "deletionVector" ->
          DeletionVectors.toJValue(d)).toList))))

  /** WRITER-side protocol gate (review finding: the reader gate
    * accepting a table says nothing about writing it). This exporter
    * implements writer version ≤ 2 minus invariants: it declines
    * loudly on
    *   - `delta.appendOnly = true` when the commit would remove rows
    *     (overwrite/partition-delete on an append-only table breaks
    *     the contract downstream consumers rely on);
    *   - any column carrying a `delta.invariants` expression (writer
    *     v2 requires ENFORCING it on write — we don't evaluate them);
    *   - minWriterVersion > 2 or any `writerFeatures` (v7 tables
    *     demand per-feature write obligations — row tracking, DVs,
    *     CDC files — this minimal exporter does not meet). */
  /** Legacy minWriterVersions imply fixed feature sets (PROTOCOL.md
    * "Table Features" — a version-7 upgrade must restate them); the
    * uniform gate below reasons about FEATURES, so translate once. */
  private def effectiveWriterFeatures(snap: Snapshot): Set[String] =
    if (snap.protocol.minWriter >= 7) snap.protocol.writerFeatures.toSet
    else Seq(
      2 -> Seq("appendOnly", "invariants"),
      3 -> Seq("checkConstraints"),
      4 -> Seq("changeDataFeed", "generatedColumns"),
      5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))
      .filter(_._1 <= snap.protocol.minWriter).flatMap(_._2).toSet

  /** Writer features whose per-commit obligations these exporters MEET
    * (each conditionally — the checks in [[requireWritable]] are the
    * honoring): appendOnly/invariants/checkConstraints/generated/
    * identity gate on the table actually USING them; changeDataFeed is
    * safe for append/overwrite/partition-delete (foreign CDF readers
    * derive those correctly from dataChange add/remove actions) and
    * gates only the DV flip; columnMapping is gated separately by
    * [[requireUnmapped]] on every exporter; deletionVectors is honored
    * by DV-identified removes + [[exportDeleteWhere]]'s own machinery;
    * the rest carry no write-side obligation this exporter can
    * violate. Anything NOT here (rowTracking's baseRowIds,
    * domainMetadata, icebergCompat*, unknowns) declines by name. */
  private[graft] val HonoredWriterFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "generatedColumns", "identityColumns", "columnMapping",
    "deletionVectors", "timestampNtz", "typeWidening",
    "typeWidening-preview", "vacuumProtocolCheck", "v2Checkpoint")

  private def requireWritable(snap: Snapshot, path: String, op: String,
      removesRows: Boolean, writesRows: Boolean = true): Unit = {
    val feats = effectiveWriterFeatures(snap)
    val unmet = (feats -- HonoredWriterFeatures).toSeq.sorted
    require(unmet.isEmpty,
      s"$op on $path: the table requires minWriterVersion " +
        s"${snap.protocol.minWriter} with writer features " +
        s"${unmet.mkString(", ")} " +
        "whose write obligations this exporter does not meet; use the " +
        "native format (CONVERT FROM DELTA) for full write semantics")
    require(!removesRows ||
        !snap.properties.get("delta.appendOnly")
          .exists(_.equalsIgnoreCase("true")),
      s"$op on $path: the table declares delta.appendOnly=true — a " +
        "row-removing commit would break the append-only contract " +
        "downstream consumers rely on")
    // checkConstraints: a CHECK gates only commits that WRITE rows (a
    // delete cannot create a violating row) — and only when the table
    // actually declares one
    require(!writesRows ||
        !snap.properties.keys.exists(_.startsWith("delta.constraints.")),
      s"$op on $path: the table declares CHECK constraints " +
        s"(${snap.properties.keys.filter(_.startsWith("delta.constraints."))
          .mkString(", ")}) this exporter does not enforce — writing " +
        "without enforcement would violate the writer contract")
    // generated/identity columns oblige the writer to PRODUCE
    // conforming values on new rows — gate row-writing commits when
    // the schema actually carries the metadata
    if (writesRows && snap.schema != null) {
      val special = snap.schema.fields.collect {
        case f if f.metadata.contains("delta.generationExpression") =>
          s"${f.name} (generated)"
        case f if f.metadata.contains("delta.identity.start") ||
            f.metadata.contains("delta.identity.step") =>
          s"${f.name} (identity)"
      }
      require(special.isEmpty,
        s"$op on $path: column(s) ${special.mkString(", ")} oblige the " +
          "writer to produce conforming values — this exporter writes " +
          "the caller's batch verbatim and declines instead")
    }
    // invariants gate ONLY commits that write rows (a remove-only
    // partition delete adds no data, so any invariant is vacuously
    // preserved — review finding); the scan is RECURSIVE, Delta allows
    // invariants on nested fields (review finding)
    def invariantIn(dt: DataType, at: String): Option[String] = dt match {
      case stct: StructType => stct.fields.view.flatMap { f =>
        if (f.metadata.contains("delta.invariants"))
          Some(s"$at${f.name}")
        else invariantIn(f.dataType, s"$at${f.name}.")
      }.headOption
      case ArrayType(et, _) => invariantIn(et, at)
      case MapType(_, vt, _) => invariantIn(vt, at)
      case _ => None
    }
    if (writesRows && snap.schema != null)
      invariantIn(snap.schema, "").foreach(c => sys.error(
        s"$op on $path: column '$c' carries a delta.invariants " +
          "expression this exporter does not enforce — writing without " +
          "enforcement would violate the writer contract"))
  }

  /** Shared write-side schema gate: names and types must match
    * EXACTLY, and a nullable batch column cannot land in a column the
    * table declares non-nullable (review finding: the log would then
    * promise non-null while the files carry nulls — foreign readers
    * trust the schema). A batch whose column provably holds no nulls
    * declares it non-nullable and passes. */
  private def requireSchemaMatch(df: DataFrame, snap: Snapshot, path: String,
      op: String): Unit = {
    require(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        snap.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"$op schema ${df.schema.simpleString} does not match table " +
        s"schema ${snap.schema.simpleString}")
    // Non-nullable table columns enforce on the DATA (the actual
    // writer-v2 obligation), not the batch's nullable flag — every
    // file-sourced frame reads back nullable=true even when it holds
    // no nulls, so a flag check would decline all round-trips (review
    // finding). One null count over the affected columns; usually there
    // are none.
    val suspect = snap.schema.fields
      .filter(tf => !tf.nullable &&
        df.schema.fields.exists(bf => bf.name == tf.name && bf.nullable))
      .map(_.name)
    if (suspect.nonEmpty) {
      import org.apache.spark.sql.functions.{col, count, when}
      // an aggregate, not a LIMIT per column (see exportMerge)
      val nulls = suspect.map(c => count(when(col(c).isNull, 1)))
      val row = df.agg(nulls.head, nulls.tail: _*).head()
      val offending = suspect.indices.find(row.getLong(_) > 0).map(suspect)
      offending.foreach(c => sys.error(
        s"$op on $path: column '$c' contains nulls but the table " +
          "schema declares it non-nullable — foreign readers trust " +
          "the schema; drop the null rows or fix the table schema"))
    }
  }

  /** The export surfaces write LOGICAL-named parquet, logical-keyed
    * stats, and logical-keyed partitionValues — on a column-mapped
    * table those are corrupt artifacts (physical-name readers resolve
    * them to NULLs), so the artifact-writing exports decline loudly
    * (review finding: widening the READ gate to name mode silently
    * un-gated these). [[exportDeletePartition]] stays allowed — remove
    * actions carry only paths, no name-bearing artifact — as do
    * reading and CONVERT FROM DELTA. */
  private def requireUnmapped(snap: Snapshot, path: String,
      op: String): Unit =
    require(snap.physical.isEmpty,
      s"$op on $path: the table uses column mapping — this exporter " +
        "writes logical-named artifacts, which a mapped table's " +
        "readers would resolve to NULLs; read/convert the table " +
        "instead (write-side mapping is the native format's job)")

  /** Write `df` into a FRESH per-commit subdirectory of the table root
    * (Hive layout inside it when partitioned) and footer-decode exactly
    * that subdirectory — commit cost stays O(batch) no matter how many
    * files the table holds (the earlier root-walk diff re-opened every
    * standing file's footer per append; review finding). Delta `add`
    * paths are arbitrary root-relative URIs, so foreign readers are
    * indifferent to the layout. */
  private def writeDataFiles(spark: SparkSession, df: DataFrame,
      dir: Path, partitionBy: Seq[String]): Seq[AddFile] = {
    val stage = dir.resolve(
      "data-" + java.util.UUID.randomUUID.toString.take(12))
    val writer = if (partitionBy.nonEmpty)
      df.write.partitionBy(partitionBy: _*) else df.write
    writer.mode("overwrite").parquet(stage.toString)
    DeltaLite.footerAdds(spark, dir, stage, df.schema, partitionBy,
      Map.empty)
  }

  /** graft decoded stats → PROTOCOL.md's per-file `stats` JSON — the
    * ONE encoder both commit adds and checkpoint rows go through (two
    * drifting copies would let a commit and its checkpoint disagree on
    * the same file's stats; review finding). */
  private def deltaStatsJson(f: AddFile, schema: StructType): String = {
    val types = schema.fields.map(fd => fd.name -> fd.dataType).toMap
    def enc(c: String, v: Any): Option[JValue] = types.get(c).map {
      case DateType => JString(java.time.LocalDate
        .ofEpochDay(v.asInstanceOf[Long]).toString)
      case TimestampType => JString(microsToIso(v.asInstanceOf[Long], "Z"))
      case TimestampNTZType => JString(microsToIso(v.asInstanceOf[Long], ""))
      case FloatType | DoubleType => JDouble(v.asInstanceOf[Double])
      case _: DecimalType => JDecimal(v.asInstanceOf[BigDecimal])
      case StringType => JString(v.asInstanceOf[String])
      case _ => JLong(v.asInstanceOf[Long])
    }
    def side(pick: ColStats => Option[Any]): JObject = JObject(
      f.stats.toList.sortBy(_._1).flatMap { case (c, cs) =>
        pick(cs).flatMap(enc(c, _)).map(c -> _) })
    JsonMethods.compact(JObject(List(
      "numRecords" -> JLong(f.rows),
      "minValues" -> side(_.min),
      "maxValues" -> side(_.max)) ++
      // a DV'd file's stats describe the PHYSICAL file: numRecords is
      // the physical row count and min/max are valid but possibly not
      // tight for the LIVE rows — PROTOCOL.md's tightBounds=false
      // (absent means true, so emit only the false case)
      (if (f.dv.isDefined) List("tightBounds" -> JBool(false)) else Nil)))
  }

  /** graft AddFile → standard Delta `add` action (stats re-encoded
    * from the decoded representation into PROTOCOL.md's JSON forms;
    * a marker-carried DV descriptor re-emits as the `deletionVector`
    * struct). Restatement fidelity (review findings): a replayed
    * `modificationTime` is preserved (foreign consumers key
    * incremental processing on it — a metadata-only DV flip must not
    * re-stamp a years-old file as just-modified), and a file whose
    * ORIGINAL add carried no stats re-emits WITHOUT stats — `stats`
    * is optional in the protocol, and fabricating `numRecords:0` next
    * to a positive DV cardinality would violate the
    * cardinality ≤ numRecords invariant foreign readers check (a
    * non-empty flipped file with rows==0 && stats.isEmpty can ONLY be
    * a stats-less replay: a genuinely empty file has no positions to
    * delete). */
  private def encodeDeltaAdd(f: AddFile, schema: StructType): JObject =
    JObject(List("add" -> JObject(List(
      "path" -> JString(encodePath(f.path)),
      "partitionValues" -> JObject(f.pv.toList.sortBy(_._1)
        .map { case (k, v) => k -> JString(v) }),
      "size" -> JLong(f.bytes),
      "modificationTime" -> JLong(
        f.mtime.getOrElse(System.currentTimeMillis())),
      "dataChange" -> JBool(true)) ++
      (if (f.stats.isEmpty && f.rows == 0L) Nil
       else List("stats" -> JString(deltaStatsJson(f, schema)))) ++
      f.dv.map(d => "deletionVector" -> DeletionVectors.toJValue(d))
        .toList)))

  private def microsToIso(micros: Long, suffix: String): String = {
    val inst = java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L)
    val ldt = java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
    ldt.format(java.time.format.DateTimeFormatter
      .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS")) + suffix
  }

  private def commitInfoLine(op: String): String =
    JsonMethods.compact(JObject(List("commitInfo" -> JObject(List(
      "timestamp" -> JLong(System.currentTimeMillis()),
      "operation" -> JString(op))))))

  /** Claim `<version>.json` through the SAME claim-store contract the
    * native format uses ([[DeltaLite.claimCommit]]: conditional PUT
    * semantics, exactly one winner, ambiguity resolved by read-back
    * compare) — the last step of one [[DeltaLite.claimLoop]] attempt;
    * returns `version`. Log READS on the interop side stay on the
    * filesystem layer (the standard `_delta_log` is the foreign
    * stack's directory); the claim store guards the one mutation. */
  private def writeCommitFile(path: String, version: Long,
      lines: Seq[String]): Long = {
    val d = logDir(path)
    Files.createDirectories(d)
    DeltaLite.claimCommit(d.resolve(f"$version%020d.json"), lines)
    version
  }

  /** The mutating exports' lost-race rule for [[DeltaLite.claimLoop]]:
    * re-replay, and the export's build closure rebuilds the commit on
    * the tip. The exports' semantics are all rebuild-safe by
    * construction (append re-encodes the same already-written files
    * against the new schema state; overwrite re-removes the CURRENT
    * live set; partition delete re-selects the CURRENT doomed set; the
    * DV tail re-checks its touched files and declines any concurrent
    * add), and each closure re-runs the writability gates so a
    * concurrent protocol upgrade or appendOnly flip declines instead of
    * laundering through a stale check. A caller that already replayed
    * for its pre-staging gates hands that state to the first attempt —
    * each replay is O(log) plus a Spark checkpoint-read job on
    * checkpointed tables. At most 16 attempts keep a runaway-writer
    * table loud. */
  private def rebuildOnTip(spark: SparkSession, path: String, op: String)(
      lostOn: Snapshot, losses: Int): Snapshot = {
    require(losses < 16,
      s"$op on $path lost $losses consecutive commit claims — " +
        "a livelocked or runaway-writer table; giving up loudly")
    snapshot(spark, path)
  }

  /** The classic checkpoint parquet schema (PROTOCOL.md "Checkpoints"),
    * declared explicitly so `partitionValues`/`configuration` land as
    * parquet MAPs (JSON inference would make them structs and break
    * foreign readers). One action per row; absent actions are null. */
  private val CheckpointSchema: StructType = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType))))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      // PROTOCOL.md checkpoints RESTATE per-add deletionVector structs
      // — without this column a checkpoint of a DV table would
      // silently resurrect every deleted row on fast-start (the decline
      // this column lifts; see CheckpointSafeWriterFeatures)
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType),
      // the removed logical file's DV identity rides along so foreign
      // VACUUM can associate the superseded deletion_vector file with
      // its retention window after JSON cleanup (review finding)
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType))))))

  /** Writer features whose mandated state this classic checkpointer
    * provably RESTATES (schema-/configuration-carried, plus the add
    * struct's `deletionVector` column). Anything else declines: a
    * checkpoint of a `domainMetadata` / `rowTracking` table would
    * restate the protocol but silently DROP the feature's state
    * (domainMetadata actions, per-add baseRowId fields), and a
    * foreign reader fast-starting from `_last_checkpoint` after JSON
    * cleanup loses it without any error (review finding).
    * `changeDataFeed` is safe: PROTOCOL.md excludes cdc actions from
    * checkpoints by design. */
  private[graft] val CheckpointSafeWriterFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "generatedColumns", "columnMapping", "identityColumns",
    "timestampNtz", "typeWidening", "typeWidening-preview",
    "vacuumProtocolCheck", "v2Checkpoint",
    // restatable since the add struct gained its deletionVector column
    // — a DV table under repeated exportDeleteWhere can now checkpoint
    // and survive JSON log cleanup
    "deletionVectors")

  /** `delta.deletedFileRetentionDuration` ("interval N unit [N unit
    * ...]" — Delta parses a full CalendarInterval, so multi-unit
    * values like "interval 1 day 12 hours" are legal; default one
    * week, delta.io's documented default) → milliseconds (units sum). */
  private def tombstoneRetentionMs(config: Map[String, String]): Long = {
    val spec = config.getOrElse("delta.deletedFileRetentionDuration",
      "interval 1 week")
    val pair = """(\d+)\s+([a-zA-Z]+)""".r
    require(spec.trim.toLowerCase.startsWith("interval"),
      s"unparseable delta.deletedFileRetentionDuration '$spec'")
    val pairs = pair.findAllMatchIn(spec).toSeq
    require(pairs.nonEmpty,
      s"unparseable delta.deletedFileRetentionDuration '$spec'")
    pairs.map { m =>
      val per = m.group(2).toLowerCase.stripSuffix("s") match {
        case "week" => 7L * 24 * 3600 * 1000
        case "day" => 24L * 3600 * 1000
        case "hour" => 3600L * 1000
        case "minute" => 60L * 1000
        case "second" => 1000L
        case "millisecond" => 1L
        case other => sys.error(
          s"unsupported retention unit '$other' in '$spec'")
      }
      m.group(1).toLong * per
    }.sum
  }

  /** Classic single-part parquet checkpoint at the latest version + the
    * `_last_checkpoint` pointer — the fast-start handle foreign readers
    * look for, and the fixture this module's own checkpoint replay path
    * is tested against. */
  def exportCheckpoint(spark: SparkSession, path: String): Long = {
    val snap = snapshot(spark, path)
    requireUnmapped(snap, path, "exportCheckpoint")
    // WRITER-side gate (review finding: the read path accepting a
    // feature says nothing about CHECKPOINTING it — a checkpoint that
    // restates the protocol but drops a feature's mandated state is
    // worse than declining, because foreign readers fast-starting from
    // _last_checkpoint after JSON cleanup lose that state silently).
    val proto = snap.protocol
    val unsafe = proto.writerFeatures.filterNot(CheckpointSafeWriterFeatures)
    require(unsafe.isEmpty,
      s"exportCheckpoint on $path: writer features " +
        s"${unsafe.mkString(", ")} mandate state (actions or per-add " +
        "fields) this classic checkpointer does not restate — a " +
        "checkpoint would silently drop it; checkpoint with the " +
        "feature-aware writer that owns the table instead")
    def statsJson(f: AddFile): String = deltaStatsJson(f, snap.schema)
    def dvRow(d: DeletionVectors.Descriptor): Row =
      Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(java.lang.Integer.valueOf).orNull,
        java.lang.Integer.valueOf(d.sizeInBytes), d.cardinality)
    val now = System.currentTimeMillis()
    // remove tombstones still inside the retention window ride along —
    // foreign VACUUM resolves "recently removed, don't collect yet"
    // from the checkpoint once the JSON commits are cleaned up
    val keepSince = now - tombstoneRetentionMs(snap.properties)
    val tombs = snap.tombstones.toSeq.filter(_._2 >= keepSince)
      .sortBy { case ((p, dv), _) => (p, dv.map(DeletionVectors.toJson)) }
    // the checkpoint RESTATES the table's protocol — hardcoding (1,2)
    // would falsify a higher-versioned table's requirements once the
    // JSON commits are cleaned up, and launder writes past the
    // requireWritable gate on replay-from-checkpoint (review finding)
    val rows: Seq[Row] =
      Seq(Row(Row(proto.minReader, proto.minWriter,
          if (proto.readerFeatures.isEmpty) null else proto.readerFeatures,
          if (proto.writerFeatures.isEmpty) null else proto.writerFeatures),
        null, null, null, null),
        // restate the table's OWN id — a fresh random id per checkpoint
        // would change table identity under foreign streaming queries
        // that pin metaData.id (review finding); random only for a
        // spec-violating foreign log that never declared one
        Row(null, Row(snap.tableId
            .getOrElse(java.util.UUID.randomUUID.toString), Row("parquet"),
          snap.schema.json, snap.partitionBy, snap.properties), null,
          null, null)) ++
        snap.files.map(f => Row(null, null,
          Row(encodePath(f.path), f.pv, f.bytes,
            // same restatement fidelity as encodeDeltaAdd: preserve
            // the original modificationTime; stats-less adds restate
            // WITHOUT stats (null slot) instead of fabricating
            // numRecords:0 (review finding); DV descriptors restate as
            // the protocol's struct (replay's toJSON round-trip feeds
            // the same parseJValue path the JSON commits use)
            // dataChange=false: checkpoint rows are RESTATEMENTS, not
            // data changes — PROTOCOL.md's checkpoint contract, and
            // what strict foreign validators check (review finding;
            // the tombstone rows below already wrote false)
            java.lang.Long.valueOf(f.mtime.getOrElse(now)), false,
            if (f.stats.isEmpty && f.rows == 0L) null else statsJson(f),
            f.dv.map(dvRow).orNull),
          null, null)) ++
        tombs.map { case ((p, dv), ts) => Row(null, null, null,
          Row(encodePath(p), ts, false, dv.map(dvRow).orNull), null) } ++
        snap.txns.toSeq.sortBy(_._1).map { case (app, v) =>
          Row(null, null, null, null, Row(app, v)) }
    val d = logDir(path)
    val tmpDir = Files.createTempDirectory(d, ".cp-")
    spark.createDataFrame(rows.asJava, CheckpointSchema).coalesce(1)
      .write.mode("overwrite").parquet(tmpDir.toString)
    val part = {
      val w = Files.list(tmpDir)
      try w.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error("checkpoint write produced no parquet"))
      finally w.close()
    }
    val target = d.resolve(f"${snap.version}%020d.checkpoint.parquet")
    Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    val s = Files.walk(tmpDir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { val _ = Files.deleteIfExists(p) })
    finally s.close()
    // the pointer write must be ATOMIC (overwrite is fine — newer
    // checkpoints legitimately replace it — but a plain Files.write
    // left a truncated-pointer window a crashed writer or concurrent
    // foreign checkpointer could expose; review finding): temp file +
    // rename, the same discipline as every other log artifact
    val ptrTmp = Files.createTempFile(d, ".tmp-lastcp-", ".json")
    Files.write(ptrTmp,
      JsonMethods.compact(JObject(List(
        "version" -> JLong(snap.version),
        "size" -> JLong((rows.size).toLong)))).getBytes("UTF-8"))
    Files.move(ptrTmp, d.resolve("_last_checkpoint"),
      StandardCopyOption.ATOMIC_MOVE)
    snap.version
  }
}
