package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeltaInterop, DeltaLite}

/** Standard Delta-protocol interop (SURVEY.md §2 S65): reading,
  * time-traveling, converting, and exporting REAL `_delta_log` tables —
  * the reference stack's on-disk format. The hand-authored-log cases
  * are the important ones: they exercise the reader against protocol
  * JSON this codebase did NOT write (percent-encoded paths, ISO
  * timestamp stats, null partition values), so reader and writer can't
  * be wrong together. */
class DeltaInteropSpec extends AnyFunSuite with TestSpark {

  private def tmp(tag: String): String = TempDirs.fresh(tag)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("export → read round-trip: partitioned table, snapshot equality and graft-delta format dispatch") {
    import spark.implicits._
    val path = tmp("interop_rt")
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
    DeltaInterop.exportToDelta(spark, df, path, partitionBy = Seq("o_orderstatus"))
    // the log is STANDARD delta: versioned 20-digit json, protocol+metaData
    val log = Paths.get(path, "_delta_log", f"${0L}%020d.json")
    assert(Files.exists(log), "commit 0 must be _delta_log/<20-digit>.json")
    val text = new String(Files.readAllBytes(log), "UTF-8")
    assert(text.contains("\"protocol\"") && text.contains("\"metaData\"") &&
      text.contains("\"schemaString\"") && text.contains("\"add\""))
    // reads equal the source frame — module API and format dispatch both
    assert(sorted(DeltaInterop.read(spark, path)
      .select(df.columns.map(col).toSeq: _*)) === sorted(df))
    assert(sorted(spark.read.format("graft-delta").load(path)
      .select(df.columns.map(col).toSeq: _*)) === sorted(df))
    // partition column re-attaches TYPED from partitionValues
    assert(DeltaInterop.read(spark, path).schema("o_orderstatus").dataType ===
      df.schema("o_orderstatus").dataType)
  }

  test("multi-commit replay: append + partition delete, version and timestamp time travel match a graft-delta twin") {
    val path = tmp("interop_tt")
    val twin = tmp("interop_tt_twin")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val first = orders.filter(col("o_orderkey") % 3 === 0)
    val second = orders.filter(col("o_orderkey") % 3 === 1)
    DeltaInterop.exportToDelta(spark, first, path, Seq("o_orderstatus"))
    DeltaInterop.exportAppend(spark, second, path)
    DeltaInterop.exportDeletePartition(spark, path, "o_orderstatus", "F")
    DeltaLite.create(spark, twin, first, partitionBy = Seq("o_orderstatus"))
    DeltaLite.append(spark, twin, second)
    DeltaLite.delete(spark, twin, col("o_orderstatus") === "F")
    // latest == twin's latest; every intermediate version matches too
    assert(sorted(DeltaInterop.read(spark, path)) ===
      sorted(DeltaLite.read(spark, twin).select(
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))))
    for (v <- 0L to 2L)
      assert(sorted(DeltaInterop.read(spark, path, Some(v))) ===
        sorted(DeltaLite.read(spark, twin, Some(v)).select(
          col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))),
        s"version $v must replay identically")
    // timestamp travel: the exporter stamps commitInfo.timestamp — a
    // timestamp at/after the LAST commit resolves to the latest version
    val vLatest = DeltaInterop.versionAtTimestamp(path,
      System.currentTimeMillis() + 60000)
    assert(vLatest === 2L)
    // format options route through the interop dispatch
    assert(sorted(spark.read.format("graft-delta")
        .option("versionAsOf", 1).load(path)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))) ===
      sorted(DeltaLite.read(spark, twin, Some(1L)).select(
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))))
    // history carries the exporter's operations
    val ops = DeltaInterop.history(spark, path)
      .orderBy("version").collect().map(_.getString(2)).toSeq
    assert(ops === Seq("WRITE", "WRITE", "DELETE"))
    // DESCRIBE HISTORY dispatches to the standard log (newest first,
    // add/remove counts from the commits themselves)
    val h = spark.sql(s"DESCRIBE HISTORY '$path'").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L))
    assert(h.map(_.getString(1)).toSeq === Seq("DELETE", "WRITE", "WRITE"))
    assert(h.last.getInt(3) > 0 && h.last.getLong(5) > 0L,
      s"commit 0 must report its add count and rows: ${h.toSeq}")
    // rows_added sums each add's stats numRecords exactly
    assert(h.map(_.getLong(5)).toSeq === Seq(0L, second.count(), first.count()))
    assert(h.head.getInt(4) > 0 && h.head.getInt(3) === 0,
      s"the delete commit must report removes and no adds: ${h.toSeq}")
    // DESCRIBE DETAIL dispatches too: live rows/files at the latest
    // version, partition columns from the log
    val det = spark.sql(s"DESCRIBE DETAIL '$path'").collect()(0)
    assert(det.getLong(0) === 2L)
    assert(det.getLong(1) ===
      DeltaInterop.read(spark, path).count())
    assert(det.getString(6) === "o_orderstatus")
  }

  test("hand-authored foreign log: percent-encoded paths, ISO timestamp stats, null partition value, remove replay") {
    val path = tmp("interop_hand")
    val dir = Paths.get(path)
    val logDir = dir.resolve("_delta_log")
    Files.createDirectories(logDir)
    // two data files written with a SPACE in one name (percent-encoded
    // in the log, like a real engine escapes it)
    import spark.implicits._
    Seq((1L, "a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "b", java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
      .toDF("id", "s", "ts").coalesce(1)
      .write.parquet(dir.resolve("d1").toString)
    Seq((10L, "z", java.sql.Timestamp.valueOf("2024-06-01 00:00:00")))
      .toDF("id", "s", "ts").coalesce(1)
      .write.parquet(dir.resolve("d2").toString)
    def onlyPart(sub: String): String = {
      val s = Files.list(dir.resolve(sub))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally s.close()
    }
    val f1 = s"d1/${onlyPart("d1")}"
    val renamed = "d2/part with space.parquet"
    Files.move(dir.resolve(s"d2/${onlyPart("d2")}"), dir.resolve(renamed))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("s", "string").add("ts", "timestamp")
    def commit(v: Long, lines: String*): Unit =
      Files.write(logDir.resolve(f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    commit(0L,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m-1","format":{"provider":"parquet","options":{}},"schemaString":${org.json4s.jackson.JsonMethods.compact(
        org.json4s.JString(schema.json))},"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"id\\":1,\\"ts\\":\\"2024-01-01T00:00:00.000Z\\"},\\"maxValues\\":{\\"id\\":2,\\"ts\\":\\"2024-02-01T00:00:00.000Z\\"}}"}}""",
      s"""{"add":{"path":"d2/part%20with%20space.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":1,\\"minValues\\":{\\"id\\":10,\\"ts\\":\\"2024-06-01T00:00:00.000Z\\"},\\"maxValues\\":{\\"id\\":10,\\"ts\\":\\"2024-06-01T00:00:00.000Z\\"}}"}}""",
      """{"commitInfo":{"timestamp":1700000000000,"operation":"WRITE"}}""")
    assert(DeltaInterop.read(spark, path).count() === 3L)
    // stats pruning: id >= 10 proves file 1 can't match → 1 file scanned
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.files.size === 2)
    val kept = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("id", lower = Some(10L))))
    assert(kept.map(_.path) === Seq("d2/part with space.parquet"),
      "min/max stats from the foreign log must prune the other file")
    // ISO timestamp stats prune on the ts column too (epoch-micros form)
    val keptTs = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("ts",
        upper = Some(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))))
    assert(keptTs.map(_.path) === Seq(f1),
      "ISO-8601 stats must decode to prunable timestamp bounds")
    // a remove commit drops the file from the next snapshot
    commit(1L,
      """{"remove":{"path":"d2/part%20with%20space.parquet","deletionTimestamp":1700000000001,"dataChange":true}}""",
      """{"commitInfo":{"timestamp":1700000001000,"operation":"DELETE"}}""")
    assert(DeltaInterop.read(spark, path).count() === 2L)
    assert(DeltaInterop.read(spark, path, Some(0L)).count() === 3L)
  }

  test("declined features fail loudly: deletion vectors, unknown reader features, column mapping, non-parquet format") {
    def authored(tag: String)(lines: String*): String = {
      val path = tmp(s"interop_decline_$tag")
      val logDir = Paths.get(path, "_delta_log")
      Files.createDirectories(logDir)
      Files.write(logDir.resolve(f"${0L}%020d.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      path
    }
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").json))
    val meta = s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}"""
    // DV descriptors now PARSE (snapshot succeeds); what declines is a
    // genuinely unsupported DV STORAGE type — loudly, at read time,
    // naming it (never silently reading the file raw)
    val dvTable = authored("dv")(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", meta,
      """{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"z","pathOrInlineDv":"x","offset":1,"sizeInBytes":1,"cardinality":1}}}""")
    assert(DeltaInterop.snapshot(spark, dvTable).files.size === 1)
    val dv = intercept[Exception] {
      DeltaInterop.read(spark, dvTable).collect()
    }
    assert(dv.getMessage.contains("storageType 'z'"),
      s"unknown DV storage type must decline by name: $dv")
    // a DV table whose own column is named `path` collides with the
    // row-position plumbing — decline loudly, never serve file paths
    // as the user's data
    val pathSchema = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("path", "string").json))
    val collide = authored("dvcollide")(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$pathSchema,"partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"x","sizeInBytes":1,"cardinality":1}}}""")
    val ce = intercept[Exception] {
      DeltaInterop.read(spark, collide).collect()
    }
    assert(ce.getMessage.contains("collides"),
      s"a path-column DV table must decline by name: $ce")
    // an UNKNOWN reader feature still declines at snapshot time
    val feat = intercept[IllegalArgumentException] {
      DeltaInterop.snapshot(spark, authored("feat")(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening-unknown"],"writerFeatures":["typeWidening-unknown"]}}""",
        meta))
    }
    assert(feat.getMessage.contains("typeWidening-unknown"))
    // `id` mapping mode declines (field-id matching has no name-based
    // read); `name` mode with MISSING physicalName metadata also
    // declines — resolving by logical names would silently misread
    val cmId = intercept[IllegalArgumentException] {
      DeltaInterop.snapshot(spark, authored("cmid")(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}"""))
    }
    assert(cmId.getMessage.contains("column mapping mode 'id'"))
    val cmBare = intercept[IllegalArgumentException] {
      DeltaInterop.snapshot(spark, authored("cmbare")(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}"""))
    }
    assert(cmBare.getMessage.contains("physicalName"))
    val fmt = intercept[IllegalArgumentException] {
      DeltaInterop.snapshot(spark, authored("fmt")(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"m","format":{"provider":"orc","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}"""))
    }
    assert(fmt.getMessage.contains("orc"))
    // reader version 3 with only SUPPORTED features is fine TO READ …
    val ok = authored("okfeat")(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz"]}}""",
      meta)
    assert(DeltaInterop.snapshot(spark, ok).files.isEmpty)
    // … and WRITING it is fine too — every listed writer feature's
    // obligation is met (timestampNtz carries none); a feature whose
    // obligation we can NOT meet (rowTracking's baseRowIds) declines
    // BY NAME
    import spark.implicits._
    DeltaInterop.exportAppend(spark, Seq(1L).toDF("id"), ok)
    assert(DeltaInterop.read(spark, ok).count() === 1L)
    val rt = authored("rowtracking")(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz","rowTracking"]}}""",
      meta)
    val wv = intercept[IllegalArgumentException] {
      DeltaInterop.exportAppend(spark, Seq(1L).toDF("id"), rt)
    }
    assert(wv.getMessage.contains("minWriterVersion") &&
      wv.getMessage.contains("rowTracking"))
    // delta.appendOnly blocks the row-removing exports, not appends
    val ao = authored("appendonly")(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.appendOnly":"true"}}}""")
    DeltaInterop.exportAppend(spark, Seq(7L).toDF("id"), ao)
    val del = intercept[IllegalArgumentException] {
      DeltaInterop.exportOverwrite(spark, Seq(8L).toDF("id"), ao)
    }
    assert(del.getMessage.contains("appendOnly"))
    assert(DeltaInterop.read(spark, ao).count() === 1L,
      "the append must have landed; the overwrite must not")
  }

  test("one replayer, two tip caches: a CONVERTed root's _graft_log and _delta_log each replay their own log through interleaved writes") {
    import spark.implicits._
    val path = tmp("interop_two_logs")
    def ids(from: Long, to: Long) = (from to to).toDF("id").coalesce(1)
    def paths(s: DeltaLite.Snapshot): Set[String] = s.files.map(_.path).toSet
    DeltaInterop.exportToDelta(spark, ids(1, 4), path)                // delta v0
    DeltaInterop.exportAppend(spark, ids(5, 6), path)                 // delta v1
    assert(DeltaInterop.read(spark, path).count() === 6L)
    DeltaInterop.convertFromDelta(spark, path)                        // graft v0
    val adopted = paths(DeltaLite.snapshot(path))
    assert(adopted === paths(DeltaInterop.snapshot(spark, path)))
    DeltaLite.append(spark, path, ids(7, 9))                          // graft v1
    assert(DeltaLite.read(spark, path).count() === 9L)
    DeltaInterop.exportAppend(spark, ids(10, 10), path)               // delta v2
    assert(DeltaInterop.read(spark, path).count() === 7L)
    DeltaLite.append(spark, path, ids(11, 12))                        // graft v2
    assert(DeltaLite.read(spark, path).count() === 11L)
    // both logs now sit at version 2 under one root: a cache keyed by
    // the root would hand either log the other's tip
    val graft = DeltaLite.snapshot(path)
    val delta = DeltaInterop.snapshot(spark, path)
    assert(graft.version === 2L && delta.version === 2L)
    assert(graft.files.size === 4 && delta.files.size === 3)
    assert(adopted.subsetOf(paths(graft)) && adopted.subsetOf(paths(delta)))
    assert((paths(graft) -- adopted).intersect(paths(delta) -- adopted).isEmpty,
      "each log's own appends must stay in its own snapshot")
    assert(DeltaLite.read(spark, path).select("id").as[Long].collect()
      .sorted.toSeq === ((1L to 9L) ++ (11L to 12L)))
    assert(DeltaInterop.read(spark, path).select("id").as[Long].collect()
      .sorted.toSeq === ((1L to 6L) :+ 10L))
  }

  test("interop tip cache: a foreign commit after the cached tip is read next; a tip whose next commit was cleaned up replays from the checkpoint") {
    import spark.implicits._
    val path = tmp("interop_tip_cache")
    val dir = Paths.get(path)
    val logDir = dir.resolve("_delta_log")
    def ids(p: String): Seq[Long] = DeltaInterop.read(spark, p)
      .select("id").as[Long].collect().sorted.toSeq
    DeltaInterop.exportToDelta(spark, (1L to 4L).toDF("id").coalesce(1), path)
    assert(ids(path) === (1L to 4L))                                  // tip v0 cached
    // a foreign writer lands version 1 behind the cache's back
    Seq(5L, 6L).toDF("id").coalesce(1).write.parquet(dir.resolve("foreign").toString)
    val part = {
      val s = Files.list(dir.resolve("foreign"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .find(_.endsWith(".parquet")).get
      finally s.close()
    }
    Files.write(logDir.resolve(f"${1L}%020d.json"),
      (s"""{"add":{"path":"foreign/$part","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    assert(ids(path) === (1L to 6L), "the commit after the cached tip must be read")
    assert(DeltaInterop.snapshot(spark, path).version === 1L)         // tip v1 cached
    // a twin of the table moves on without this cache: version 2, a
    // checkpoint at 2, and log cleanup of every JSON commit (0..2)
    val twin = tmp("interop_tip_cache_twin")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val w = Files.walk(from)
      try w.iterator().asScala.foreach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally w.close()
    }
    copyTree(dir, Paths.get(twin))
    DeltaInterop.exportAppend(spark, Seq(7L, 8L).toDF("id").coalesce(1), twin)
    DeltaInterop.exportCheckpoint(spark, twin)
    (0L to 2L).foreach(v => Files.delete(
      Paths.get(twin, "_delta_log").resolve(f"$v%020d.json")))
    // the table takes the twin's log: the cached tip (v1) cannot fold
    // forward — commit 2 is gone — so the read replays from checkpoint 2
    (0L to 1L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    copyTree(Paths.get(twin), dir)
    assert(ids(path) === (1L to 8L),
      "a cached tip with its next commit cleaned up must fall back to the checkpoint")
    assert(DeltaInterop.snapshot(spark, path).version === 2L)
  }

  test("fold parity: one history encoded by each codec folds to the same files — append, DV flip in [add, remove] order, path-only native remove of a DV'd file") {
    import graft.sources.DeletionVectors
    val path = tmp("interop_fold_parity")
    val dir = Paths.get(path)
    val graftLog = dir.resolve("_graft_log")
    val deltaLog = dir.resolve("_delta_log")
    Files.createDirectories(graftLog)
    Files.createDirectories(deltaLog)
    val schema = new org.apache.spark.sql.types.StructType().add("id", "long")
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(schema.json))
    val dv = DeletionVectors.Descriptor("i", "wi5b=000010000siXQKl0rr91", None, 24, 2L)
    val dvJson = DeletionVectors.toJson(dv)
    // (path, rows, min id, max id, size)
    val f1 = ("d/f1.parquet", 6L, 1L, 6L, 100L)
    val f2 = ("d/f2.parquet", 3L, 7L, 9L, 60L)
    val f3 = ("d/f3.parquet", 2L, 10L, 11L, 50L)
    val f4 = ("d/f4.parquet", 4L, 2L, 6L, 70L)
    type F = (String, Long, Long, Long, Long)
    def graftAdd(f: F, withDv: Boolean = false): String =
      s"""{"add":{"path":"${f._1}","rows":${f._2},"bytes":${f._5},"dv":${if (withDv) dvJson else "null"},"stats":{"id":{"min":${f._3},"max":${f._4}}}}}"""
    def graftRemove(f: F): String = s"""{"remove":{"path":"${f._1}"}}"""
    def graftCommit(v: Long, op: String, lines: String*): Unit =
      Files.write(graftLog.resolve(s"$v.json"), (Seq(
        s"""{"commit":{"version":$v,"op":"$op","committedAtMs":${1000 + v}}}""",
        s"""{"metaData":{"schema":$schemaJson}}""") ++ lines)
        .mkString("\n").getBytes("UTF-8"))
    def deltaAdd(f: F, withDv: Boolean = false): String =
      s"""{"add":{"path":"${f._1}","partitionValues":{},"size":${f._5},"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":${f._2},\\"minValues\\":{\\"id\\":${f._3}},\\"maxValues\\":{\\"id\\":${f._4}}}"""" +
        (if (withDv) s""","deletionVector":$dvJson""" else "") + "}}"
    def deltaRemove(f: F, withDv: Boolean = false): String =
      s"""{"remove":{"path":"${f._1}","deletionTimestamp":1,"dataChange":true""" +
        (if (withDv) s""","deletionVector":$dvJson""" else "") + "}}"
    def deltaCommit(v: Long, lines: String*): Unit =
      Files.write(deltaLog.resolve(f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    // v0: two files
    graftCommit(0L, "CREATE", graftAdd(f1), graftAdd(f2))
    deltaCommit(0L,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
      deltaAdd(f1), deltaAdd(f2))
    // v1: a DV flip of f1 — the Delta side lists the new identity FIRST
    graftCommit(1L, "DELETE_DV", graftRemove(f1), graftAdd(f1, withDv = true))
    deltaCommit(1L, deltaAdd(f1, withDv = true), deltaRemove(f1))
    // v2: an append
    graftCommit(2L, "WRITE", graftAdd(f3))
    deltaCommit(2L, deltaAdd(f3))
    // v3: the DV'd f1 compacts into f4 — the native remove names the
    // path only, the Delta remove names the logical file (path, DV)
    graftCommit(3L, "OPTIMIZE", graftRemove(f1), graftAdd(f4))
    deltaCommit(3L, deltaRemove(f1, withDv = true), deltaAdd(f4))
    def files(s: DeltaLite.Snapshot): Set[DeltaLite.AddFile] =
      s.files.map(_.copy(mtime = None)).toSet
    val expected = Seq(Set(f1, f2), Set(f1, f2), Set(f1, f2, f3), Set(f2, f3, f4))
      .map(_.map(_._1))
    (0L to 3L).foreach { v =>
      val g = DeltaLite.snapshot(path, Some(v))
      val d = DeltaInterop.snapshot(spark, path, Some(v))
      assert(files(g) === files(d), s"the two codecs fold apart at version $v")
      assert(g.files.map(_.path).toSet === expected(v.toInt), s"version $v")
    }
    val flipped = DeltaLite.snapshot(path, Some(1L)).files.find(_.path == f1._1)
    assert(flipped.flatMap(_.dv) === Some(dv),
      "the [add, remove] flip keeps the file live under its new DV")
  }

  test("checkpoint replay: snapshot reconstructs from a classic parquet checkpoint after the early JSON commits are gone") {
    val path = tmp("interop_cp")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val a = orders.filter(col("o_orderkey") % 4 === 0)
    val b = orders.filter(col("o_orderkey") % 4 === 1)
    val c = orders.filter(col("o_orderkey") % 4 === 2)
    DeltaInterop.exportToDelta(spark, a, path, Seq("o_orderstatus"))
    DeltaInterop.exportAppend(spark, b, path)
    val expectAtCp = sorted(DeltaInterop.read(spark, path))
    DeltaInterop.exportCheckpoint(spark, path) // checkpoint at version 1
    DeltaInterop.exportAppend(spark, c, path)  // version 2 rides on top
    val expectLatest = sorted(DeltaInterop.read(spark, path))
    // simulate log cleanup: versions 0 and 1 JSON removed — only the
    // checkpoint can serve them now
    val logDir = Paths.get(path, "_delta_log")
    Files.delete(logDir.resolve(f"${0L}%020d.json"))
    Files.delete(logDir.resolve(f"${1L}%020d.json"))
    DeltaLite.clearSnapshotCache()
    assert(sorted(DeltaInterop.read(spark, path)) === expectLatest,
      "checkpoint + tail commit must reconstruct the latest state")
    assert(sorted(DeltaInterop.read(spark, path, Some(1L))) === expectAtCp,
      "the checkpointed version itself must replay from the checkpoint")
    // partition values survived the checkpoint as a typed column
    assert(DeltaInterop.read(spark, path)
      .filter(col("o_orderstatus") === "O").count() > 0)
    // a version BELOW the checkpoint with no JSON left declines loudly
    val gone = intercept[Exception] {
      DeltaInterop.snapshot(spark, path, Some(0L))
    }
    assert(gone.getMessage.contains("0"))
  }

  test("column mapping 'name' mode: physical parquet names read as logical columns, physical-keyed stats prune, physical pv re-attaches, convert carries the mapping") {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType, LongType, StringType}
    val path = tmp("interop_colmap")
    val dir = Paths.get(path)
    val logDir = dir.resolve("_delta_log")
    Files.createDirectories(logDir)
    def mapped(phys: String): Metadata = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, mapped("col-aaa")),
      StructField("s", StringType, nullable = true, mapped("col-bbb")),
      StructField("p", StringType, nullable = true, mapped("col-ppp"))))
    // data files carry ONLY physical names (and no partition column)
    import spark.implicits._
    Seq((1L, "x1"), (2L, "x2")).toDF("col-aaa", "col-bbb").coalesce(1)
      .write.parquet(dir.resolve("d1").toString)
    Seq((10L, "y1")).toDF("col-aaa", "col-bbb").coalesce(1)
      .write.parquet(dir.resolve("d2").toString)
    def onlyPart(sub: String): String = {
      val s = Files.list(dir.resolve(sub))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally s.close()
    }
    val f1 = s"d1/${onlyPart("d1")}"
    val f2 = s"d2/${onlyPart("d2")}"
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(schema.json))
    Files.write(logDir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m-cm","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}""",
      // partitionValues and stats are keyed by PHYSICAL names, as a
      // real column-mapped writer produces them
      s"""{"add":{"path":"$f1","partitionValues":{"col-ppp":"east"},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"col-aaa\\":1},\\"maxValues\\":{\\"col-aaa\\":2}}"}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"col-ppp":"west"},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":1,\\"minValues\\":{\\"col-aaa\\":10},\\"maxValues\\":{\\"col-aaa\\":10}}"}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    // logical read: logical names, typed partition column from pv
    val df = DeltaInterop.read(spark, path)
    assert(df.columns.toSeq === Seq("id", "s", "p"))
    assert(df.filter(col("p") === "east").count() === 2L)
    assert(df.filter(col("id") === 10L).select("s").head().getString(0)
      === "y1")
    // stats prune on the LOGICAL bound through the physical key
    val snap = DeltaInterop.snapshot(spark, path)
    val kept = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("id", lower = Some(5L))))
    assert(kept.map(_.path) === Seq(f2),
      "physical-keyed stats must prune via the logical column bound")
    // pv-based pruning on the partition column (logical name)
    val keptPv = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("p", Some("east"), Some("east"))))
    assert(keptPv.map(_.path) === Seq(f1))
    // zero-copy convert carries the mapping; the native read aliases
    // the same physical columns back to logical
    DeltaInterop.convertFromDelta(spark, path)
    val native = DeltaLite.read(spark, path)
    assert(native.columns.toSeq === Seq("id", "s", "p"))
    assert(native.orderBy("id").select("id").collect().map(_.getLong(0))
      .toSeq === Seq(1L, 2L, 10L))
  }

  test("column mapping 'id' mode: parquet columns resolve by FIELD ID even when file names differ from physicalName; stats prune; convert declines") {
    import org.apache.spark.sql.types.{LongType, Metadata, MetadataBuilder, StringType, StructField, StructType}
    import org.apache.spark.sql.Row
    val path = tmp("interop_colmap_id")
    val dir = Paths.get(path)
    val logDir = dir.resolve("_delta_log")
    Files.createDirectories(logDir)
    // data files: column NAMES are deliberately NOT the physicalNames
    // ("zzz-*" vs "col-*") — only field-id resolution reads them right;
    // a name-based read would resolve every column to NULL
    def fid(id: Long): Metadata = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val fileSchema = StructType(Seq(
      StructField("zzz-1", LongType, nullable = true, fid(1)),
      StructField("zzz-2", StringType, nullable = true, fid(2))))
    def writeFile(sub: String, rows: Seq[(Long, String)]): String = {
      val jrows = new java.util.ArrayList[Row]()
      rows.foreach(r => jrows.add(Row(r._1, r._2)))
      spark.createDataFrame(jrows, fileSchema)
        .coalesce(1).write.parquet(dir.resolve(sub).toString)
      val s = Files.list(dir.resolve(sub))
      try s"$sub/" + s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally s.close()
    }
    val f1 = writeFile("d1", Seq((1L, "x1"), (2L, "x2")))
    val f2 = writeFile("d2", Seq((10L, "y1")))
    def mapped(id: Long, phys: String): Metadata = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, mapped(1, "col-a")),
      StructField("s", StringType, nullable = true, mapped(2, "col-b"))))
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(schema.json))
    Files.write(logDir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m-cmid","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"col-a\\":1},\\"maxValues\\":{\\"col-a\\":2}}"}}""",
      s"""{"add":{"path":"$f2","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":1,\\"minValues\\":{\\"col-a\\":10},\\"maxValues\\":{\\"col-a\\":10}}"}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val df = DeltaInterop.read(spark, path)
    assert(df.columns.toSeq === Seq("id", "s"))
    assert(df.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "x1"), (2L, "x2"), (10L, "y1")),
      "field-id resolution must read the differently-named columns")
    // the translated parquet.field.id metadata must NOT leak out of
    // the returned frame: the session's field-id reader stays on, so a
    // caller copying this schema to read OTHER parquet would silently
    // switch that read to by-id resolution (review finding)
    assert(df.schema.fields.forall(
      !_.metadata.contains("parquet.field.id")),
      "returned schema must not carry the translated field-id metadata")
    // physical-keyed stats still prune through the logical bound
    val snap = DeltaInterop.snapshot(spark, path)
    val kept = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("id", lower = Some(5L))))
    assert(kept.map(_.path) === Seq(f2))
    // the V1 relation dispatch reads it too
    assert(spark.read.format("graft-delta").load(path).count() === 3L)
    // CONVERT declines: the native reader resolves by physical NAME,
    // which these files deliberately do not carry
    val conv = intercept[IllegalArgumentException] {
      DeltaInterop.convertFromDelta(spark, path)
    }
    assert(conv.getMessage.contains("'id'"))
  }

  test("tableChanges: dataChange=false rewrites are invisible; cdc actions take precedence over add/remove for their commit") {
    import spark.implicits._
    val path = tmp("interop_cdf")
    val dir = Paths.get(path)
    val logDir = dir.resolve("_delta_log")
    DeltaInterop.exportToDelta(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    DeltaInterop.exportAppend(spark, Seq((3L, "c")).toDF("id", "s"), path)
    // v2: hand-authored COMPACTION — remove both files, re-add one
    // combined file, all dataChange=false: the feed must emit NOTHING
    val snap = DeltaInterop.snapshot(spark, path)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1)
      .write.parquet(dir.resolve("compacted").toString)
    val compactedFile = {
      val w = Files.list(dir.resolve("compacted"))
      try "compacted/" + w.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally w.close()
    }
    val removeLines = snap.files.map(f =>
      s"""{"remove":{"path":"${f.path}","deletionTimestamp":1,"dataChange":false}}""")
    Files.write(logDir.resolve(f"${2L}%020d.json"), (removeLines :+
      s"""{"add":{"path":"$compactedFile","partitionValues":{},"size":1,"modificationTime":1,"dataChange":false}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val afterCompact = DeltaInterop.tableChanges(spark, path, 2L, 2L)
    assert(afterCompact.count() === 0L,
      "a dataChange=false rewrite must be invisible to the change feed")
    // the snapshot itself DID change files but not rows
    assert(DeltaInterop.read(spark, path).count() === 3L)
    // v0..v1 deliver the initial inserts and the append
    val feed = DeltaInterop.tableChanges(spark, path, 0L, 1L)
      .select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(feed === Set((1L, "insert", 0L), (2L, "insert", 0L),
      (3L, "insert", 1L)))
    // v3: a cdc-action commit — its change files are the ONLY source
    // (the paired remove/add must NOT also surface as delete/insert)
    val preSchema = DeltaInterop.snapshot(spark, path).schema
    Seq((2L, "b", "update_preimage"), (2L, "B2", "update_postimage"))
      .toDF("id", "s", "_change_type").coalesce(1)
      .write.parquet(dir.resolve("cdc0").toString)
    val cdcFile = {
      val w = Files.list(dir.resolve("cdc0"))
      try "cdc0/" + w.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally w.close()
    }
    Seq((1L, "a"), (2L, "B2"), (3L, "c")).toDF("id", "s").coalesce(1)
      .write.parquet(dir.resolve("upd").toString)
    val updFile = {
      val w = Files.list(dir.resolve("upd"))
      try "upd/" + w.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally w.close()
    }
    Files.write(logDir.resolve(f"${3L}%020d.json"), Seq(
      s"""{"cdc":{"path":"$cdcFile","partitionValues":{},"size":1,"dataChange":false}}""",
      s"""{"remove":{"path":"$compactedFile","deletionTimestamp":2,"dataChange":true}}""",
      s"""{"add":{"path":"$updFile","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val upd = DeltaInterop.tableChanges(spark, path, 3L, 3L)
      .select("id", "s", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(upd === Set((2L, "b", "update_preimage"),
      (2L, "B2", "update_postimage")),
      s"cdc files must be the commit's only change source, got $upd")
    assert(preSchema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("exportOverwrite: one atomic contents swap, history time-travels, the change feed sees delete+insert") {
    import spark.implicits._
    val path = tmp("interop_overwrite")
    DeltaInterop.exportToDelta(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    DeltaInterop.exportOverwrite(spark,
      Seq((10L, "x"), (11L, "y"), (12L, "z")).toDF("id", "s"), path)
    assert(DeltaInterop.read(spark, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(10L, 11L, 12L))
    assert(DeltaInterop.read(spark, path, Some(0L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L), "the pre-overwrite version must stay readable")
    val feed = DeltaInterop.tableChanges(spark, path, 1L, 1L)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((1L, "delete"), (2L, "delete"),
      (10L, "insert"), (11L, "insert"), (12L, "insert")),
      s"the overwrite commit is a delete of the old contents plus the " +
        s"new inserts: $feed")
    // schema mismatch declines loudly
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.exportOverwrite(spark,
        Seq((1, "bad-int-id")).toDF("id", "s"), path)
    }
    assert(e.getMessage.contains("exportOverwrite schema"))
  }

  test("foldCommitRange parses each commit exactly once across the whole range (the O(range), not O(range²), pin)") {
    import spark.implicits._
    val path = tmp("interop_fold")
    DeltaInterop.exportToDelta(spark, Seq((0L, "v0")).toDF("id", "s"), path)
    (1L to 7L).foreach(v => DeltaInterop.exportAppend(spark,
      Seq((v, s"v$v")).toDF("id", "s"), path))
    // diff the THREAD-LOCAL counter: suites run in parallel, so the
    // global one can absorb another suite's folds mid-measurement
    def counted[T](body: => T): (T, Long) = {
      val before = DeltaInterop.foldedCommitsLocal.get(): Long
      val r = body
      (r, (DeltaInterop.foldedCommitsLocal.get(): Long) - before)
    }
    // materialize (count()) so the frames' reads also run — the pin is
    // about DRIVER-side log work, which happens at construction
    val (nCdf, parsedCdf) = counted(
      DeltaInterop.tableChanges(spark, path, 0L, 7L).count())
    assert(nCdf === 8L)
    assert(parsedCdf === 8L,
      s"an 8-commit change feed must parse exactly 8 commits, " +
        s"parsed $parsedCdf (a per-version snapshot replay would " +
        "multiply this)")
    val (nApp, parsedApp) = counted(
      DeltaInterop.readVersionAppends(spark, path, None, 7L).count())
    assert(nApp === 8L)
    assert(parsedApp === 8L,
      s"an 8-version streaming batch must parse exactly 8 commits, " +
        s"parsed $parsedApp")
  }

  test("DV codec: decoder matches HAND-COMPUTED spec bytes (not just its own encoder), Z85 pins the reference vector, encoder round-trips") {
    import graft.sources.DeletionVectors
    // Z85 reference vector from the ZeroMQ spec (32/Z85): the 8 bytes
    // 86 4F D2 6F B5 59 F7 5B encode exactly as "HelloWorld" — pins the
    // alphabet and big-endian block order against the PUBLIC spec
    val helloBytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(DeletionVectors.z85Encode(helloBytes) === "HelloWorld")
    assert(DeletionVectors.z85Decode("HelloWorld").toSeq === helloBytes.toSeq)
    // hand-computed portable RoaringBitmapArray holding {0, 2, 5}:
    // magic 1681511377 LE | count=1 LE int64 | key=0 LE int32 |
    // roaring32: cookie 12346 LE | size=1 LE | header (key=0,
    // card-1=2) | offset=16 LE | values 0,2,5 as uint16 LE
    val fixtureA = Array[Int](
      0xd1, 0xd3, 0x39, 0x64, // magic
      1, 0, 0, 0, 0, 0, 0, 0, // one bitmap
      0, 0, 0, 0,             // key 0
      0x3a, 0x30, 0, 0,       // cookie SERIAL_COOKIE_NO_RUNCONTAINER
      1, 0, 0, 0,             // one container
      0, 0, 2, 0,             // container key 0, cardinality-1 = 2
      16, 0, 0, 0,            // container offset from bitmap start
      0, 0, 2, 0, 5, 0        // values
    ).map(_.toByte)
    assert(DeletionVectors.positions(fixtureA).toSeq === Seq(0L, 2L, 5L))
    // two 32-bit keys: {3} under key 0 and {7} under key 1 → the
    // 64-bit positions 3 and 2^32+7 (pins the key↔high-bits splice)
    val fixtureB = Array[Int](
      0xd1, 0xd3, 0x39, 0x64,
      2, 0, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0,
      0x3a, 0x30, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 16, 0, 0, 0, 3, 0,
      1, 0, 0, 0,
      0x3a, 0x30, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 16, 0, 0, 0, 7, 0
    ).map(_.toByte)
    assert(DeletionVectors.positions(fixtureB).toSeq ===
      Seq(3L, (1L << 32) + 7L))
    // encoder round-trip incl. a >4096-cardinality container (bitmap
    // encoding) and a second 16-bit container key
    val big = ((0L until 5000L) ++ Seq(70000L, (1L << 32) + 11L)).toArray
    assert(DeletionVectors.positions(DeletionVectors.serialize(big)).toSeq
      === big.toSeq)
  }

  test("DV codec: cross-checked against org.roaringbitmap 1.3.0 serialize() bytes (array, bitmap AND run containers) — a cookie swap or header misread cannot survive this") {
    import graft.sources.DeletionVectors
    import org.roaringbitmap.RoaringBitmap
    // Delta's portable RoaringBitmapArray concatenates STANDARD 32-bit
    // RoaringBitmaps under int32 keys, so per-key cross-checking against
    // the real library (bundled with Spark at /opt/spark/jars) pins our
    // codec to the wire format actual delta-spark/delta-rs DVs use —
    // self-consistent encoder/decoder pairs pass round-trips even when
    // both share a spec misreading; this test cannot.
    def wrap64(r32: Array[Byte], key: Int = 0): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 + 4 + r32.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(1681511377); bb.putLong(1L); bb.putInt(key)
      bb.put(r32); bb.array()
    }
    def libSer(r: RoaringBitmap): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(r.serializedSizeInBytes())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      r.serialize(bb); bb.array()
    }
    // 1. array container, no runs → cookie 12346 path
    val arr = RoaringBitmap.bitmapOf(0, 2, 5, 40000)
    assert(DeletionVectors.positions(wrap64(libSer(arr))).toSeq ===
      Seq(0L, 2L, 5L, 40000L))
    // 2. dense >4096 container → bitmap container + a second 16-bit key
    val dense = new RoaringBitmap
    (0 until 5000).foreach(dense.add); dense.add(70000)
    assert(DeletionVectors.positions(wrap64(libSer(dense))).toSeq ===
      ((0L until 5000L) :+ 70000L))
    // 3. runOptimize → run cookie 12347, size<4 so NO offsets section
    val runs = new RoaringBitmap
    runs.add(10L, 1001L); runs.add(2000)
    assert(runs.runOptimize(), "fixture must actually hold run containers")
    assert(DeletionVectors.positions(wrap64(libSer(runs))).toSeq ===
      ((10L until 1001L) :+ 2000L))
    // 4. runs under MANY 16-bit keys (>=4 containers) → run cookie WITH
    // the offsets section present
    val runsWide = new RoaringBitmap
    (0 until 5).foreach(k => runsWide.add(k.toLong << 16, (k.toLong << 16) + 50L))
    assert(runsWide.runOptimize())
    assert(DeletionVectors.positions(wrap64(libSer(runsWide))).length === 250)
    // 5. OUR serialize() must parse back through the real library —
    // the direction real Delta engines exercise on our written DVs
    val ours = DeletionVectors.serialize(
      ((0L until 4200L) ++ Seq(99999L)).toArray)
    val bb = java.nio.ByteBuffer.wrap(ours)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt === 1681511377); assert(bb.getLong === 1L)
    assert(bb.getInt === 0)
    val lib = new RoaringBitmap
    lib.deserialize(bb.slice().order(java.nio.ByteOrder.LITTLE_ENDIAN))
    assert(lib.getLongCardinality === 4201L)
    assert(lib.contains(0) && lib.contains(4199) && lib.contains(99999))
    assert(!lib.contains(4200) && !lib.contains(99998))
  }

  test("deletion vectors: snapshot read drops exactly the deleted rows; time travel, CDF diff, streaming gate, convert-as-translation, export decline, CRC tripwire") {
    import graft.sources.DeletionVectors
    import spark.implicits._
    val path = tmp("interop_dv")
    val dir = Paths.get(path)
    val logDir = dir.resolve("_delta_log")
    Files.createDirectories(logDir)
    // one data file with a KNOWN physical row order (single in-memory
    // partition → coalesce(1) preserves it): ids 1..6
    Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id").coalesce(1)
      .write.parquet(dir.resolve("d1").toString)
    def onlyPart(sub: String): String = {
      val s = Files.list(dir.resolve(sub))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally s.close()
    }
    val f1 = s"d1/${onlyPart("d1")}"
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").json))
    def dvJson(d: DeletionVectors.Descriptor): String =
      s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset.getOrElse(1)},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    def commit(v: Long, lines: String*): Unit =
      Files.write(logDir.resolve(f"$v%020d.json"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    def addLine(dv: Option[DeletionVectors.Descriptor]): String =
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true""" +
        dv.map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("") +
        "}}"
    // removes NAME the logical file they evict — path + its current DV
    // (PROTOCOL.md reconciliation identity; the replayer matches on it)
    def removeLine(dv: Option[DeletionVectors.Descriptor]): String =
      s"""{"remove":{"path":"$f1","deletionTimestamp":1700000000000,"dataChange":true""" +
        dv.map(d => s""","deletionVector":${dvJson(d)}""").getOrElse("") +
        "}}"
    // v0: plain add; v1: DV {0,2} (deletes ids 1,3); v2: DV grows to
    // {0,2,4} (newly deletes id 5); v3: DV shrinks to {0} (restores 3,5)
    val dv1 = DeletionVectors.writeDvFile(dir,
      DeletionVectors.serialize(Array(0L, 2L)), 2L)
    val dv2 = DeletionVectors.writeDvFile(dir,
      DeletionVectors.serialize(Array(0L, 2L, 4L)), 3L)
    val dv3 = DeletionVectors.writeDvFile(dir,
      DeletionVectors.serialize(Array(0L)), 1L)
    commit(0L,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m-dv","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.enableDeletionVectors":"true"}}}""",
      addLine(None))
    commit(1L, removeLine(None), addLine(Some(dv1)))
    commit(2L, removeLine(Some(dv1)), addLine(Some(dv2)))
    commit(3L, removeLine(Some(dv2)), addLine(Some(dv3)))
    def ids(df: DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // snapshot + time travel across every DV state
    assert(ids(DeltaInterop.read(spark, path, Some(0L))) === Seq(1L, 2, 3, 4, 5, 6))
    assert(ids(DeltaInterop.read(spark, path, Some(1L))) === Seq(2L, 4, 5, 6))
    assert(ids(DeltaInterop.read(spark, path, Some(2L))) === Seq(2L, 4, 6))
    assert(ids(DeltaInterop.read(spark, path)) === Seq(2L, 3, 4, 5, 6))
    // CDF: v1 deletes ids 1,3; v2 deletes id 5; v3 RESTORES ids 3,5
    val cdf = DeltaInterop.tableChanges(spark, path, 1L, 3L)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(cdf === Seq(
      (1L, "delete", 1L), (3L, "delete", 1L),
      (3L, "insert", 3L), (5L, "delete", 2L), (5L, "insert", 3L)),
      s"DV flips must diff into row-level deletes/restores, got $cdf")
    // streaming: a DV flip is a rewrite — gate unless allowRewrites;
    // with rewrites allowed, delivery excludes the deleted rows
    val gate = intercept[Exception] {
      DeltaInterop.readVersionAppends(spark, path, Some(0L), 1L).collect()
    }
    assert(gate.getMessage.contains("rewrote"))
    assert(ids(DeltaInterop.readVersionAppends(spark, path, Some(0L), 1L,
      allowRewrites = true)) === Seq(2L, 4, 5, 6))
    // inline-DV twin table: same bitmap, storageType "i" (Z85 pads to
    // 4-byte blocks; sizeInBytes carries the true length)
    val inlinePath = tmp("interop_dv_inline")
    val idir = Paths.get(inlinePath)
    Files.createDirectories(idir.resolve("_delta_log"))
    Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id").coalesce(1)
      .write.parquet(idir.resolve("d1").toString)
    val if1 = {
      val s = Files.list(idir.resolve("d1"))
      try "d1/" + s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally s.close()
    }
    def inlineDesc(pos: Array[Long]): String = {
      val raw = DeletionVectors.serialize(pos)
      val padded = raw ++ Array.fill((4 - raw.length % 4) % 4)(0.toByte)
      s"""{"storageType":"i","pathOrInlineDv":"${DeletionVectors.z85Encode(padded)}","sizeInBytes":${raw.length},"cardinality":${pos.length}}"""
    }
    val inline1 = inlineDesc(Array(0L, 2L))
    Files.write(idir.resolve("_delta_log").resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"m-i","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$if1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$inline1}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(ids(DeltaInterop.read(spark, inlinePath)) === Seq(2L, 4, 5, 6))
    // spec-legal ACTION ORDER: line order within a commit is not
    // guaranteed — a DV flip ordered [add(newDV), remove(oldDV)] must
    // keep the file live (the remove names the SUPERSEDED logical
    // file); path-only reconciliation dropped the whole file here
    Files.write(idir.resolve("_delta_log").resolve(f"${1L}%020d.json"), Seq(
      s"""{"add":{"path":"$if1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":${inlineDesc(Array(0L, 2L, 4L))}}}""",
      s"""{"remove":{"path":"$if1","deletionTimestamp":1700000000001,"dataChange":true,"deletionVector":$inline1}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(ids(DeltaInterop.read(spark, inlinePath)) === Seq(2L, 4, 6),
      "an add-before-remove DV flip must keep the file live with the NEW DV")
    // checkpoints RESTATE per-add DV structs (the add struct's
    // deletionVector column): a reader fast-starting from the
    // checkpoint ALONE — every JSON commit cleaned up — still
    // excludes exactly the deleted rows
    DeltaInterop.exportCheckpoint(spark, path)
    (0L to 3L).foreach(v =>
      Files.delete(logDir.resolve(f"$v%020d.json")))
    DeltaLite.clearSnapshotCache()
    assert(ids(DeltaInterop.read(spark, path)) === Seq(2L, 3, 4, 5, 6),
      "a checkpoint-only fast-start must carry the DV state")
    // CONVERT adopts the DV descriptors unchanged (both logs store the
    // one standard format): no data or DV file is copied or decoded;
    // the native read and the full native write surface work after
    DeltaInterop.convertFromDelta(spark, path)
    assert(ids(DeltaLite.read(spark, path)) === Seq(2L, 3, 4, 5, 6))
    val nv = DeltaLite.deleteVectorized(spark, path, col("id") === 4L)
    assert(nv === 1L)
    assert(ids(DeltaLite.read(spark, path)) === Seq(2L, 3, 5, 6))
    // CRC tripwire: corrupt one byte of dv3's bitmap → the read fails
    // loudly instead of resurrecting or dropping rows
    val dvFile = DeletionVectors.dvFilePath(dir, dv3)
    val bytes = Files.readAllBytes(dvFile)
    bytes(bytes.length - 6) = (bytes(bytes.length - 6) ^ 0x7f).toByte
    Files.write(dvFile, bytes)
    val crc = intercept[Exception] {
      DeltaInterop.read(spark, path + "") // fresh replay, no cache
      DeltaInterop.tableChanges(spark, path, 3L, 3L).collect()
    }
    assert(crc.getMessage.toLowerCase.contains("crc"),
      s"a corrupt DV must fail its checksum loudly: $crc")
  }

  test("add-before-metaData commit replays correctly: stats still type (prune) and partition columns still re-attach") {
    // PROTOCOL.md does not guarantee metaData precedes add within a
    // commit — a writer emitting adds first must not cost us stats
    // typing (pruning) or partition re-attachment (advice finding: the
    // JSON path lacked the isMeta reordering the checkpoint path had)
    import spark.implicits._
    val path = tmp("interop_addfirst")
    val dir = Paths.get(path)
    val logDir = dir.resolve("_delta_log")
    Files.createDirectories(logDir)
    Seq((1L, "x"), (2L, "y")).toDF("id", "s").coalesce(1)
      .write.parquet(dir.resolve("d1").toString)
    Seq((10L, "z")).toDF("id", "s").coalesce(1)
      .write.parquet(dir.resolve("d2").toString)
    def onlyPart(sub: String): String = {
      val s = Files.list(dir.resolve(sub))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally s.close()
    }
    val (f1, f2) = (s"d1/${onlyPart("d1")}", s"d2/${onlyPart("d2")}")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("s", "string").add("p", "string")
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(schema.json))
    // adds FIRST, then metaData, then protocol — worst-case line order
    Files.write(logDir.resolve(f"${0L}%020d.json"), Seq(
      s"""{"add":{"path":"$f1","partitionValues":{"p":"east"},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"id\\":1},\\"maxValues\\":{\\"id\\":2}}"}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"p":"west"},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":1,\\"minValues\\":{\\"id\\":10},\\"maxValues\\":{\\"id\\":10}}"}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":["p"],"configuration":{}}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val df = DeltaInterop.read(spark, path)
    assert(df.filter(col("p") === "east").count() === 2L,
      "partition column must re-attach despite add-before-metaData")
    val snap = DeltaInterop.snapshot(spark, path)
    val kept = DeltaLite.pruneFiles(snap,
      Seq(DeltaLite.ColumnBound("id", lower = Some(5L))))
    assert(kept.map(_.path) === Seq(f2),
      "stats must type (and prune) despite add-before-metaData")
  }

  test("exportCheckpoint: state-bearing writer features decline; tombstones within retention ride along; pointer write is atomic-replayable") {
    import spark.implicits._
    // 1) a domainMetadata-featured table is READABLE but must DECLINE
    //    checkpointing — the classic schema cannot restate its state
    val declined = tmp("interop_cp_gate")
    val dLog = Paths.get(declined, "_delta_log")
    Files.createDirectories(dLog)
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").json))
    Files.write(dLog.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata"]}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(DeltaInterop.snapshot(spark, declined).files.isEmpty)
    val e = intercept[IllegalArgumentException] {
      DeltaInterop.exportCheckpoint(spark, declined)
    }
    assert(e.getMessage.contains("domainMetadata"),
      s"state-bearing writer feature must decline checkpointing: $e")
    // 2) tombstones: overwrite removes v0's files; the checkpoint must
    //    carry them as remove rows (retention default = 1 week)
    val path = tmp("interop_cp_tomb")
    DeltaInterop.exportToDelta(spark, Seq((1L, "a")).toDF("id", "s"), path)
    val v0Files = DeltaInterop.snapshot(spark, path).files.map(_.path)
    DeltaInterop.exportOverwrite(spark, Seq((2L, "b")).toDF("id", "s"), path)
    DeltaInterop.exportCheckpoint(spark, path)
    val logDir = Paths.get(path, "_delta_log")
    val cp = spark.read.parquet(
      logDir.resolve(f"${1L}%020d.checkpoint.parquet").toString)
    val tombPaths = cp.filter(col("remove").isNotNull)
      .select(col("remove.path")).collect().map(_.getString(0)).toSeq
    assert(tombPaths.sorted === v0Files.sorted,
      "the overwritten files' tombstones must ride the checkpoint")
    assert(cp.filter(col("remove.dataChange") === true).count() === 0,
      "checkpoint tombstones restate — never dataChange=true")
    // 3) checkpoint-only replay still serves the live state (tombstone
    //    rows must not resurrect or drop anything)
    Files.delete(logDir.resolve(f"${0L}%020d.json"))
    Files.delete(logDir.resolve(f"${1L}%020d.json"))
    DeltaLite.clearSnapshotCache()
    assert(DeltaInterop.read(spark, path).collect().map(_.toString).toSeq
      === Seq("[2,b]"))
    // 4) the pointer parses and points at the checkpoint version; a
    //    second checkpoint REPLACES it atomically (no clobber window)
    val ptr = new String(Files.readAllBytes(
      logDir.resolve("_last_checkpoint")), "UTF-8")
    assert(ptr.contains("\"version\":1"))
    DeltaInterop.exportAppend(spark, Seq((3L, "c")).toDF("id", "s"), path)
    DeltaInterop.exportCheckpoint(spark, path)
    val ptr2 = new String(Files.readAllBytes(
      logDir.resolve("_last_checkpoint")), "UTF-8")
    assert(ptr2.contains("\"version\":2"))
    // 5) multi-unit retention configs are legal CalendarIntervals
    //    ("interval 1 day 12 hours") — the checkpoint must parse them,
    //    and a tombstone inside the window rides along
    val p4 = tmp("interop_cp_retention")
    val log4 = Paths.get(p4, "_delta_log")
    Files.createDirectories(log4)
    val schemaJson2 = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").json))
    Files.write(log4.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson2,"partitionColumns":[],"configuration":{"delta.deletedFileRetentionDuration":"interval 1 day 12 hours"}}}""",
      """{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(log4.resolve(f"${1L}%020d.json"),
      (s"""{"remove":{"path":"f.parquet","deletionTimestamp":${System.currentTimeMillis() - 3600 * 1000L},"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    DeltaInterop.exportCheckpoint(spark, p4)
    val cp4 = spark.read.parquet(
      log4.resolve(f"${1L}%020d.checkpoint.parquet").toString)
    assert(cp4.filter(col("remove").isNotNull).count() === 1L,
      "a 1h-old tombstone sits inside the 1.5-day window")
  }

  test("a checkpoint RESTATES the table's protocol: checkpoint-only replay still declines v7 writes (no gate laundering)") {
    import spark.implicits._
    val path = tmp("interop_cp_protocol")
    val logDir = Paths.get(path, "_delta_log")
    Files.createDirectories(logDir)
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").json))
    Files.write(logDir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    // checkpoint while the table is still legacy-protocol…
    DeltaInterop.exportCheckpoint(spark, path)
    // …then a TAIL commit upgrades to v7 with an unmet writer feature,
    // and log cleanup removes the original protocol's JSON source
    Files.write(logDir.resolve(f"${1L}%020d.json"),
      ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["appendOnly","invariants","rowTracking"]}}""" +
        "\n").getBytes("UTF-8"))
    Files.delete(logDir.resolve(f"${0L}%020d.json"))
    DeltaLite.clearSnapshotCache()
    assert(DeltaInterop.snapshot(spark, path).files.isEmpty,
      "checkpoint fast-start + tail commit must reconstruct the table")
    val e = intercept[Exception] {
      DeltaInterop.exportAppend(spark, Seq(1L).toDF("id"), path)
    }
    assert(e.getMessage.contains("minWriterVersion") &&
      e.getMessage.contains("rowTracking"),
      s"the v7 writer requirement must survive checkpoint fast-start " +
        s"— losing the tail protocol would launder the write past the " +
        s"gate: $e")
    // and a protocol carried ONLY by a foreign checkpoint's OWN rows
    // (zero JSON commits left) gates too — a replay that dropped or
    // defaulted the checkpoint's protocol row would launder the write
    // (the original review-finding case; our own exportCheckpoint
    // can't author this table because rowTracking isn't
    // checkpoint-safe, so hand-author the foreign checkpoint)
    val path2 = tmp("interop_cp_protocol2")
    val log2 = Paths.get(path2, "_delta_log")
    Files.createDirectories(log2)
    val cpLines = Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["timestampNtz"],"writerFeatures":["timestampNtz","rowTracking"]}}""",
      s"""{"metaData":{"id":"m2","format":{"provider":"parquet"},"schemaString":$schemaJson}}""")
    val tmpCp = Files.createTempDirectory(log2, ".cp-author")
    spark.read.json(spark.createDataset(cpLines)(
      org.apache.spark.sql.Encoders.STRING)).coalesce(1)
      .write.mode("overwrite").parquet(tmpCp.toString)
    val part = {
      val s = Files.list(tmpCp)
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    Files.move(part, log2.resolve(f"${0L}%020d.checkpoint.parquet"))
    assert(DeltaInterop.snapshot(spark, path2).files.isEmpty,
      "the foreign checkpoint alone must reconstruct the table")
    val e2 = intercept[Exception] {
      DeltaInterop.exportAppend(spark, Seq(1L).toDF("id"), path2)
    }
    assert(e2.getMessage.contains("rowTracking"),
      s"a checkpoint-row protocol must gate writes like a commit-row " +
        s"one: $e2")
  }

  test("an INCOMPLETE multi-part checkpoint is never replayed: missing parts decline to JSON or fail loudly, never drop rows") {
    val path = tmp("interop_multipart")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaInterop.exportToDelta(spark, orders, path)
    val logDir = Paths.get(path, "_delta_log")
    // hand-author a 2-part classic checkpoint at version 0 by splitting
    // the single-part one this module writes
    DeltaInterop.exportCheckpoint(spark, path)
    val single = logDir.resolve(f"${0L}%020d.checkpoint.parquet")
    assert(Files.exists(single))
    val p1 = logDir.resolve(
      f"${0L}%020d.checkpoint.${1}%010d.${2}%010d.parquet")
    val p2 = logDir.resolve(
      f"${0L}%020d.checkpoint.${2}%010d.${2}%010d.parquet")
    Files.copy(single, p1)
    Files.copy(single, p2) // content dup is fine: presence is under test
    Files.delete(single)
    val expected = DeltaInterop.read(spark, path).count()
    assert(expected === orders.count(),
      "a COMPLETE 2-part checkpoint must replay (commit 0 also exists)")
    // drop part 2 AND the JSON commit: state is unreconstructible —
    // the reader must throw, never serve half the adds
    Files.delete(p2)
    Files.delete(logDir.resolve(f"${0L}%020d.json"))
    val e = intercept[Exception] {
      DeltaInterop.snapshot(spark, path)
    }
    assert(e.getMessage.contains("reconstruct") ||
      e.getMessage.contains("no standard Delta log"),
      s"partial checkpoint must fail loudly, got: ${e.getMessage}")
  }

  test("exportDeleteWhere: row-level DV delete — zero rewrite, union on re-delete, protocol upgrade, CDF derivation, post-upgrade writes") {
    import graft.sources.DeletionVectors
    import spark.implicits._
    val path = tmp("interop_dv_delete")
    val dir = Paths.get(path)
    // two data files (two commits) so the delete touches a SUBSET
    DeltaInterop.exportToDelta(spark,
      (1L to 8L).toDF("id").coalesce(1), path)                       // v0
    DeltaInterop.exportAppend(spark,
      (9L to 16L).toDF("id").coalesce(1), path)                      // v1
    def dataFiles(): Set[String] = {
      val s = Files.walk(dir)
      try s.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_delta_log"))
        .toSet
      finally s.close()
    }
    val filesBefore = dataFiles()
    def ids(df: DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // delete multiples of 3 → rows 3,6,9,12,15 gone, ZERO files rewritten
    val v2 = DeltaInterop.exportDeleteWhere(spark, path, "id % 3 = 0")
    assert(v2 === 2L)
    assert(ids(DeltaInterop.read(spark, path)) ===
      (1L to 16L).filterNot(_ % 3 == 0))
    assert(dataFiles() === filesBefore,
      "a DV delete must rewrite ZERO data files")
    assert(ids(DeltaInterop.read(spark, path, Some(1L))) === (1L to 16L),
      "time travel must still see the pre-delete state")
    // the upgrade commit carries the protocol + per-add DV descriptors
    val commitJson = new String(Files.readAllBytes(
      dir.resolve("_delta_log").resolve(f"${2L}%020d.json")), "UTF-8")
    assert(commitJson.contains(""""minWriterVersion":7""") &&
      commitJson.contains(""""deletionVectors"""") &&
      commitJson.contains(""""appendOnly"""") &&
      commitJson.contains(""""invariants""""),
      "the first DV flip must upgrade protocol, restating the legacy-" +
        s"implied features: $commitJson")
    assert(commitJson.contains(""""deletionVector":{"storageType":"u""""),
      "flipped adds must carry u-typed DV descriptors")
    assert(commitJson.contains("""\"tightBounds\":false"""),
      "a DV'd add's stats must declare tightBounds false")
    // our own CDF derives the row-level deletes from the DV diff
    val cdf = DeltaInterop.tableChanges(spark, path, 2L, 2L)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(cdf === Seq(3L, 6L, 9L, 12L, 15L).map(_ -> "delete"),
      s"CDF must see exactly the deleted rows: $cdf")
    // RE-delete (multiples of 4): union with the existing DVs — never
    // a DV that forgets prior deletes
    val v3 = DeltaInterop.exportDeleteWhere(spark, path, "id % 4 = 0")
    assert(v3 === 3L)
    assert(ids(DeltaInterop.read(spark, path)) ===
      (1L to 16L).filterNot(i => i % 3 == 0 || i % 4 == 0))
    val snap3 = DeltaInterop.snapshot(spark, path)
    val cards = snap3.files.flatMap(f =>
      f.dv.map(_.cardinality)).sorted
    assert(cards === Seq(4L, 4L), // file1: {3,4,6,8}; file2: {9,12,15,16}
      s"per-file DV cardinality must be the UNION of both deletes: $cards")
    // no-match delete is a no-op at the current version
    assert(DeltaInterop.exportDeleteWhere(spark, path, "id > 999") === 3L)
    // the upgraded v7 table still accepts the other exporters
    DeltaInterop.exportAppend(spark, Seq(100L).toDF("id").coalesce(1), path)
    assert(ids(DeltaInterop.read(spark, path)).contains(100L))
    // overwrite on a DV table: removes must NAME each DV (strict-
    // identity reconciliation) — state afterward is exactly the batch
    DeltaInterop.exportOverwrite(spark, Seq(7L, 77L).toDF("id")
      .coalesce(1), path)
    assert(ids(DeltaInterop.read(spark, path)) === Seq(7L, 77L))
    val owJson = new String(Files.readAllBytes(dir.resolve("_delta_log")
      .resolve(f"${5L}%020d.json")), "UTF-8")
    assert(owJson.contains(""""deletionVector""""),
      "an overwrite's removes of DV'd files must carry the DV identity")
    // checkpoint restatement fidelity: the table's ORIGINAL metaData.id
    // (not a fresh random one), dataChange=false on restated adds, and
    // remove tombstones carrying their superseded DV identities so
    // foreign VACUUM keeps the DV files inside retention
    val id0 = """"id":"([^"]+)"""".r.findFirstMatchIn(
      new String(Files.readAllBytes(dir.resolve("_delta_log")
        .resolve(f"${0L}%020d.json")), "UTF-8")).get.group(1)
    DeltaInterop.exportCheckpoint(spark, path)
    val cp = spark.read.parquet(dir.resolve("_delta_log")
      .resolve(f"${5L}%020d.checkpoint.parquet").toString)
    assert(cp.filter(col("metaData").isNotNull)
      .select("metaData.id").collect().head.getString(0) === id0,
      "a checkpoint must restate the table's original metaData.id")
    assert(cp.filter(col("add").isNotNull).select("add.dataChange")
      .collect().forall(!_.getBoolean(0)),
      "checkpoint add rows are restatements: dataChange must be false")
    assert(cp.filter(col("remove.deletionVector").isNotNull).count() >= 1,
      "tombstones of DV'd files must carry the DV identity")
  }

  test("exportDeleteWhere on a CDF-enabled table writes _change_data files: our tableChanges AND a foreign-style cdc read agree row-for-row with the DV diff") {
    import spark.implicits._
    val cdfPath = tmp("interop_dv_delete_cdf")
    val cdfDir = Paths.get(cdfPath)
    DeltaInterop.exportToDelta(spark, (1L to 8L).toDF("id").coalesce(1),
      cdfPath)                                                       // v0
    val logDir2 = cdfDir.resolve("_delta_log")
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").json))
    Files.write(logDir2.resolve(f"${1L}%020d.json"),               // v1
      (s"""{"metaData":{"id":"m-cdf","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"}}}""" +
        "\n").getBytes("UTF-8"))
    val vDel = DeltaInterop.exportDeleteWhere(spark, cdfPath, "id % 2 = 0")
    assert(vDel === 2L)
    assert(DeltaInterop.read(spark, cdfPath).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 5L, 7L))
    // the commit carries cdc actions (dataChange=false BY SPEC)
    // pointing under _change_data/
    val commitJson = new String(Files.readAllBytes(
      logDir2.resolve(f"${2L}%020d.json")), "UTF-8")
    assert(commitJson.contains(""""cdc":{"path":"_change_data/"""),
      s"the DV-flip commit must carry cdc actions: $commitJson")
    assert(!commitJson.contains(""""cdc":{"path":"_change_data/""" + "\"")
      && commitJson.split("\n").filter(_.contains(""""cdc"""")).forall(
        _.contains(""""dataChange":false""")),
      "cdc actions must be dataChange=false")
    // foreign-style read: the cdc parquet files themselves hold the
    // deleted rows with _change_type='delete'
    val cdcFiles = {
      val w = Files.walk(cdfDir.resolve("_change_data"))
      try w.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally w.close()
    }
    assert(cdcFiles.nonEmpty)
    val foreign = spark.read.parquet(cdcFiles: _*)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(foreign === Seq(2L, 4L, 6L, 8L).map(_ -> "delete"))
    // our own tableChanges takes the cdc route (precedence over the
    // add/remove DV diff) and agrees with it
    val cdf = DeltaInterop.tableChanges(spark, cdfPath, 2L, 2L)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(cdf === foreign)
    // RE-delete: cdc carries only the FRESH deletes (already-deleted
    // rows are not re-announced)
    val vDel2 = DeltaInterop.exportDeleteWhere(spark, cdfPath, "id <= 3")
    assert(vDel2 === 3L)
    val cdf2 = DeltaInterop.tableChanges(spark, cdfPath, 3L, 3L)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(cdf2 === Seq(1L, 3L).map(_ -> "delete"),
      s"re-delete cdc must carry only fresh deletes: $cdf2")
  }

  test("exportDeleteWhere cdc on a PARTITIONED CDF table: change files land per partition with partitionValues, and tableChanges re-attaches them") {
    import spark.implicits._
    val path = tmp("interop_dv_cdc_part")
    val dir = Paths.get(path)
    DeltaInterop.exportToDelta(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")).toDF("id", "p"),
      path, partitionBy = Seq("p"))                                  // v0
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("p", "string").json))
    Files.write(dir.resolve("_delta_log").resolve(f"${1L}%020d.json"),
      (s"""{"metaData":{"id":"m-cdfp","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":["p"],"configuration":{"delta.enableChangeDataFeed":"true"}}}""" +
        "\n").getBytes("UTF-8"))                                     // v1
    val v = DeltaInterop.exportDeleteWhere(spark, path, "id % 2 = 0")
    assert(v === 2L)
    val commitJson = new String(Files.readAllBytes(
      dir.resolve("_delta_log").resolve(f"${2L}%020d.json")), "UTF-8")
    val cdcLines = commitJson.split("\n").filter(_.contains(""""cdc""""))
    assert(cdcLines.length === 2 &&
      cdcLines.exists(_.contains(""""partitionValues":{"p":"a"}""")) &&
      cdcLines.exists(_.contains(""""partitionValues":{"p":"b"}""")),
      s"cdc actions must carry per-partition partitionValues: " +
        cdcLines.mkString(" | "))
    val cdf = DeltaInterop.tableChanges(spark, path, 2L, 2L)
      .select("id", "p", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(cdf === Seq((2L, "a", "delete"), (4L, "b", "delete")),
      s"partition columns must re-attach through the cdc read: $cdf")
    assert(DeltaInterop.read(spark, path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("DV-flip tombstones: a checkpoint restates every superseded (path, DV) identity, survives JSON log cleanup, and a fast-start re-checkpoint round-trips them") {
    import graft.sources.DeletionVectors
    import spark.implicits._
    val path = tmp("interop_dv_flip_tomb")
    val dir = Paths.get(path)
    val logD = dir.resolve("_delta_log")
    DeltaInterop.exportToDelta(spark,
      (1L to 8L).toDF("id").coalesce(1), path)                       // v0
    DeltaInterop.exportDeleteWhere(spark, path, "id % 3 = 0")        // v1
    // capture DV1's identity before it is superseded
    val dv1 = DeltaInterop.snapshot(spark, path, Some(1L)).files
      .flatMap(_.dv).head
    DeltaInterop.exportDeleteWhere(spark, path, "id % 4 = 0")        // v2
    DeltaInterop.exportCheckpoint(spark, path)
    def removeRows(v: Long): Seq[(String, Option[String])] = {
      val cp = spark.read.parquet(
        logD.resolve(f"$v%020d.checkpoint.parquet").toString)
      cp.filter(col("remove").isNotNull)
        .select(col("remove.path"),
          col("remove.deletionVector.pathOrInlineDv"))
        .collect().map(r => (r.getString(0),
          Option(r.getString(1)))).toSeq
    }
    // TWO flips → TWO superseded logical identities of the SAME path:
    // (path, no-DV) from flip 1 and (path, DV1) from flip 2. The old
    // path-keyed model dropped both (the re-add cleared them).
    val rms = removeRows(2L)
    assert(rms.size === 2, s"both superseded identities must restate: $rms")
    assert(rms.map(_._2).toSet === Set(None, Some(dv1.pathOrInlineDv)),
      s"the flip tombstones must carry no-DV and DV1 identities: $rms")
    // the JSON log cleans up — state must reconstruct from the
    // checkpoint alone, and read the post-both-deletes rows
    (0L to 2L).foreach(v =>
      Files.delete(logD.resolve(f"$v%020d.json")))
    DeltaLite.clearSnapshotCache()
    val ids = DeltaInterop.read(spark, path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids === (1L to 8L).filterNot(i => i % 3 == 0 || i % 4 == 0))
    // a fast-start (checkpoint-seeded) writer commits and
    // re-checkpoints: the superseded identities must ROUND-TRIP into
    // the new checkpoint — this is the foreign-VACUUM contract (the
    // DV1 file stays associated with a recent remove inside retention)
    DeltaInterop.exportAppend(spark, Seq(100L).toDF("id").coalesce(1),
      path)                                                          // v3
    DeltaInterop.exportCheckpoint(spark, path)
    val rms3 = removeRows(3L)
    assert(rms3.map(_._2).toSet === Set(None, Some(dv1.pathOrInlineDv)),
      s"fast-start re-checkpoint must keep the flip tombstones: $rms3")
  }

  test("exportUpdateWhere: DV the old rows + append rewritten rows in one commit; SET sees OLD values; re-update unions; time travel; CDF pre/postimages") {
    import spark.implicits._
    val path = tmp("interop_update")
    val dir = Paths.get(path)
    DeltaInterop.exportToDelta(spark,
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
        .toDF("id", "v").coalesce(1), path)                          // v0
    def state(): Seq[(Long, Long)] = DeltaInterop.read(spark, path)
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def dataFiles(): Set[String] = {
      val s = Files.walk(dir)
      try s.iterator().asScala.map(dir.relativize(_).toString)
        .filter(p => p.endsWith(".parquet") && !p.startsWith("_"))
        .toSet
      finally s.close()
    }
    val before = dataFiles()
    // SET expressions see the OLD row: swapping via v = v + id,
    // id = id * 10 must use the ORIGINAL v and id in both
    val v1 = DeltaInterop.exportUpdateWhere(spark, path, "id % 2 = 0",
      Map("v" -> "v + id", "id" -> "id * 10"))
    assert(v1 === 1L)
    assert(state() === Seq((1L, 10L), (3L, 30L), (20L, 22L), (40L, 44L)))
    assert(before.subsetOf(dataFiles()),
      "an update must not rewrite the original data files")
    assert(DeltaInterop.read(spark, path, Some(0L)).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L),
      "time travel must see the pre-update state")
    // re-update touches a previously-updated file → DV union path
    val v2 = DeltaInterop.exportUpdateWhere(spark, path, "id = 1",
      Map("v" -> "v * 100"))
    assert(v2 === 2L)
    assert(state() === Seq((1L, 1000L), (3L, 30L), (20L, 22L), (40L, 44L)))
    // no-match update is a no-op
    assert(DeltaInterop.exportUpdateWhere(spark, path, "id > 999",
      Map("v" -> "0")) === 2L)
    // nondeterministic SET declines
    val ndErr = intercept[IllegalArgumentException] {
      DeltaInterop.exportUpdateWhere(spark, path, "id = 1",
        Map("v" -> "CAST(rand() * 100 AS BIGINT)"))
    }
    assert(ndErr.getMessage.contains("nondeterministic"))
    // unknown SET column declines
    val unkErr = intercept[IllegalArgumentException] {
      DeltaInterop.exportUpdateWhere(spark, path, "id = 1",
        Map("nope" -> "1"))
    }
    assert(unkErr.getMessage.contains("unknown column"))
    // CDF table: update writes update_preimage + update_postimage
    val cdfPath = tmp("interop_update_cdf")
    DeltaInterop.exportToDelta(spark,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1), cdfPath)
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("v", "long").json))
    Files.write(Paths.get(cdfPath, "_delta_log")
      .resolve(f"${1L}%020d.json"),
      (s"""{"metaData":{"id":"m-ucdf","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"}}}""" +
        "\n").getBytes("UTF-8"))
    DeltaInterop.exportUpdateWhere(spark, cdfPath, "id = 2",
      Map("v" -> "v + 1"))
    val cdf = DeltaInterop.tableChanges(spark, cdfPath, 2L, 2L)
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(cdf === Seq((2L, 20L, "update_preimage"),
      (2L, 21L, "update_postimage")), s"CDF must carry both images: $cdf")
  }

  test("exportUpdateWhere moves rows across partitions when SET touches a partition column") {
    import spark.implicits._
    val path = tmp("interop_update_part")
    DeltaInterop.exportToDelta(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p"),
      path, partitionBy = Seq("p"))
    DeltaInterop.exportUpdateWhere(spark, path, "id = 1",
      Map("p" -> "'b'"))
    val out = DeltaInterop.read(spark, path).select("id", "p").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(out === Seq((1L, "b"), (2L, "a"), (3L, "b")))
    // partition pruning still serves the moved row from its NEW side
    val bSide = DeltaInterop.read(spark, path)
      .filter(org.apache.spark.sql.functions.col("p") === "b")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(bSide === Seq(1L, 3L))
  }

  /** The optimized plans of every action `body` runs in `session`. */
  private def actionPlans(session: org.apache.spark.sql.SparkSession)(
      body: => Unit): Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    withQueryExecutions(session)(qe => Seq(qe.optimizedPlan))(body)

  test("exportMerge and exportUpdateWhere plan no LIMIT: emptiness comes from the source aggregate and the DV write") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
    // a session of its own: its listener sees only this test's actions
    val s = spark.newSession()
    import s.implicits._
    val path = tmp("interop_nolimit")
    DeltaInterop.exportToDelta(s,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1),
      path)                                                          // v0
    def limits(plans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]) =
      plans.flatMap(_.collect { case l @ (_: LocalLimit | _: GlobalLimit) => l })
    var v1, v2, v3 = -1L
    val plans = actionPlans(s) {
      v1 = DeltaInterop.exportMerge(s, path,
        Seq((2L, "B"), (4L, "D")).toDF("id", "s"), Seq("id"))
      v2 = DeltaInterop.exportUpdateWhere(s, path, "id = 1", Map("s" -> "'A'"))
      // a predicate no row matches: a no-op, decided without a LIMIT
      v3 = DeltaInterop.exportUpdateWhere(s, path, "id = 3 AND s = 'z'",
        Map("s" -> "'Z'"))
    }
    assert(plans.nonEmpty, "the listener must see the ops' actions")
    assert(limits(plans).isEmpty,
      s"a LIMIT was planned: ${limits(plans).mkString("; ")}")
    assert((v1, v2, v3) === (1L, 2L, 2L))
    assert(DeltaInterop.read(s, path).select("id", "s").as[(Long, String)]
      .collect().toSeq.sorted ===
      Seq((1L, "A"), (2L, "B"), (3L, "c"), (4L, "D")))
    // the empty source still commits nothing
    assert(DeltaInterop.exportMerge(s, path,
      Seq.empty[(Long, String)].toDF("id", "s"), Seq("id")) === 2L)
  }

  test("exportMerge: matched rows rewrite to source values, unmatched insert, DV-deleted rows re-insert; duplicate source keys decline; CDF carries all three change types") {
    import spark.implicits._
    val path = tmp("interop_merge")
    DeltaInterop.exportToDelta(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1),
      path)                                                          // v0
    def state(): Seq[(Long, String)] = DeltaInterop.read(spark, path)
      .select("id", "s").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val v1 = DeltaInterop.exportMerge(spark, path,
      Seq((2L, "B"), (4L, "D")).toDF("id", "s"), Seq("id"))
    assert(v1 === 1L)
    assert(state() === Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    assert(DeltaInterop.read(spark, path, Some(0L)).count() === 3L)
    // a row deleted via DV must not block its key from re-inserting
    DeltaInterop.exportDeleteWhere(spark, path, "id = 3")            // v2
    val v3 = DeltaInterop.exportMerge(spark, path,
      Seq((3L, "C2")).toDF("id", "s"), Seq("id"))
    assert(v3 === 3L)
    assert(state() === Seq((1L, "a"), (2L, "B"), (3L, "C2"), (4L, "D")))
    // duplicate source keys decline (ambiguous multi-source match)
    val dupErr = intercept[IllegalArgumentException] {
      DeltaInterop.exportMerge(spark, path,
        Seq((1L, "x"), (1L, "y")).toDF("id", "s"), Seq("id"))
    }
    assert(dupErr.getMessage.contains("duplicate source keys"))
    // empty source is a no-op
    assert(DeltaInterop.exportMerge(spark, path,
      Seq.empty[(Long, String)].toDF("id", "s"), Seq("id")) === 3L)
    // insert-only merge (no matches) commits adds without any DV flip
    val v4 = DeltaInterop.exportMerge(spark, path,
      Seq((9L, "i")).toDF("id", "s"), Seq("id"))
    assert(v4 === 4L)
    val commitJson = new String(Files.readAllBytes(
      Paths.get(path, "_delta_log").resolve(f"${4L}%020d.json")), "UTF-8")
    assert(!commitJson.contains("deletionVector"),
      "an insert-only merge must not flip any DV")
    assert(state().contains((9L, "i")))
    // CDF table: one merge carries update_preimage/postimage + insert
    val cdfPath = tmp("interop_merge_cdf")
    DeltaInterop.exportToDelta(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), cdfPath)
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("s", "string").json))
    Files.write(Paths.get(cdfPath, "_delta_log")
      .resolve(f"${1L}%020d.json"),
      (s"""{"metaData":{"id":"m-mcdf","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"}}}""" +
        "\n").getBytes("UTF-8"))
    DeltaInterop.exportMerge(spark, cdfPath,
      Seq((2L, "B"), (5L, "E")).toDF("id", "s"), Seq("id"))
    val cdf = DeltaInterop.tableChanges(spark, cdfPath, 2L, 2L)
      .select("id", "s", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(cdf === Seq((2L, "B", "update_postimage"),
      (2L, "b", "update_preimage"), (5L, "E", "insert")),
      s"merge CDF must carry all three change types: $cdf")
  }

  test("exportAppend declines nulls in a non-nullable column, naming the first offending column") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val path = tmp("interop_notnull")
    def frame(nullable: Boolean, rows: Row*) = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), StructType(Seq("k", "v", "w")
        .map(StructField(_, LongType, nullable))))
    DeltaInterop.exportToDelta(spark, frame(false, Row(1L, 1L, 1L)), path)
    assert(DeltaInterop.snapshot(spark, path).schema.forall(!_.nullable))
    // a nullable batch without nulls appends
    assert(DeltaInterop.exportAppend(spark, frame(true, Row(2L, 2L, 2L)), path) === 1L)
    val ex = intercept[RuntimeException] {
      DeltaInterop.exportAppend(spark, frame(true, Row(3L, 3L, null), Row(4L, null, null)), path)
    }
    assert(ex.getMessage.contains("column 'v' contains nulls"), ex.getMessage)
    assert(DeltaInterop.read(spark, path).count() === 2L)
  }

  test("exportMerge prunes candidate files by source key bounds: files outside the source's key range never open") {
    import spark.implicits._
    import graft.sources.DeltaLite
    // key column types: BIGINT, and the temporal types whose collected
    // values (java.sql.Timestamp / Date) normalize to the log's
    // epoch-micros / epoch-day stats — the timestamp keys carry
    // sub-second micros
    import org.apache.spark.sql.Column
    val keyTypes: Seq[(String, Column => Column)] = Seq(
      "bigint" -> (c => c),
      "timestamp" -> (c =>
        timestamp_micros(lit(1704067200000000L) + c * 1000001L)),
      "date" -> (c => date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        c.cast("int"))))
    keyTypes.foreach { case (kt, key) =>
      def rows(is: Seq[(Long, String)]): DataFrame =
        is.toDF("i", "s").select(key(col("i")).as("id"), col("s"))
      val path = tmp(s"interop_merge_prune_$kt")
      DeltaInterop.exportToDelta(spark,
        rows((1L to 8L).map(i => (i, s"v$i"))).coalesce(1), path)  // v0
      DeltaInterop.exportAppend(spark,
        rows((100L to 108L).map(i => (i, s"v$i"))).coalesce(1), path) // v1
      // source keys 101..103: only the second file's bounds overlap —
      // the first file must not flip (its rows stay under their add)
      val src = rows(Seq((101L, "X"), (103L, "Y")))
      val cands = DeltaLite.pruneFiles(DeltaInterop.snapshot(spark, path),
        DeltaLite.sourceKeyBounds(src, Seq("id")))
      assert(cands.size === 1,
        s"$kt: the source key bounds must prune the first file: $cands")
      val v = DeltaInterop.exportMerge(spark, path, src, Seq("id"))
      assert(v === 2L)
      val commitJson = new String(Files.readAllBytes(
        Paths.get(path, "_delta_log").resolve(f"${2L}%020d.json")), "UTF-8")
      val snap = DeltaInterop.snapshot(spark, path)
      val flipped = snap.files.filter(_.dv.isDefined).map(_.path)
      assert(flipped.size === 1,
        s"exactly ONE file (the key-overlapping one) must flip: $flipped")
      assert(DeltaInterop.read(spark, path).count() === 17L)
      assert(DeltaInterop.read(spark, path)
        .filter(col("id") === key(lit(101L)))
        .select("s").collect().map(_.getString(0)).toSeq === Seq("X"))
    }
  }

  test("exportDeleteWhere prunes candidates by log stats: a file whose bounds disprove the predicate never flips") {
    import graft.sources.DeletionVectors
    import spark.implicits._
    // both predicate-scoped row-level ops locate their candidates the
    // same way: DELETE, and UPDATE (its rewritten rows, `id + 1000`,
    // append as a fresh DV-free file — `moved` names them)
    val ops: Seq[(String, (String, String) => Long, Seq[Long] => Seq[Long])] =
      Seq(
        ("delete", (p, pred) => DeltaInterop.exportDeleteWhere(spark, p,
          pred), _ => Nil),
        ("update", (p, pred) => DeltaInterop.exportUpdateWhere(spark, p,
          pred, Map("id" -> "id + 1000")), _.map(_ + 1000L)))
    ops.foreach { case (op, run, moved) =>
      val path = tmp(s"interop_dv_prune_$op")
      DeltaInterop.exportToDelta(spark, (1L to 8L).toDF("id").coalesce(1),
        path)                                                          // v0
      DeltaInterop.exportAppend(spark,
        (100L to 108L).toDF("id").coalesce(1), path)                   // v1
      assert(run(path, "id <= 4") === 2L)
      val before = DeltaInterop.snapshot(spark, path, Some(1L)).files
        .map(_.path).toSet
      val snap = DeltaInterop.snapshot(spark, path)
      val (flipped, untouched) = snap.files.filter(f => before(f.path))
        .partition(_.dv.isDefined)
      assert(flipped.size === 1 && untouched.size === 1,
        "exactly the stats-overlapping file must flip")
      assert(flipped.head.dv.get.cardinality === 4L)
      // the commit itself touches ONE file: one remove + one DV'd add
      // (the pruned file appears in no action — it was never even read)
      val commitJson = new String(Files.readAllBytes(Paths.get(path,
        "_delta_log").resolve(f"${2L}%020d.json")), "UTF-8")
      assert("\"remove\"".r.findAllIn(commitJson).size === 1,
        s"the pruned file must not appear in the commit: $commitJson")
      assert(DeltaInterop.read(spark, path).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq ===
        ((5L to 8L) ++ (100L to 108L) ++ moved(1L to 4L)).sorted)
      // an unparseable predicate fails FAST (analysis over an empty
      // probe frame), before any replay-visible side effect
      intercept[Exception] { run(path, "no_such_col = 1") }
      // …as does a NONDETERMINISTIC one (a DV must name a stable row set)
      val nd = intercept[IllegalArgumentException] {
        run(path, "rand() < 0.5")
      }
      assert(nd.getMessage.contains("nondeterministic"))
      assert(DeltaInterop.latestVersion(path) === Some(2L))
      // the pruning pin must not be VACUOUS (an unpruned no-match file
      // also yields no action): assert the bound translation itself
      // survives analyzed-plan literals, which arrive Cast-wrapped
      // (`id <= 4` on BIGINT analyzes to `id <= cast(4 as bigint)` —
      // review finding: bare-Literal matching silently disabled pruning)
      val probeDf = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        new org.apache.spark.sql.types.StructType().add("id", "long"))
        .filter(expr("id <= 4"))
      val bs = probeDf.queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          graft.plans.BranchFilePruning.boundsOf(f.condition,
            f.child.outputSet)
      }.flatten
      assert(bs.nonEmpty && bs.head.column == "id",
        s"coerced literals must still translate to stat bounds: $bs")
      // restatement fidelity: the flipped add preserves the ORIGINAL
      // modificationTime (a metadata-only delete must not re-stamp the
      // file as just-modified) and keeps its real stats
      def addActions(v: Long): Seq[String] =
        new String(Files.readAllBytes(Paths.get(path, "_delta_log")
          .resolve(f"$v%020d.json")), "UTF-8")
          .linesIterator.filter(_.contains("\"add\"")).toSeq
      def mtimeOf(line: String): Long =
        """"modificationTime":(\d+)""".r.findFirstMatchIn(line)
          .get.group(1).toLong
      val origAdd = addActions(0L).head
      val flipAdd = addActions(2L).head
      assert(mtimeOf(flipAdd) === mtimeOf(origAdd),
        "a DV flip must restate the original modificationTime")
      assert(flipAdd.contains("\"stats\""),
        "a stats-bearing add keeps its stats through the flip")
      // DV deletes COMPOSE across a checkpoint boundary: checkpoint the
      // DV'd state, clean up every JSON commit, and a further delete
      // unions with the checkpoint-carried DV
      DeltaInterop.exportCheckpoint(spark, path)
      (0L to 2L).foreach(v => Files.delete(
        Paths.get(path, "_delta_log").resolve(f"$v%020d.json")))
      DeltaLite.clearSnapshotCache()
      assert(run(path, "id = 7") === 3L)
      assert(DeltaInterop.read(spark, path).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq ===
        (Seq(5L, 6L, 8L) ++ (100L to 108L) ++ moved(Seq(1L, 2L, 3L, 4L, 7L)))
          .sorted,
        "the post-checkpoint delete must union with the restated DV")
      val snap4 = DeltaInterop.snapshot(spark, path)
      val card4 = snap4.files.flatMap(_.dv).map(_.cardinality).sum
      assert(card4 === 5L, // {1,2,3,4} from the flip + {7}
        s"the union across the checkpoint boundary must not forget: $card4")
    }
  }

  test("exportDeleteWhere on a stats-less foreign add: the flip re-emits WITHOUT stats instead of fabricating numRecords:0") {
    import spark.implicits._
    val path = tmp("interop_dv_nostats")
    val dir = Paths.get(path)
    val logDir = dir.resolve("_delta_log")
    Files.createDirectories(logDir)
    Seq(1L, 2L, 3L, 4L).toDF("id").coalesce(1)
      .write.parquet(dir.resolve("d1").toString)
    val f1 = {
      val s = Files.list(dir.resolve("d1"))
      try "d1/" + s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally s.close()
    }
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").json))
    // the add carries NO stats — delta tables converted without stats
    // collection look exactly like this
    Files.write(logDir.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m-ns","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":99,"modificationTime":1700000000123,"dataChange":true}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(DeltaInterop.exportDeleteWhere(spark, path, "id = 2") === 1L)
    val commit = new String(Files.readAllBytes(
      logDir.resolve(f"${1L}%020d.json")), "UTF-8")
    val addLine = commit.linesIterator.find(_.contains("\"add\"")).get
    assert(!addLine.contains("\"stats\""),
      s"a stats-less add must not grow fabricated stats (numRecords:0 " +
        s"would violate cardinality<=numRecords next to the DV): $addLine")
    assert(addLine.contains("\"modificationTime\":1700000000123"),
      "the foreign modificationTime must survive the flip")
    assert(addLine.contains("\"deletionVector\""))
    assert(DeltaInterop.read(spark, path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 4L))
  }

  test("v2/UUID checkpoints: a JSON manifest with ZERO commits reconstructs the snapshot; parquet manifest replays its sidecars; missing sidecar and version mismatch fail loudly") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType, MapType, StringType, StructField, StructType}
    val schemaJson = org.json4s.jackson.JsonMethods.compact(
      org.json4s.JString(new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("s", "string").json))
    def dataFile(dirPath: java.nio.file.Path, sub: String,
        rows: Seq[(Long, String)]): String = {
      rows.toDF("id", "s").coalesce(1)
        .write.parquet(dirPath.resolve(sub).toString)
      val s = Files.list(dirPath.resolve(sub))
      try s"$sub/" + s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
        .getFileName.toString
      finally s.close()
    }
    // ---- case 1: sidecar-less v2 JSON manifest, NO json commits at all
    val p1 = tmp("interop_v2_json")
    val d1 = Paths.get(p1)
    Files.createDirectories(d1.resolve("_delta_log"))
    val f1 = dataFile(d1, "a", Seq((1L, "x"), (2L, "y")))
    Files.write(d1.resolve("_delta_log")
      .resolve(f"${3L}%020d.checkpoint.80a083e8-7026.json"), Seq(
      """{"checkpointMetadata":{"version":3}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
      s"""{"metaData":{"id":"m-v2","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"id\\":1},\\"maxValues\\":{\\"id\\":2}}"}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(DeltaInterop.latestVersion(p1) === Some(3L))
    val snap1 = DeltaInterop.snapshot(spark, p1)
    assert(snap1.version === 3L && snap1.files.map(_.path) === Seq(f1))
    assert(DeltaInterop.read(spark, p1).count() === 2L)
    // a version BELOW the checkpoint with no JSON commits declines
    intercept[Exception] { DeltaInterop.snapshot(spark, p1, Some(2L)) }
    // ---- case 2: parquet manifest whose adds live in TWO sidecars,
    //      plus a tail JSON commit on top
    val p2 = tmp("interop_v2_sidecar")
    val d2 = Paths.get(p2)
    val log2 = d2.resolve("_delta_log")
    Files.createDirectories(log2.resolve("_sidecars"))
    val g1 = dataFile(d2, "a", Seq((1L, "x")))
    val g2 = dataFile(d2, "b", Seq((2L, "y")))
    val g3 = dataFile(d2, "c", Seq((3L, "z")))
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    def sidecar(name: String, adds: Seq[String]): Unit = {
      val rows = new java.util.ArrayList[Row]()
      adds.foreach(a => rows.add(Row(Row(a, Map.empty[String, String],
        1L, 1L, true))))
      spark.createDataFrame(rows,
          StructType(Seq(StructField("add", addType))))
        .coalesce(1).write.parquet(log2.resolve("_sc_tmp").toString)
      val s = Files.list(log2.resolve("_sc_tmp"))
      val part = try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
      Files.move(part, log2.resolve("_sidecars").resolve(name))
      val w = Files.walk(log2.resolve("_sc_tmp"))
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(pp => { val _ = Files.deleteIfExists(pp) })
      finally w.close()
    }
    sidecar("sc-1.parquet", Seq(g1))
    sidecar("sc-2.parquet", Seq(g2))
    val manifestSchema = StructType(Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))),
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
        StructField("configuration", MapType(StringType, StringType)))))))
    val mrows = new java.util.ArrayList[Row]()
    mrows.add(Row(Row(0L), null, null, null))
    mrows.add(Row(null, Row("sc-1.parquet", 1L, 1L), null, null))
    mrows.add(Row(null, Row("sc-2.parquet", 1L, 1L), null, null))
    mrows.add(Row(null, null, Row(3, 7,
      Seq("v2Checkpoint"), Seq("v2Checkpoint")), null))
    mrows.add(Row(null, null, null, Row("m-v2s", Row("parquet"),
      new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("s", "string").json, Seq.empty[String],
      Map.empty[String, String])))
    spark.createDataFrame(mrows, manifestSchema).coalesce(1)
      .write.parquet(log2.resolve("_m_tmp").toString)
    val ms = Files.list(log2.resolve("_m_tmp"))
    val mpart = try ms.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    finally ms.close()
    Files.move(mpart,
      log2.resolve(f"${0L}%020d.checkpoint.11c448b1-93a2.parquet"))
    val mw = Files.walk(log2.resolve("_m_tmp"))
    try mw.sorted(java.util.Comparator.reverseOrder())
      .forEach(pp => { val _ = Files.deleteIfExists(pp) })
    finally mw.close()
    // tail commit 1 adds a third file on top of the v2 checkpoint
    Files.write(log2.resolve(f"${1L}%020d.json"),
      (s"""{"add":{"path":"$g3","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    assert(DeltaInterop.read(spark, p2, Some(0L)).count() === 2L,
      "the v2 parquet manifest + both sidecars must reconstruct v0")
    assert(DeltaInterop.read(spark, p2).count() === 3L,
      "tail JSON commits must replay on top of the v2 checkpoint")
    // ---- decline twins: missing sidecar; version mismatch
    Files.delete(log2.resolve("_sidecars").resolve("sc-2.parquet"))
    val miss = intercept[Exception] {
      DeltaInterop.snapshot(spark, p2, Some(0L))
    }
    assert(miss.getMessage.contains("sidecar"),
      s"a missing sidecar must fail loudly, got: $miss")
    val p3 = tmp("interop_v2_mismatch")
    val d3 = Paths.get(p3)
    Files.createDirectories(d3.resolve("_delta_log"))
    Files.write(d3.resolve("_delta_log")
      .resolve(f"${5L}%020d.checkpoint.00aa11bb-0001.json"), Seq(
      """{"checkpointMetadata":{"version":4}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$schemaJson,"partitionColumns":[],"configuration":{}}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val mm = intercept[Exception] { DeltaInterop.snapshot(spark, p3) }
    assert(mm.getMessage.contains("declares version 4"),
      s"a mis-versioned manifest must fail loudly, got: $mm")
  }

  test("CONVERT FROM DELTA: zero-copy adoption, full graft write surface after, format dispatch prefers the graft log") {
    val path = tmp("interop_convert")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val a = orders.filter(col("o_orderkey") % 2 === 0)
    val b = orders.filter(col("o_orderkey") % 2 === 1)
    DeltaInterop.exportToDelta(spark, a, path, Seq("o_orderstatus"))
    val dataBefore = {
      val w = Files.walk(Paths.get(path))
      try w.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet")) finally w.close()
    }
    // SQL surface does the convert (version 0 on the graft side)
    val v = spark.sql(s"CONVERT FROM DELTA '$path'").collect()(0).getLong(0)
    assert(v === 0L)
    val dataAfter = {
      val w = Files.walk(Paths.get(path))
      try w.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet")) finally w.close()
    }
    assert(dataAfter === dataBefore, "convert must move ZERO data files")
    assert(sorted(DeltaLite.read(spark, path).select(
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))) ===
      sorted(a))
    // full write surface: graft append + delete work on adopted files
    DeltaLite.append(spark, path, b)
    DeltaLite.delete(spark, path, col("o_orderstatus") === "F")
    assert(sorted(DeltaLite.read(spark, path).select(
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))) ===
      sorted(orders.filter(col("o_orderstatus") =!= "F")))
    // with BOTH logs on disk the format dispatch serves the graft log
    // (the one this engine's writes advance)
    assert(sorted(spark.read.format("graft-delta").load(path).select(
        col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))) ===
      sorted(orders.filter(col("o_orderstatus") =!= "F")))
  }

  test("pushed filters prune standard-delta files through the V1 relation") {
    val path = tmp("interop_prune")
    import spark.implicits._
    Seq.tabulate(100)(i => (i.toLong, s"r$i"))
      .toDF("id", "s").repartitionByRange(4, col("id"))
      .createOrReplaceTempView("t_interop_prune")
    val df = spark.table("t_interop_prune")
    DeltaInterop.exportToDelta(spark, df, path)
    val snap = DeltaInterop.snapshot(spark, path)
    assert(snap.files.size === 4)
    // the relation's scan path prunes on the exported stats
    val kept = DeltaLite.pruneFiles(snap,
      graft.sources.GraftDeltaSource.boundsFromFilters(Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 90L))))
    assert(kept.size === 1, s"range-partitioned files must prune to 1, " +
      s"got ${kept.size}")
    val got = spark.read.format("graft-delta").load(path)
      .filter(col("id") >= 90L).count()
    assert(got === 10L)
  }

  test("standard-Delta streaming source: version offsets deliver appends exactly once; a rewrite fails the stream; CDF mode streams per-commit changes") {
    import spark.implicits._
    val path = tmp("interop_stream")
    DeltaInterop.exportToDelta(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    val q = spark.readStream.format("graft-delta").load(path)
      .writeStream.format("memory").queryName("interop_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("interop_stream").count() === 2L)
      DeltaInterop.exportAppend(spark, Seq((3L, "c")).toDF("id", "s"), path)
      q.processAllAvailable()
      val ids = spark.table("interop_stream")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L),
        "each appended row must arrive exactly once across batches")
    } finally q.stop()
    // a data-changing remove mid-stream fails (Delta's contract) …
    val path2 = tmp("interop_stream_del")
    DeltaInterop.exportToDelta(spark,
      Seq((1L, "x", "e"), (2L, "y", "w")).toDF("id", "s", "part"),
      path2, partitionBy = Seq("part"))
    val q2 = spark.readStream.format("graft-delta").load(path2)
      .writeStream.format("memory").queryName("interop_stream_del")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      DeltaInterop.exportDeletePartition(spark, path2, "part", "e")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("rewrote or deleted") ||
        Option(e.getCause).exists(_.getMessage.contains("rewrote or deleted")),
        s"a mid-stream delete must fail the version-offset stream: $e")
    } finally q2.stop()
    // INITIAL-SNAPSHOT contract: a table with a pre-stream delete in
    // its history still starts — batch 0 is the CURRENT snapshot, not
    // a from-zero append replay (which would trip the rewrite guard on
    // history that predates the stream; review finding)
    val q2b = spark.readStream.format("graft-delta").load(path2)
      .writeStream.format("memory").queryName("interop_stream_post")
      .outputMode("append").start()
    try {
      q2b.processAllAvailable()
      val rows = spark.table("interop_stream_post")
        .select("id").collect().map(_.getLong(0)).toSeq
      assert(rows === Seq(2L),
        s"batch 0 must be the post-delete snapshot, got $rows")
      DeltaInterop.exportAppend(spark,
        Seq((9L, "z", "w")).toDF("id", "s", "part"), path2)
      q2b.processAllAvailable()
      assert(spark.table("interop_stream_post")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(2L, 9L), "post-snapshot appends keep streaming")
    } finally q2b.stop()
    // unsupported rate limits decline loudly instead of delivering one
    // unbounded first batch (createSource runs on the stream thread,
    // so the refusal surfaces through the query, not start())
    val rlq = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", 10).load(path2)
      .writeStream.format("memory").queryName("interop_stream_rl")
      .outputMode("append").start()
    try {
      val rl = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        rlq.processAllAvailable()
      }
      assert(rl.getMessage.contains("maxFilesPerTrigger") ||
        Option(rl.getCause).exists(_.getMessage.contains("maxFilesPerTrigger")),
        s"rate-limit options must decline loudly: $rl")
    } finally rlq.stop()
    // … unless ignoreChanges; and CDF mode streams the change rows
    val q3 = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(path2)
      .writeStream.format("memory").queryName("interop_stream_cdf")
      .outputMode("append").start()
    try {
      q3.processAllAvailable()
      val ch = spark.table("interop_stream_cdf")
        .select("id", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(ch === Set((1L, "insert", 0L), (2L, "insert", 0L),
        (1L, "delete", 1L), (9L, "insert", 2L)),
        s"the CDF stream must deliver inserts then the delete: $ch")
    } finally q3.stop()
  }

  test("lifecycle model check: random export op sequences replay identically to a graft-delta twin at every version; CDF conserves the state") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      val path = tmp(s"interop_model_$seed")
      val twin = tmp(s"interop_model_twin_$seed")
      var nextId = 0L
      def batch(n: Int): org.apache.spark.sql.DataFrame = {
        val rows = Seq.tabulate(n) { _ =>
          nextId += 1
          (nextId, s"s$nextId", if (rng.nextBoolean()) "e" else "w")
        }
        rows.toDF("id", "s", "part")
      }
      val first = batch(4)
      DeltaInterop.exportToDelta(spark, first, path, Seq("part"))
      DeltaLite.create(spark, twin, first, partitionBy = Seq("part"))
      var ops = List("create")
      (1 to 5).foreach { _ =>
        rng.nextInt(3) match {
          case 0 =>
            val b = batch(1 + rng.nextInt(3))
            DeltaInterop.exportAppend(spark, b, path)
            DeltaLite.append(spark, twin, b)
            ops ::= "append"
          case 1 =>
            val b = batch(1 + rng.nextInt(3))
            DeltaInterop.exportOverwrite(spark, b, path)
            DeltaLite.replaceWhere(spark, twin, lit(true), b)
            ops ::= "overwrite"
          case 2 =>
            val live = DeltaInterop.snapshot(spark, path).files
              .flatMap(_.pv.get("part")).distinct
            if (live.nonEmpty) {
              val v = live(rng.nextInt(live.size))
              DeltaInterop.exportDeletePartition(spark, path, "part", v)
              DeltaLite.delete(spark, twin, col("part") === v)
              ops ::= s"delete($v)"
            } else {
              val b = batch(1)
              DeltaInterop.exportAppend(spark, b, path)
              DeltaLite.append(spark, twin, b)
              ops ::= "append"
            }
        }
      }
      val latest = DeltaInterop.latestVersion(path).get
      val trail = s"seed $seed ops ${ops.reverse.mkString(" → ")}"
      for (v <- 0L to latest)
        assert(sorted(DeltaInterop.read(spark, path, Some(v))
            .select("id", "s", "part")) ===
          sorted(DeltaLite.read(spark, twin, Some(v))
            .select("id", "s", "part")),
          s"$trail: version $v must replay identically to the twin")
      // CDF conservation: per id, inserts − deletes across the full
      // feed equals its multiplicity in the final state (ids are
      // unique per batch row here, so 0 or 1)
      val net = DeltaInterop.tableChanges(spark, path, 0L, latest)
        .groupBy(col("id"))
        .agg(sum(when(col("_change_type") === "insert", 1L)
          .otherwise(-1L)).as("net"))
      val finalIds = DeltaInterop.read(spark, path)
        .select("id").collect().map(_.getLong(0)).toSet
      net.collect().foreach { r =>
        val (id, n) = (r.getLong(0), r.getLong(1))
        assert(n === (if (finalIds.contains(id)) 1L else 0L),
          s"$trail: CDF must conserve id $id (net $n, " +
            s"final ${finalIds.contains(id)})")
      }
    }
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = {
      new Iterator[A] {
        def hasNext: Boolean = it.hasNext
        def next(): A = it.next()
      }
    }
  }
}
