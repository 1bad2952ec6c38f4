package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.zip.CRC32
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Standard Delta DELETION VECTORS — the row-level soft-delete format
  * delta-spark and delta-rs write for DELETE/MERGE (delta.io
  * PROTOCOL.md "Deletion Vectors" + "Deletion Vector Format"; all
  * public spec, implemented against it like the rest of DeltaInterop).
  *
  * A `deletionVector` descriptor on an `add` action names a set of
  * ROW INDEXES of that data file whose rows are deleted. Storage:
  *   - `u`: in a DV FILE under the table root —
  *     `pathOrInlineDv = <optional random prefix><20-char Z85 uuid>`,
  *     resolving to `<root>/<prefix>/deletion_vector_<uuid>.bin`, with
  *     `offset` locating this DV inside the (multi-DV) file;
  *   - `p`: an absolute path to a DV file (same framing);
  *   - `i`: inline — `pathOrInlineDv` is the Z85-encoded bitmap data
  *     itself (no file, no offset).
  *
  * DV file framing: a format-version byte (1) at offset 0; each stored
  * DV is `<int32 BE dataSize><dataSize bytes><int32 BE CRC-32 of the
  * data>` with `offset` pointing at the size field and the
  * descriptor's `sizeInBytes` equal to dataSize.
  *
  * The bitmap data is a 64-bit "RoaringBitmapArray" in the PORTABLE
  * serialization (magic 1681511377 little-endian, int64 LE bitmap
  * count, then per bitmap an int32 LE key — the high 32 bits — plus a
  * standard 32-bit RoaringBitmap): the container encodings (array /
  * bitmap / run, cookies 12346 and 12347) follow the public
  * RoaringFormatSpec. Everything inside the bitmap is little-endian;
  * only the file framing's size/checksum are big-endian.
  *
  * This is graft's ONLY deletion-vector format: both the native
  * `_graft_log` and `_delta_log` tables carry these descriptors on
  * `AddFile.dv`, [[DeltaLite.writeDeletionVectors]] is the one writer
  * and [[DeltaLite.readFilesWithPos]] the one reader.
  *
  * Scale shape: descriptors and bitmap BYTES are driver-held metadata
  * (roaring is compact — the log already bounds them via
  * `sizeInBytes`); position EXPANSION happens on executors
  * ([[DeltaLite.dvPositionsFrame]] parallelizes the bytes and
  * flatMaps), so the driver never materializes per-row positions.
  */
object DeletionVectors {

  /** The `deletionVector` struct of an `add` action (PROTOCOL.md). */
  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long)

  // --------------------------------------------------------- descriptor

  private[graft] def parseJValue(jv: JValue, where: String): Descriptor =
    jv match {
      case JObject(fs) =>
        val m = fs.toMap
        def str(k: String): String = m.get(k).collect {
          case JString(s) => s
        }.getOrElse(sys.error(s"$where: deletionVector without $k"))
        def num(k: String): Option[Long] = m.get(k).collect {
          case JInt(i) => i.toLong; case JLong(l) => l
        }
        Descriptor(str("storageType"), str("pathOrInlineDv"),
          num("offset").map(_.toInt),
          num("sizeInBytes").getOrElse(
            sys.error(s"$where: deletionVector without sizeInBytes")).toInt,
          num("cardinality").getOrElse(
            sys.error(s"$where: deletionVector without cardinality")))
      case _ => sys.error(s"$where: malformed deletionVector")
    }

  /** The PROTOCOL.md `deletionVector` object — what both logs write. */
  private[graft] def toJValue(d: Descriptor): JValue =
    JObject(List(
      "storageType" -> JString(d.storageType),
      "pathOrInlineDv" -> JString(d.pathOrInlineDv),
      "offset" -> d.offset.map(o => JInt(BigInt(o))).getOrElse(JNothing),
      "sizeInBytes" -> JInt(BigInt(d.sizeInBytes)),
      "cardinality" -> JLong(d.cardinality)))

  /** Compact JSON of [[toJValue]] — the `dv` string column of the
    * native checkpoint's parquet sidecars. */
  private[graft] def toJson(d: Descriptor): String =
    JsonMethods.compact(toJValue(d))

  private[graft] def fromJson(s: String): Descriptor =
    parseJValue(JsonMethods.parse(s), "dv-json")

  // ---------------------------------------------------------------- Z85

  /** ZeroMQ Z85 (spec 32): 4 bytes ↔ 5 chars, big-endian base 85. */
  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  private[graft] def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0,
      s"Z85 payload length ${s.length} is not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val dig = if (c < 128) Z85Decode(c.toInt) else -1
        require(dig >= 0, s"invalid Z85 character '$c'")
        v = v * 85 + dig
        j += 1
      }
      // each 5-char group must decode below 2^32 (Z85 spec); silently
      // truncating an over-range group would hand an inline DV (which
      // has no CRC framing) wrong-but-plausible bitmap bytes
      require(v <= 0xffffffffL,
        s"Z85 group '${s.substring(i, i + 5)}' decodes above 2^32")
      val o = i / 5 * 4
      out(o) = (v >>> 24).toByte
      out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte
      out(o + 3) = v.toByte
      i += 5
    }
    out
  }

  private[graft] def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0,
      s"Z85 input length ${bytes.length} is not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = ((bytes(i) & 0xffL) << 24) | ((bytes(i + 1) & 0xffL) << 16) |
        ((bytes(i + 2) & 0xffL) << 8) | (bytes(i + 3) & 0xffL)
      val block = new Array[Char](5)
      var j = 4
      while (j >= 0) {
        block(j) = Z85Alphabet(((v % 85).toInt))
        v /= 85
        j -= 1
      }
      sb.appendAll(block)
      i += 4
    }
    sb.toString
  }

  // ------------------------------------------------------------ storage

  /** Resolve a `u`-typed descriptor to its DV file under the table
    * root: the LAST 20 chars of pathOrInlineDv Z85-decode to the uuid;
    * anything before them is the random directory prefix. */
  private[graft] def dvFilePath(tableRoot: Path, d: Descriptor): Path =
    d.storageType match {
      case "u" =>
        val enc = d.pathOrInlineDv
        require(enc.length >= 20,
          s"u-typed deletionVector pathOrInlineDv '$enc' is shorter " +
            "than a Z85 uuid")
        val (prefix, uuidEnc) = enc.splitAt(enc.length - 20)
        val raw = z85Decode(uuidEnc)
        val bb = ByteBuffer.wrap(raw)
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val name = s"deletion_vector_$uuid.bin"
        if (prefix.isEmpty) tableRoot.resolve(name)
        else tableRoot.resolve(prefix).resolve(name)
      case "p" => java.nio.file.Paths.get(d.pathOrInlineDv)
      case other => sys.error(
        s"deletionVector storageType '$other' has no file path")
    }

  /** The serialized RoaringBitmapArray bytes of a descriptor —
    * CRC-verified for file-stored DVs. Loud on any mismatch: a
    * truncated or corrupt DV read as empty would RESURRECT deleted
    * rows, the one outcome the interop reader must never produce. */
  private[graft] def bitmapBytes(tableRoot: Path, d: Descriptor)
      : Array[Byte] = d.storageType match {
    case "i" =>
      val data = z85Decode(d.pathOrInlineDv)
      // Z85 pads to 4-byte blocks; sizeInBytes is the true length
      require(data.length >= d.sizeInBytes,
        s"inline deletionVector decodes to ${data.length} bytes, " +
          s"fewer than sizeInBytes ${d.sizeInBytes}")
      data.take(d.sizeInBytes)
    case "u" | "p" =>
      val f = dvFilePath(tableRoot, d)
      require(Files.isRegularFile(f),
        s"deletionVector file $f does not exist")
      val all = Files.readAllBytes(f)
      require(all.nonEmpty && all(0) == 1,
        s"deletionVector file $f has unsupported format version " +
          s"${if (all.isEmpty) "<empty>" else all(0).toString} " +
          "(expected 1)")
      val off = d.offset.getOrElse(1)
      require(off + 4 + d.sizeInBytes + 4 <= all.length,
        s"deletionVector at offset $off size ${d.sizeInBytes} " +
          s"overruns $f (${all.length} bytes)")
      val bb = ByteBuffer.wrap(all, off, 4).order(ByteOrder.BIG_ENDIAN)
      val dataSize = bb.getInt
      require(dataSize == d.sizeInBytes,
        s"deletionVector at $f:$off declares dataSize $dataSize but " +
          s"the descriptor says sizeInBytes ${d.sizeInBytes}")
      val data = java.util.Arrays.copyOfRange(all, off + 4,
        off + 4 + dataSize)
      val crcBuf = ByteBuffer.wrap(all, off + 4 + dataSize, 4)
        .order(ByteOrder.BIG_ENDIAN)
      val stored = crcBuf.getInt
      val crc = new CRC32
      crc.update(data)
      require(crc.getValue.toInt == stored,
        s"deletionVector at $f:$off fails its CRC-32 check " +
          "(corrupt DV — reading around it would resurrect deleted rows)")
      data
    case other => sys.error(
      s"unsupported deletionVector storageType '$other' " +
        "(this reader implements u, p and i)")
  }

  // ------------------------------------------- roaring deserialization

  private val PortableMagic = 1681511377
  private val NativeMagic = 1681511376
  // RoaringFormatSpec: SERIAL_COOKIE_NO_RUNCONTAINER = 12346 (0x303A,
  // standalone cookie, container count in the NEXT int32);
  // SERIAL_COOKIE = 12347 (0x303B, run containers present, count-1 in
  // the cookie's high 16 bits followed by the run-flags bitset).
  // Cross-checked against org.roaringbitmap.RoaringBitmap 1.3.0
  // serialize() output in DeltaInteropSpec (the jar Spark bundles).
  private val SerialCookieNoRuns = 12346
  private val SerialCookieRuns = 12347

  /** Decode a portable RoaringBitmapArray into sorted 64-bit row
    * indexes. Cost is O(cardinality) time / output — executors run
    * this, one call per DV. */
  private[graft] def positions(data: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == PortableMagic,
      if (magic == NativeMagic)
        "deletionVector bitmap uses the NATIVE RoaringBitmapArray " +
          "serialization — only the portable format (the one the " +
          "protocol mandates for cross-engine DVs) is supported"
      else f"deletionVector bitmap has magic 0x$magic%08x, not the " +
        "portable RoaringBitmapArray magic")
    val n = bb.getLong
    require(n >= 0 && n <= Int.MaxValue,
      s"deletionVector declares $n 32-bit bitmaps")
    val out = Array.newBuilder[Long]
    var lastKey = Long.MinValue
    var b = 0L
    while (b < n) {
      val key = bb.getInt.toLong & 0xffffffffL
      require(key > lastKey,
        "deletionVector bitmap keys are not strictly ascending")
      lastKey = key
      val high = key << 32
      readRoaring32(bb, v => out += (high | v))
      b += 1
    }
    out.result()
  }

  /** One standard 32-bit RoaringBitmap (RoaringFormatSpec), emitting
    * each contained value (as unsigned-int long) in ascending order. */
  private def readRoaring32(bb: ByteBuffer, emit: Long => Unit): Unit = {
    val start = bb.position()
    val cookie = bb.getInt
    val (size, runFlags) =
      if ((cookie & 0xffff) == SerialCookieRuns) {
        val sz = (cookie >>> 16) + 1
        val flags = new Array[Byte]((sz + 7) / 8)
        bb.get(flags)
        (sz, flags)
      } else {
        require(cookie == SerialCookieNoRuns,
          s"unsupported RoaringBitmap cookie $cookie")
        (bb.getInt, null)
      }
    def isRun(i: Int): Boolean =
      runFlags != null && (runFlags(i / 8) & (1 << (i % 8))) != 0
    val keys = new Array[Int](size)
    val cards = new Array[Int](size)
    var i = 0
    while (i < size) {
      keys(i) = bb.getShort & 0xffff
      cards(i) = (bb.getShort & 0xffff) + 1
      i += 1
    }
    // offsets section: present always for the no-run cookie, and for
    // the run cookie only when size >= 4 (NO_OFFSET_THRESHOLD)
    if (runFlags == null || size >= 4) {
      val offs = new Array[Int](size)
      var j = 0
      while (j < size) { offs(j) = bb.getInt; j += 1 }
      // trust but verify the FIRST container offset (cheap corruption
      // tripwire; after that containers are read sequentially, which
      // the format guarantees matches the offsets)
      if (size > 0) require(start + offs(0) == bb.position(),
        "RoaringBitmap container offsets disagree with the header size")
    }
    i = 0
    while (i < size) {
      val high = (keys(i).toLong & 0xffffL) << 16
      if (isRun(i)) {
        val nRuns = bb.getShort & 0xffff
        var r = 0
        while (r < nRuns) {
          val first = bb.getShort & 0xffff
          val len = bb.getShort & 0xffff
          var v = first
          while (v <= first + len) { emit(high | v); v += 1 }
          r += 1
        }
      } else if (cards(i) <= 4096) {
        var c = 0
        while (c < cards(i)) { emit(high | (bb.getShort & 0xffff)); c += 1 }
      } else {
        // bitmap container: 1024 little-endian 64-bit words
        var w = 0
        while (w < 1024) {
          var word = bb.getLong
          val base = w << 6
          while (word != 0) {
            val bit = java.lang.Long.numberOfTrailingZeros(word)
            emit(high | (base + bit))
            word &= word - 1
          }
          w += 1
        }
      }
      i += 1
    }
  }

  // --------------------------------------------- serialization (writer)

  /** Serialize sorted 64-bit row indexes as a portable
    * RoaringBitmapArray (array/bitmap containers, no-runs cookie) —
    * used by [[DeltaLite.writeDeletionVectors]] and by the specs'
    * hand-authored foreign DV tables. The DECODER above is additionally
    * pinned against hand-computed byte fixtures so the encoder/decoder
    * pair can't be wrong together. */
  private[graft] def serialize(sorted: Array[Long]): Array[Byte] = {
    require(sorted.sameElements(sorted.sorted),
      "DV positions must be sorted")
    val byKey = sorted.groupBy(v => (v >>> 32).toInt).toSeq.sortBy(
      k => k._1.toLong & 0xffffffffL)
    val bitmaps = byKey.map { case (key, vs) =>
      key -> roaring32Bytes(vs.map(v => (v & 0xffffffffL).toInt))
    }
    val total = 4 + 8 + bitmaps.map(4 + _._2.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(PortableMagic)
    bb.putLong(bitmaps.size.toLong)
    bitmaps.foreach { case (k, bytes) => bb.putInt(k); bb.put(bytes) }
    bb.array()
  }

  private def roaring32Bytes(values: Array[Int]): Array[Byte] = {
    val byContainer = values.groupBy(v => (v >>> 16) & 0xffff).toSeq
      .sortBy(_._1)
    val headerLen = 4 + 4 + byContainer.size * 4 + byContainer.size * 4
    val bodies = byContainer.map { case (_, vs) =>
      if (vs.length <= 4096) {
        val b = ByteBuffer.allocate(vs.length * 2)
          .order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(v => b.putShort((v & 0xffff).toShort))
        b.array()
      } else {
        val words = new Array[Long](1024)
        vs.foreach { v =>
          val low = v & 0xffff
          words(low >>> 6) |= (1L << (low & 63))
        }
        val b = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
        words.foreach(b.putLong)
        b.array()
      }
    }
    val bb = ByteBuffer.allocate(headerLen + bodies.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(SerialCookieNoRuns)
    bb.putInt(byContainer.size)
    byContainer.foreach { case (k, vs) =>
      bb.putShort((k & 0xffff).toShort)
      bb.putShort(((vs.length - 1) & 0xffff).toShort)
    }
    var off = headerLen
    bodies.foreach { b => bb.putInt(off); off += b.length }
    bodies.foreach(bb.put)
    bb.array()
  }

  /** Write MANY deletion vectors into ONE `u`-typed DV file (the
    * packing delta-spark's own writer does — one physical file per
    * delete commit, not one per touched data file) and return each
    * entry's descriptor. File layout per PROTOCOL.md: a single format
    * version byte (1), then per DV a big-endian 4-byte size, the
    * serialized portable RoaringBitmapArray bytes, and a big-endian
    * CRC-32 of those bytes; each descriptor's `offset` points at its
    * own size field. The write is temp-file + atomic move — a reader
    * can never observe a half-written DV file (its descriptors only
    * become visible through the commit that follows the move). */
  private[graft] def writeDvFilePacked(tableRoot: Path,
      entries: Seq[(Array[Byte], Long)]): Seq[Descriptor] = {
    require(entries.nonEmpty, "writeDvFilePacked needs at least one DV")
    val uuid = java.util.UUID.randomUUID
    val ub = ByteBuffer.allocate(16)
    ub.putLong(uuid.getMostSignificantBits)
    ub.putLong(uuid.getLeastSignificantBits)
    val enc = z85Encode(ub.array())
    val total = 1 + entries.map(e => 4 + e._1.length + 4).sum
    val out = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
    out.put(1.toByte)
    val descs = entries.map { case (data, card) =>
      val off = out.position()
      out.putInt(data.length)
      out.put(data)
      val crc = new CRC32
      crc.update(data)
      out.putInt(crc.getValue.toInt)
      Descriptor("u", enc, Some(off), data.length, card)
    }
    val f = tableRoot.resolve(s"deletion_vector_$uuid.bin")
    val tmp = Files.createTempFile(tableRoot, ".dv", ".tmp")
    Files.write(tmp, out.array())
    Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    descs
  }

  /** Write `bitmapData` as a fresh single-DV file under `tableRoot`
    * and return the matching `u`-typed descriptor — the single-entry
    * case of [[writeDvFilePacked]], for the specs' hand-authored DV
    * tables (tables themselves write through
    * [[DeltaLite.writeDeletionVectors]]). */
  private[graft] def writeDvFile(tableRoot: Path, bitmapData: Array[Byte],
      cardinality: Long): Descriptor =
    writeDvFilePacked(tableRoot, Seq((bitmapData, cardinality))).head
}
