package graft.lake

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.zip.CRC32

import com.fasterxml.jackson.databind.ObjectMapper

/** Deletion vectors — the Delta protocol's metadata-sized row deletes
  * (PROTOCOL.md "Deletion Vectors", reader feature `deletionVectors`,
  * readerVersion 3 / writerVersion 7). A DV is the set of 0-based ROW
  * INDEXES of a data file whose rows are logically deleted: a boundary
  * delete that used to rewrite a 1 GB file now writes a few-KB bitmap
  * and re-adds the same path — the dominant DELETE cost at 100 TB.
  *
  * Serialization is the protocol's stack, implemented from the public
  * specs on JDK primitives (no dependencies):
  *
  *  - 64-bit bitmap = RoaringBitmapArray "portable" format: 4-byte LE
  *    magic 1681511377, 8-byte LE bucket count, then per bucket a
  *    4-byte LE key (high 32 bits) + the standard 32-bit Roaring
  *    serialization of the low 32 bits.
  *  - 32-bit Roaring (RoaringFormatSpec): LE cookie 12347
  *    (no-run-containers), LE container count, descriptive headers
  *    (2-byte LE high-16 key, 2-byte LE cardinality-1), 4-byte LE
  *    per-container offsets, then containers in key order — ARRAY
  *    (cardinality ≤ 4096: sorted 2-byte LE values) or BITMAP
  *    (8192 bytes, 1024 LE words). Run containers are never WRITTEN;
  *    a foreign bitmap with the run cookie (12346) fails loudly rather
  *    than mis-reads.
  *  - DV file: 1-byte format version (1), then each DV as
  *    [4-byte BE size][bitmap bytes][4-byte BE CRC-32 of the bitmap
  *    bytes]; a descriptor's `offset` points at its size field and
  *    `sizeInBytes` is the bitmap byte count. One file can carry many
  *    DVs (one per data file touched by a commit) at distinct offsets.
  *  - Descriptor (`add.deletionVector`): storageType "u" (file named
  *    deletion_vector_<uuid>.bin under the table root, pathOrInlineDv =
  *    Z85-encoded 16-byte UUID) or "i" (bitmap bytes Z85-encoded
  *    inline); offset (absent for inline), sizeInBytes, cardinality.
  *
  * Checksums are verified on read; every structural surprise (bad
  * magic, run cookie, truncation, CRC mismatch) fails loudly. */
object DeletionVectors {

  /** The `add.deletionVector` descriptor (public protocol field names). */
  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long)

  private val Magic = 1681511377
  private val CookieNoRun = 12347
  private val CookieRun = 12346

  // ---- 64-bit RoaringBitmapArray (portable) -----------------------------

  /** Serialize SORTED DISTINCT non-negative row indexes. */
  def serialize(rows: Array[Long]): Array[Byte] = {
    require(rows.nonEmpty, "DV: empty bitmap — omit the descriptor instead")
    var i = 1
    while (i < rows.length) {
      require(rows(i - 1) < rows(i), s"DV: rows not sorted-distinct at $i")
      i += 1
    }
    require(rows.head >= 0, s"DV: negative row index ${rows.head}")
    // bucket by high 32 bits (row indexes are tiny in practice; the
    // format carries the full 64-bit space regardless)
    val buckets = rows.groupBy(r => (r >>> 32).toInt).toSeq.sortBy(_._1)
    val parts = buckets.map { case (key, vs) =>
      key -> serialize32(vs.map(v => (v & 0xffffffffL).toInt))
    }
    val total = 12 + parts.map(4 + _._2.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic)
    bb.putLong(buckets.size.toLong)
    parts.foreach { case (key, bytes) => bb.putInt(key); bb.put(bytes) }
    bb.array()
  }

  /** Inverse of [[serialize]]: sorted distinct row indexes. */
  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == Magic, s"DV: bad magic $magic (want $Magic)")
    val n = bb.getLong
    require(n >= 0 && n <= Int.MaxValue, s"DV: bucket count $n out of range")
    val out = Array.newBuilder[Long]
    var b = 0L
    while (b < n) {
      val key = bb.getInt.toLong & 0xffffffffL
      deserialize32(bb).foreach(low => out += (key << 32) | (low.toLong & 0xffffffffL))
      b += 1
    }
    out.result()
  }

  /** Standard 32-bit Roaring serialization of sorted distinct ints
    * (unsigned order — callers pass values from one 32-bit bucket). */
  private def serialize32(values: Array[Int]): Array[Byte] = {
    val byHigh = values.groupBy(v => (v >>> 16) & 0xffff).toSeq.sortBy(_._1)
    val containers = byHigh.map { case (hi, vs) =>
      val lows = vs.map(_ & 0xffff).sorted
      val body: Array[Byte] =
        if (lows.length <= 4096) {
          val cb = ByteBuffer.allocate(lows.length * 2)
            .order(ByteOrder.LITTLE_ENDIAN)
          lows.foreach(v => cb.putShort(v.toShort))
          cb.array()
        } else {
          val words = new Array[Long](1024)
          lows.foreach(v => words(v >>> 6) |= (1L << (v & 63)))
          val cb = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
          words.foreach(cb.putLong)
          cb.array()
        }
      (hi, lows.length, body)
    }
    val k = containers.size
    val headerBytes = 8 + 4 * k + 4 * k // cookie+count, desc headers, offsets
    val bb = ByteBuffer.allocate(headerBytes + containers.map(_._3.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(CookieNoRun)
    bb.putInt(k)
    containers.foreach { case (hi, card, _) =>
      bb.putShort(hi.toShort); bb.putShort((card - 1).toShort)
    }
    var off = headerBytes
    containers.foreach { case (_, _, body) => bb.putInt(off); off += body.length }
    containers.foreach { case (_, _, body) => bb.put(body) }
    bb.array()
  }

  /** Read one 32-bit Roaring bitmap from `bb` (positioned at its
    * cookie), advancing the buffer past it. Returns sorted values. */
  private def deserialize32(bb: ByteBuffer): Array[Int] = {
    val start = bb.position()
    val cookie = bb.getInt
    require((cookie & 0xffff) != CookieRun,
      "DV: run-container Roaring bitmap unsupported (foreign writer with " +
        "run optimization) — refusing to mis-read")
    require(cookie == CookieNoRun, s"DV: bad Roaring cookie $cookie")
    val k = bb.getInt
    require(k >= 0 && k <= 65536, s"DV: container count $k out of range")
    val keys = new Array[Int](k)
    val cards = new Array[Int](k)
    var i = 0
    while (i < k) {
      keys(i) = bb.getShort & 0xffff
      cards(i) = (bb.getShort & 0xffff) + 1
      i += 1
    }
    val offsets = new Array[Int](k)
    i = 0
    while (i < k) { offsets(i) = bb.getInt; i += 1 }
    val out = Array.newBuilder[Int]
    var end = bb.position()
    i = 0
    while (i < k) {
      bb.position(start + offsets(i))
      if (cards(i) <= 4096) {
        var j = 0
        while (j < cards(i)) {
          out += (keys(i) << 16) | (bb.getShort & 0xffff)
          j += 1
        }
      } else {
        var w = 0
        while (w < 1024) {
          var word = bb.getLong
          var bit = 0
          while (word != 0) {
            val tz = java.lang.Long.numberOfTrailingZeros(word)
            bit += tz
            out += (keys(i) << 16) | (w * 64 + bit)
            word >>>= (tz + 1)
            bit += 1
          }
          w += 1
        }
      }
      end = math.max(end, bb.position())
      i += 1
    }
    bb.position(end)
    out.result()
  }

  // ---- DV file storage ---------------------------------------------------

  /** Write `dvs` (per-data-file sorted row-index sets) as ONE DV file
    * under `root`, named deletion_vector_<uuid>.bin per the protocol.
    * Returns the shared pathOrInlineDv (Z85 of the UUID) plus each DV's
    * (offset, sizeInBytes, cardinality) in input order. */
  def writeFile(root: String, dvs: Seq[Array[Long]])
      : (String, Seq[Descriptor]) = {
    val uuid = java.util.UUID.randomUUID()
    val payloads = dvs.map(serialize)
    val total = 1 + payloads.map(8 + _.length).sum
    val bb = ByteBuffer.allocate(total) // BIG endian (default) for framing
    bb.put(1.toByte) // format version
    val descs = payloads.zip(dvs).map { case (p, rows) =>
      val off = bb.position()
      bb.putInt(p.length)
      bb.put(p)
      val crc = new CRC32
      crc.update(p)
      bb.putInt(crc.getValue.toInt)
      Descriptor("u", z85(uuidBytes(uuid)), Some(off), p.length, rows.length.toLong)
    }
    val target = dvPath(root, uuid)
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(s".tmp-dv-${uuid.toString.take(8)}")
    Files.write(tmp, bb.array())
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    (descs.head.pathOrInlineDv, descs)
  }

  /** The on-disk file a non-inline descriptor resolves to under `root`
    * (None for the inline "i" form): storageType "p" is an absolute
    * path; "u" is `<optional random prefix><20-char Z85 uuid>` naming
    * `deletion_vector_<uuid>.bin` under root/prefix. Shared by the
    * reader, vacuum's live-set computation, and shallow CLONE's
    * localization so the three can never disagree on resolution. */
  def fileFor(root: String, d: Descriptor): Option[Path] = d.storageType match {
    case "p" => Some(Paths.get(d.pathOrInlineDv))
    case "u" =>
      val enc = d.pathOrInlineDv
      require(enc.length >= 20, s"DV: pathOrInlineDv too short: $enc")
      val uuid = uuidOf(unz85(enc.substring(enc.length - 20)))
      val prefix = enc.substring(0, enc.length - 20)
      Some(if (prefix.isEmpty) dvPath(root, uuid)
        else Paths.get(root, prefix, s"deletion_vector_${uuid.toString}.bin"))
    case _ => None
  }

  /** Resolve a descriptor to its row indexes, verifying the CRC. */
  def read(root: String, d: Descriptor): Array[Long] = d.storageType match {
    case "i" =>
      val raw = unz85(d.pathOrInlineDv)
      require(d.sizeInBytes <= raw.length && raw.length - d.sizeInBytes < 4,
        s"DV: inline payload ${raw.length} bytes vs sizeInBytes ${d.sizeInBytes}")
      deserialize(raw.take(d.sizeInBytes))
    case "u" | "p" =>
      val p = fileFor(root, d).get
      require(Files.exists(p), s"DV: file missing: $p")
      val all = Files.readAllBytes(p)
      require(all.nonEmpty && all(0) == 1, s"DV: bad file version in $p")
      val off = d.offset.getOrElse(throw new IllegalArgumentException(
        s"DV: storageType ${d.storageType} requires offset"))
      require(off >= 1 && off + 8 <= all.length, s"DV: offset $off out of range")
      val bb = ByteBuffer.wrap(all)
      bb.position(off)
      val size = bb.getInt
      require(size == d.sizeInBytes,
        s"DV: stored size $size != descriptor sizeInBytes ${d.sizeInBytes}")
      require(off + 4 + size + 4 <= all.length, s"DV: truncated at offset $off")
      val data = new Array[Byte](size)
      bb.get(data)
      val crc = new CRC32
      crc.update(data)
      val stored = bb.getInt
      require(crc.getValue.toInt == stored,
        s"DV: CRC mismatch at offset $off in $p")
      val rows = deserialize(data)
      require(rows.length == d.cardinality,
        s"DV: ${rows.length} rows != descriptor cardinality ${d.cardinality}")
      rows
    case other => throw new IllegalArgumentException(
      s"DV: unknown storageType '$other'")
  }

  /** An inline ("i") descriptor for small DVs — the bitmap rides the
    * log itself, no extra file. Z85 needs 4-byte alignment, so the
    * payload is zero-padded for encoding; `sizeInBytes` records the
    * TRUE length and the reader truncates back to it. */
  def inline(rows: Array[Long]): Descriptor = {
    val p = serialize(rows)
    val padded =
      if (p.length % 4 == 0) p
      else p ++ new Array[Byte](4 - p.length % 4)
    Descriptor("i", z85(padded), None, p.length, rows.length.toLong)
  }

  /** Default ceiling for inlining a DV in the log action itself. At
    * 100 TB the pathological DELETE shape is MILLIONS of boundary files
    * each losing a handful of rows — one tiny `.bin` per commit batch
    * is fine, but per-file descriptors of a few dozen bytes belong in
    * the log/checkpoint (zero extra IO to read, nothing for vacuum to
    * track), exactly what the protocol's "i" storageType exists for. */
  val InlineMaxBytes = 512

  /** Descriptors for a batch of per-file DVs: bitmaps at or under
    * `inlineMax` serialized bytes go INLINE ("i"); the rest share ONE
    * "u" file at distinct offsets. Returned in input order. */
  def descriptorsFor(root: String, dvs: Seq[Array[Long]],
      inlineMax: Int = InlineMaxBytes): Seq[Descriptor] = {
    val payloads = dvs.map(serialize)
    val fileIdx = payloads.zipWithIndex.collect {
      case (p, i) if p.length > inlineMax => i
    }
    val fileDescs: Map[Int, Descriptor] =
      if (fileIdx.isEmpty) Map.empty
      else {
        val (_, ds) = writeFile(root, fileIdx.map(dvs))
        fileIdx.zip(ds).toMap
      }
    payloads.indices.map(i =>
      fileDescs.getOrElse(i, inline(dvs(i))))
  }

  def dvPath(root: String, uuid: java.util.UUID): Path =
    Paths.get(root, s"deletion_vector_${uuid.toString}.bin")

  // ---- descriptor JSON ---------------------------------------------------

  def toJson(d: Descriptor): String = {
    val m = new ObjectMapper
    val n = m.createObjectNode
    n.put("storageType", d.storageType)
    n.put("pathOrInlineDv", d.pathOrInlineDv)
    d.offset.foreach(n.put("offset", _))
    n.put("sizeInBytes", d.sizeInBytes)
    n.put("cardinality", d.cardinality)
    m.writeValueAsString(n)
  }

  def fromJson(json: String): Descriptor = {
    val n = new ObjectMapper().readTree(json)
    Descriptor(
      n.get("storageType").asText,
      n.get("pathOrInlineDv").asText,
      if (n.hasNonNull("offset")) Some(n.get("offset").asInt) else None,
      n.get("sizeInBytes").asInt,
      n.get("cardinality").asLong)
  }

  // ---- Z85 (ZeroMQ base-85, the protocol's DV encoding) ------------------

  private val Z85Alphabet =
    ("0123456789abcdefghijklmnopqrstuvwxyz" +
     "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#").toCharArray
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Z85-encode (length must be a multiple of 4). */
  def z85(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"Z85: length ${bytes.length} not 4-aligned")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div >= 1) {
        sb.append(Z85Alphabet((v / div % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  /** Z85-decode (length must be a multiple of 5). */
  def unz85(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85: length ${s.length} not 5-aligned")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"Z85: invalid character '$c'")
        v = v * 85 + d
        j += 1
      }
      val o = i / 5 * 4
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      i += 5
    }
    out
  }

  private def uuidBytes(u: java.util.UUID): Array[Byte] = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits)
    bb.putLong(u.getLeastSignificantBits)
    bb.array()
  }

  private def uuidOf(b: Array[Byte]): java.util.UUID = {
    require(b.length == 16, s"DV: uuid payload ${b.length} bytes != 16")
    val bb = ByteBuffer.wrap(b)
    new java.util.UUID(bb.getLong, bb.getLong)
  }
}
