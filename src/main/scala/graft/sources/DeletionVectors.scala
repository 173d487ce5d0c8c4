package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import java.nio.{ByteBuffer, ByteOrder}

/** Delta deletion-vector support for [[DeltaLake.read]] — the row-level
  * invalidation newer Delta writers (≥ 2.4, on by default for row-level
  * DML in current stacks) attach to `add` actions. All formats here are
  * the PUBLIC protocol (delta.io PROTOCOL.md §Deletion Vectors +
  * §Deletion Vector Format, and the RoaringBitmap interop spec it
  * references).
  *
  * A descriptor names where the bitmap lives (`u` = UUID-named file
  * under the table root, `p` = absolute path, `i` = inline) and the
  * bitmap marks the PHYSICAL ROW INDEXES of deleted rows within that
  * one parquet file. The serialized blob is a 4-byte LE magic
  * (1681511377) followed by the 64-bit "portable" RoaringBitmap format:
  * an 8-byte LE bitmap count, then per bitmap a 4-byte LE high-32-bit
  * key and a standard 32-bit portable roaring bitmap (array / bitmap /
  * run containers).
  *
  * In a DV FILE the blob sits at `offset`: [4-byte BE size][blob]
  * [4-byte BE CRC-32 of the blob], after a 1-byte format-version
  * header; `i` carries Z85-encoded blob bytes directly in the
  * descriptor. Everything is verified (version byte, declared size,
  * checksum, magic, cardinality) — a mismatch fails loud rather than
  * serving wrong rows.
  *
  * Scale: a DV is loaded on the driver (bitmaps are KB-to-MB compact —
  * `sizeInBytes` is in the descriptor), but positions are EXPANDED on
  * executors ([[positionsDataset]]): one row of bytes ships, the
  * flatMap fans out, and the anti-join against the scan runs
  * distributed, so a billion-row DV never materializes on the driver.
  */
object DeletionVectors {

  /** PROTOCOL.md deletion-vector descriptor on an `add` action. */
  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Long], sizeInBytes: Long, cardinality: Long)

  private val Magic = 1681511377

  // ----------------------------------------------------------- Z85 codec

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Z85 decode (ZeroMQ RFC 32): 5 chars → 4 bytes, big-endian. */
  def z85decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85 input length ${s.length} is not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"invalid Z85 character '$c'")
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

  /** Z85 encode — the write direction, used by fixtures/tests. */
  def z85encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"Z85 input length ${bytes.length} is not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = ((bytes(i) & 0xFFL) << 24) | ((bytes(i + 1) & 0xFFL) << 16) |
        ((bytes(i + 2) & 0xFFL) << 8) | (bytes(i + 3) & 0xFFL)
      val chunk = new Array[Char](5)
      var j = 4
      while (j >= 0) { chunk(j) = Z85Alphabet((v % 85).toInt); v /= 85; j -= 1 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  // ------------------------------------------------------- blob loading

  /** Resolve + load + verify a descriptor's serialized bitmap blob
    * (magic included). Driver-side; bounded by `sizeInBytes`. */
  def loadBlob(spark: SparkSession, tableRoot: String, dv: Descriptor): Array[Byte] =
    dv.storageType match {
      case "i" =>
        val blob = z85decode(dv.pathOrInlineDv)
        require(blob.length >= dv.sizeInBytes,
          s"inline DV decodes to ${blob.length} bytes, descriptor says ${dv.sizeInBytes}")
        java.util.Arrays.copyOfRange(blob, 0, dv.sizeInBytes.toInt)
      case "u" | "p" =>
        val path = dv.storageType match {
          case "p" => new Path(dv.pathOrInlineDv)
          case _ =>
            // <random prefix><20-char Z85 uuid> → <root>[/prefix]/deletion_vector_<uuid>.bin
            val s = dv.pathOrInlineDv
            require(s.length >= 20, s"malformed 'u' DV reference '$s'")
            val prefix = s.dropRight(20)
            val b = ByteBuffer.wrap(z85decode(s.takeRight(20)))
            val uuid = new java.util.UUID(b.getLong, b.getLong)
            val dir = tableRoot.stripSuffix("/") + (if (prefix.isEmpty) "" else s"/$prefix")
            new Path(s"$dir/deletion_vector_$uuid.bin")
        }
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        readDvFileBlob(fs, path, dv.offset.getOrElse(1L), dv.sizeInBytes)
      case other =>
        throw new UnsupportedOperationException(s"unknown DV storage type '$other'")
    }

  // ----------------------------------- portable RoaringBitmapArray codec

  /** Deleted row indexes from a serialized blob (magic + portable
    * 64-bit roaring). Runs wherever the bytes are — executors included. */
  def positions(blob: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getInt
    require(magic == Magic, s"DV blob magic $magic != $Magic — not a portable roaring bitmap")
    val nBitmaps = buf.getLong
    require(nBitmaps >= 0 && nBitmaps <= Int.MaxValue, s"corrupt DV: $nBitmaps bitmaps")
    val out = Array.newBuilder[Long]
    var b = 0L
    while (b < nBitmaps) {
      val key = buf.getInt.toLong
      readRoaring32(buf, v => out += (key << 32) | (v & 0xFFFFFFFFL))
      b += 1
    }
    out.result()
  }

  /** One standard 32-bit portable roaring bitmap, values in order
    * (RoaringFormatSpec: array / bitmap / run containers). */
  private def readRoaring32(buf: ByteBuffer, emit: Int => Unit): Unit = {
    val cookie = buf.getInt
    val hasRun = (cookie & 0xFFFF) == 12347
    val size =
      if (hasRun) (cookie >>> 16) + 1
      else {
        require(cookie == 12346, s"unknown roaring cookie $cookie")
        buf.getInt
      }
    val runBitset: Array[Byte] =
      if (hasRun) { val a = new Array[Byte]((size + 7) / 8); buf.get(a); a } else Array.empty
    def isRun(k: Int): Boolean = hasRun && ((runBitset(k / 8) >> (k % 8)) & 1) == 1
    val keys = new Array[Int](size)
    val cards = new Array[Int](size)
    var k = 0
    while (k < size) {
      keys(k) = buf.getShort & 0xFFFF
      cards(k) = (buf.getShort & 0xFFFF) + 1
      k += 1
    }
    // offset header present for the no-run cookie, or ≥4 containers
    if (!hasRun || size >= 4) buf.position(buf.position() + 4 * size)
    k = 0
    while (k < size) {
      val high = keys(k) << 16
      if (isRun(k)) {
        val nRuns = buf.getShort & 0xFFFF
        var r = 0
        while (r < nRuns) {
          val start = buf.getShort & 0xFFFF
          val len = buf.getShort & 0xFFFF // run covers start..start+len inclusive
          var v = start
          while (v <= start + len) { emit(high | v); v += 1 }
          r += 1
        }
      } else if (cards(k) <= 4096) {
        var i = 0
        while (i < cards(k)) { emit(high | (buf.getShort & 0xFFFF)); i += 1 }
      } else {
        var w = 0
        while (w < 1024) {
          var word = buf.getLong
          val base = high | (w << 6)
          while (word != 0L) {
            emit(base | java.lang.Long.numberOfTrailingZeros(word))
            word &= word - 1
          }
          w += 1
        }
      }
      k += 1
    }
  }

  /** The blob's deleted positions as a distributed 1-column frame
    * (`__graft_del_pos`): the compact bytes ship once, the expansion
    * fans out on executors. */
  def positionsDataset(spark: SparkSession, blob: Array[Byte]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(blob)).flatMap(b => positions(b)).toDF("__graft_del_pos")
  }

  /** Serialize row indexes into a blob (magic + portable 64-bit
    * roaring; array containers for sparse 64k chunks, 8 KiB bitmap
    * containers past 4096 values — the standard cardinality cutover) —
    * the WRITE direction, for building protocol-conformant fixtures and
    * inline descriptors. */
  def serialize(rows: Seq[Long]): Array[Byte] = {
    // primitive sort + in-place dedupe: boxed `.distinct.sorted` was the
    // hot term of million-row bitmap builds (SCALE.md, "Iceberg
    // delete-application A/B")
    val arr = rows.toArray
    java.util.Arrays.sort(arr)
    var n = 0
    var i = 0
    while (i < arr.length) {
      if (n == 0 || arr(n - 1) != arr(i)) { arr(n) = arr(i); n += 1 }
      i += 1
    }
    val sortedDistinct = scala.collection.immutable.ArraySeq.unsafeWrapArray(
      java.util.Arrays.copyOfRange(arr, 0, n))
    val byKey = sortedDistinct.groupBy(r => (r >>> 32).toInt).toSeq.sortBy(_._1)
    // capacity bound, worst case exactly: per-value payload ≤2B (a
    // bitmap container's 8192B only replaces ≥4096 values' ≥8192B), and
    // in the pathological one-value-per-key shape each value also pays
    // its own key (12B) + container (8B) headers ⇒ ≤22B/value total
    val cap = math.max(1 << 16, math.min(Int.MaxValue - 64, 4096 + 24L * n).toInt)
    val bb = ByteBuffer.allocate(cap).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic)
    bb.putLong(byKey.size.toLong)
    byKey.foreach { case (key, vals) =>
      bb.putInt(key)
      val byContainer = vals.map(v => (v & 0xFFFFFFFFL).toInt)
        .groupBy(v => (v >>> 16) & 0xFFFF).toSeq.sortBy(_._1)
      def containerBytes(vs: Seq[Int]): Int = if (vs.size <= 4096) 2 * vs.size else 8192
      bb.putInt(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
      bb.putInt(byContainer.size)
      byContainer.foreach { case (hi, vs) =>
        bb.putShort(hi.toShort); bb.putShort((vs.size - 1).toShort)
      }
      val bitmapStart = bb.position() - (4 + 4 + 4 * byContainer.size)
      var off = (bb.position() + 4 * byContainer.size) - bitmapStart
      byContainer.foreach { case (_, vs) => bb.putInt(off); off += containerBytes(vs) }
      byContainer.foreach { case (_, vs) =>
        if (vs.size <= 4096) vs.sorted.foreach(v => bb.putShort((v & 0xFFFF).toShort))
        else {
          val words = new Array[Long](1024)
          vs.foreach { v =>
            val low = v & 0xFFFF
            words(low >>> 6) |= 1L << (low & 63)
          }
          words.foreach(bb.putLong)
        }
      }
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  /** An inline (`storageType: "i"`) descriptor JSON fragment for an
    * `add` action carrying these deleted rows (Z85 padding handled —
    * `sizeInBytes` records the real blob length). */
  def inlineDescriptorJson(rows: Seq[Long]): String = {
    val blob = serialize(rows)
    val padded = java.util.Arrays.copyOf(blob, (blob.length + 3) / 4 * 4)
    s""""deletionVector":{"storageType":"i","pathOrInlineDv":"${z85encode(padded)}",""" +
      s""""sizeInBytes":${blob.length},"cardinality":${rows.distinct.size}}"""
  }

  // ------------------------------------------- DV-file read/write helpers

  /** Write one DV FILE holding `blobs` in the protocol's on-disk layout
    * (PROTOCOL.md §Deletion Vector File Storage Format, version 1): a
    * 1-byte format-version header, then per blob [4-byte BE size][blob]
    * [4-byte BE CRC-32 of the blob]. Returns each blob's `offset` (the
    * position of its size field — what a descriptor records). Shared by
    * graft's own `f`-storage DV entries and Delta-conformant fixtures:
    * one layout, one loader, both directions pinned by round-trip specs. */
  def writeDvFile(fs: org.apache.hadoop.fs.FileSystem, path: Path,
      blobs: Seq[Array[Byte]]): Seq[Long] = {
    val out = fs.create(path, false)
    val offsets = Seq.newBuilder[Long]
    try {
      out.write(1) // format version
      var pos = 1L
      blobs.foreach { blob =>
        offsets += pos
        val bb = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN).putInt(blob.length)
        out.write(bb.array())
        out.write(blob)
        val crc = new java.util.zip.CRC32
        crc.update(blob)
        out.write(ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
          .putInt(crc.getValue.toInt).array())
        pos += 4L + blob.length + 4L
      }
    } finally out.close()
    offsets.result()
  }

  /** Load + verify one blob out of a DV file written by [[writeDvFile]]
    * (or any protocol-conformant writer): version byte, declared size,
    * CRC-32 — a mismatch fails loud rather than serving wrong rows. */
  def readDvFileBlob(fs: org.apache.hadoop.fs.FileSystem, path: Path,
      offset: Long, expectedSize: Long): Array[Byte] = {
    val len = fs.getFileStatus(path).getLen
    val all = new Array[Byte](len.toInt)
    val in = fs.open(path)
    try in.readFully(0, all) finally in.close()
    require(all.nonEmpty && all(0) == 1,
      s"DV file $path has unsupported format version ${if (all.isEmpty) "<empty>" else all(0)}")
    val off = offset.toInt
    val size = ByteBuffer.wrap(all, off, 4).order(ByteOrder.BIG_ENDIAN).getInt
    require(size == expectedSize,
      s"DV at $path+$off declares $size bytes, descriptor says $expectedSize")
    val blob = java.util.Arrays.copyOfRange(all, off + 4, off + 4 + size)
    val crc = new java.util.zip.CRC32
    crc.update(blob)
    val stored = ByteBuffer.wrap(all, off + 4 + size, 4).order(ByteOrder.BIG_ENDIAN).getInt
    require(crc.getValue.toInt == stored,
      s"DV at $path+$off failed its CRC-32 check — refusing to serve wrong rows")
    blob
  }
}
