package graft

import graft.sources.DeltaLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}

/** Read-only Delta Lake interop against a hand-written,
  * protocol-conformant `_delta_log` fixture (delta.io PROTOCOL.md): the
  * reference's silver layer IS Delta (load_data_task.py:142,147), so a
  * migrating user must be able to read their lake in place.
  *
  * The fixture is built action-by-action — protocol, metaData with the
  * schema, adds with partitionValues, removes — NOT with a Delta writer,
  * so the spec pins the log PROTOCOL, not a library's rendering of it.
  */
class DeltaLakeSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("deltalake").toString + "/t"

  /** Write `df` as ONE parquet file at exactly `root/rel`. */
  private def writeFile(root: String, rel: String, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory("deltafile").toString + "/out"
    df.coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator()
    var src: JPath = null
    while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
    require(src != null)
    val dst = Paths.get(root, rel.split('/'): _*)
    Files.createDirectories(dst.getParent)
    Files.move(src, dst)
  }

  private def writeCommit(root: String, v: Long, lines: Seq[String]): Unit = {
    val dir = Paths.get(root, "_delta_log")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"$v%020d.json"),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def jstr(s: String): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      org.json4s.JString(s)))

  private def protocolLine(reader: Int = 1, writer: Int = 2): String =
    s"""{"protocol":{"minReaderVersion":$reader,"minWriterVersion":$writer}}"""

  private def metaDataLine(schemaJson: String, partitionCols: Seq[String],
      config: Map[String, String] = Map.empty): String = {
    val cols = partitionCols.map(jstr).mkString("[", ",", "]")
    val conf = config.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    s"""{"metaData":{"id":"11111111-2222-3333-4444-555555555555","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(schemaJson)},"partitionColumns":$cols,"configuration":$conf,"createdTime":1700000000000}}"""
  }

  private def addLine(path: String, partitionValues: Map[String, String],
      extra: String = ""): String = {
    val pv = partitionValues.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    s"""{"add":{"path":${jstr(path)},"partitionValues":$pv,"size":1024,""" +
      s""""modificationTime":1700000000000,"dataChange":true$extra}}"""
  }

  private def removeLine(path: String): String =
    s"""{"remove":{"path":${jstr(path)},"deletionTimestamp":1700000001000,"dataChange":true}}"""

  /** Partitioned fixture: day DATE partition, 3 commits incl. a remove. */
  private def buildPartitioned(root: String): Unit = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.DateType, true),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType, true)))
    def data(ids: Range) = ids.map(i => (i.toLong, i.toLong * 10)).toDF("id", "v")
    writeFile(root, "day=2024-01-01/part-00000-f1.parquet", data(0 until 10))
    writeFile(root, "day=2024-01-02/part-00000-f2.parquet", data(10 until 20))
    writeCommit(root, 0, Seq(
      protocolLine(),
      metaDataLine(schema.json, Seq("day")),
      addLine("day=2024-01-01/part-00000-f1.parquet", Map("day" -> "2024-01-01")),
      addLine("day=2024-01-02/part-00000-f2.parquet", Map("day" -> "2024-01-02")),
      """{"commitInfo":{"operation":"WRITE"}}"""))
    writeFile(root, "day=2024-01-02/part-00000-f3.parquet", data(20 until 25))
    writeCommit(root, 1, Seq(
      addLine("day=2024-01-02/part-00000-f3.parquet", Map("day" -> "2024-01-02"))))
    // v2: compaction-style rewrite of f2 into f4 (same rows)
    writeFile(root, "day=2024-01-02/part-00000-f4.parquet", data(10 until 20))
    writeCommit(root, 2, Seq(
      removeLine("day=2024-01-02/part-00000-f2.parquet"),
      addLine("day=2024-01-02/part-00000-f4.parquet", Map("day" -> "2024-01-02"))))
  }

  private def asMap(df: DataFrame): Map[Long, (String, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getDate(1).toString, r.getLong(2))).toMap

  test("multi-commit replay: adds and removes reconcile, partition values typed from the log") {
    val root = freshRoot()
    buildPartitioned(root)
    val got = DeltaLake.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "day", "v"))
    assert(got.schema("day").dataType == org.apache.spark.sql.types.DateType)
    val m = asMap(got)
    assert(m.size == 25, "f1 + f3 + f4; the removed f2 must not be read")
    (0 until 10).foreach(i => assert(m(i.toLong) == ("2024-01-01", i * 10L)))
    (10 until 25).foreach(i => assert(m(i.toLong) == ("2024-01-02", i * 10L)))
    // row-identical to a direct parquet read of the live files
    val direct = spark.read.parquet(
      s"$root/day=2024-01-01/part-00000-f1.parquet",
      s"$root/day=2024-01-02/part-00000-f3.parquet",
      s"$root/day=2024-01-02/part-00000-f4.parquet")
    assert(got.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      direct.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("scheme-qualified absolute add paths keep scheme and authority") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType, true)))
    // one in-table relative add, one external file referenced by absolute
    // URI (PROTOCOL.md permits these: external files, shallow clones)
    writeFile(root, "in.parquet", Seq((1L, "in")).toDF("id", "s"))
    val extDir = Files.createTempDirectory("delta_ext").toString
    writeFile(extDir, "ext.parquet", Seq((2L, "ext")).toDF("id", "s"))
    writeCommit(root, 0, Seq(
      protocolLine(),
      metaDataLine(schema.json, Nil),
      addLine("in.parquet", Map.empty),
      addLine(s"file://$extDir/ext.parquet", Map.empty)))
    val snap = DeltaLake.snapshot(spark, root)
    assert(snap.files.map(_.path).exists(_.startsWith("file:/")),
      s"the absolute add must keep its scheme, got ${snap.files.map(_.path)}")
    val got = DeltaLake.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "in"), (2L, "ext")),
      "the external file must resolve against its own filesystem, not the table root")
  }

  test("versionAsOf pins the replay; unknown versions fail loud") {
    val root = freshRoot()
    buildPartitioned(root)
    assert(DeltaLake.read(spark, root, versionAsOf = Some(0L)).count() == 20)
    assert(DeltaLake.read(spark, root, versionAsOf = Some(1L)).count() == 25)
    assert(DeltaLake.read(spark, root, versionAsOf = Some(2L)).count() == 25)
    // v2 swapped f2 for f4 — same rows, different file set
    assert(DeltaLake.snapshot(spark, root, Some(1L)).files.map(_.path).toSet !=
      DeltaLake.snapshot(spark, root, Some(2L)).files.map(_.path).toSet)
    val e = intercept[IllegalArgumentException] {
      DeltaLake.read(spark, root, versionAsOf = Some(9L))
    }
    assert(e.getMessage.contains("version 9"))
  }

  test("trustHiveLayout single-scan read agrees with the protocol-correct read") {
    val root = freshRoot()
    buildPartitioned(root)
    val a = asMap(DeltaLake.read(spark, root))
    val b = asMap(DeltaLake.read(spark, root, trustHiveLayout = true))
    assert(a == b)
  }

  test("URI-encoded add paths decode: partition value with a space") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType, true)))
    writeFile(root, "p=a b/part-00000-g1.parquet", Seq(1L, 2L).toDF("id"))
    writeCommit(root, 0, Seq(
      protocolLine(),
      metaDataLine(schema.json, Seq("p")),
      // Delta writes the path URI-encoded
      addLine("p=a%20b/part-00000-g1.parquet", Map("p" -> "a b"))))
    val got = DeltaLake.read(spark, root).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a b"), (2L, "a b")))
  }

  test("unpartitioned table and an empty snapshot read back typed") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    writeFile(root, "part-00000-u1.parquet", Seq(7L, 8L).toDF("id"))
    writeCommit(root, 0, Seq(
      protocolLine(), metaDataLine(schema.json, Nil),
      addLine("part-00000-u1.parquet", Map.empty)))
    assert(DeltaLake.read(spark, root).as[Long].collect().toSet == Set(7L, 8L))
    // v1 removes the only file: empty but typed
    writeCommit(root, 1, Seq(removeLine("part-00000-u1.parquet")))
    val empty = DeltaLake.read(spark, root)
    assert(empty.count() == 0 && empty.schema.fieldNames.toSeq == Seq("id"))
  }

  test("unsupported tables fail loud: mapping without physical names, deletion vectors, truncated log, reader version") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))

    // column mapping DECLARED but the schema carries no physical names —
    // reading by logical names could silently return all-null columns
    val cm = freshRoot()
    writeFile(cm, "part-00000-c1.parquet", Seq(1L).toDF("id"))
    writeCommit(cm, 0, Seq(protocolLine(reader = 2),
      metaDataLine(schema.json, Nil, Map("delta.columnMapping.mode" -> "name")),
      addLine("part-00000-c1.parquet", Map.empty)))
    assert(intercept[IllegalArgumentException] { DeltaLake.read(spark, cm) }
      .getMessage.contains("physicalName"))

    // a MALFORMED deletion vector fails loud, never serves wrong rows
    val dv = freshRoot()
    writeFile(dv, "part-00000-d1.parquet", Seq(1L).toDF("id"))
    writeCommit(dv, 0, Seq(protocolLine(reader = 3),
      metaDataLine(schema.json, Nil),
      addLine("part-00000-d1.parquet", Map.empty,
        extra = ""","deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":1,"cardinality":1}""")))
    assert(intercept[IllegalArgumentException] { DeltaLake.read(spark, dv).collect() }
      .getMessage.contains("DV"))

    val trunc = freshRoot()
    writeFile(trunc, "part-00000-t1.parquet", Seq(1L).toDF("id"))
    writeCommit(trunc, 5, Seq(protocolLine(), metaDataLine(schema.json, Nil),
      addLine("part-00000-t1.parquet", Map.empty)))
    assert(intercept[IllegalArgumentException] { DeltaLake.read(spark, trunc) }
      .getMessage.contains("truncated or has gaps"))

    val hi = freshRoot()
    writeFile(hi, "part-00000-h1.parquet", Seq(1L).toDF("id"))
    writeCommit(hi, 0, Seq(protocolLine(reader = 3),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["unknownFutureFeature"]}}""".stripMargin,
      metaDataLine(schema.json, Nil),
      addLine("part-00000-h1.parquet", Map.empty)))
    assert(intercept[IllegalArgumentException] { DeltaLake.read(spark, hi) }
      .getMessage.contains("unknownFutureFeature"))
  }

  // ---- deletion vectors (protocol §Deletion Vectors + DV file format)

  /** Serialize row indexes as a DV blob: 4-byte LE magic + portable
    * 64-bit roaring (8-byte LE bitmap count; per bitmap a 4-byte LE key
    * and a standard 32-bit portable bitmap with array containers). A
    * WRITER independent of the reader under test, so the spec pins the
    * public format, not a round-trip through one implementation. */
  private def dvBlob(rows: Seq[Long]): Array[Byte] = {
    val byKey = rows.sorted.groupBy(r => (r >>> 32).toInt).toSeq.sortBy(_._1)
    val bb = java.nio.ByteBuffer.allocate(1 << 20).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377)
    bb.putLong(byKey.size.toLong)
    byKey.foreach { case (key, vals32) =>
      bb.putInt(key)
      val byContainer = vals32.map(v => (v & 0xFFFFFFFFL).toInt)
        .groupBy(v => (v >>> 16) & 0xFFFF).toSeq.sortBy(_._1)
      bb.putInt(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
      bb.putInt(byContainer.size)
      byContainer.foreach { case (hi, vs) =>
        bb.putShort(hi.toShort); bb.putShort((vs.size - 1).toShort)
      }
      // offset header: per container, bytes from the start of this
      // 32-bit bitmap (the cookie) to its data
      val bitmapStart = bb.position() - (4 + 4 + 4 * byContainer.size)
      var containerOff = (bb.position() + 4 * byContainer.size) - bitmapStart
      byContainer.foreach { case (_, vs) =>
        bb.putInt(containerOff); containerOff += 2 * vs.size
      }
      byContainer.foreach { case (_, vs) =>
        vs.sorted.foreach(v => bb.putShort((v & 0xFFFF).toShort))
      }
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  /** Write a protocol-conformant DV FILE (version byte, then at offset:
    * 4-byte BE size, blob, 4-byte BE CRC-32) named for `uuid` and return
    * the descriptor JSON fragment for an `add`. */
  private def dvFileDescriptor(root: String, uuid: java.util.UUID, rows: Seq[Long]): String = {
    val blob = dvBlob(rows)
    val crc = new java.util.zip.CRC32
    crc.update(blob)
    val bb = java.nio.ByteBuffer.allocate(1 + 4 + blob.length + 4)
    bb.put(1.toByte).putInt(blob.length).put(blob).putInt(crc.getValue.toInt)
    Files.write(Paths.get(root, s"deletion_vector_$uuid.bin"),
      java.util.Arrays.copyOf(bb.array(), bb.position()))
    val uuidBytes = java.nio.ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits).array()
    val ref = graft.sources.DeletionVectors.z85encode(uuidBytes)
    s""","deletionVector":{"storageType":"u","pathOrInlineDv":"$ref","offset":1,""" +
      s""""sizeInBytes":${blob.length},"cardinality":${rows.size}}"""
  }

  test("deletion vectors: serializer round-trips sparse array and dense bitmap containers") {
    import graft.sources.DeletionVectors
    // sparse (array containers), dense (> 4096 per 64k chunk → bitmap
    // container), a cross-chunk set, and a high-bitmap (key > 0) set
    val cases = Seq(
      Seq(1L, 3L, 7L, 65535L),
      (0L until 50000L),
      (60000L until 70000L by 3),
      Seq(1L, (1L << 32) + 5L, (1L << 33) + 7L),
      // pathological one-value-per-roaring-key shape: ~22B/value of
      // headers — pins the serializer's capacity bound (an r11 review
      // found a 12B/value bound overflowing here)
      (0L until 3000L).map(_ << 32))
    cases.foreach { rows =>
      val got = DeletionVectors.positions(DeletionVectors.serialize(rows)).toSeq
      assert(got == rows.distinct.sorted, s"round-trip failed for ${rows.take(5)}…")
    }
    // and the independent test writer agrees with the main serializer on
    // the sparse shape both can produce
    val sparse = Seq(2L, 9L, 100L)
    assert(DeletionVectors.positions(dvBlob(sparse)).toSeq == sparse)
  }

  test("deletion vectors: DV'd files read row-identical to their logical content") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType, true)))
    // f1: rows 0..9 (file row index == id here), DV kills indexes 1,3,7
    writeFile(root, "part-00000-v1.parquet",
      (0L until 10L).map(i => (i, i * 10)).toDF("id", "v"))
    // f2: rows 10..19, no DV
    writeFile(root, "part-00000-v2.parquet",
      (10L until 20L).map(i => (i, i * 10)).toDF("id", "v"))
    val uuid = java.util.UUID.fromString("0aaaaaaa-bbbb-cccc-dddd-eeeeffff0000")
    writeCommit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      metaDataLine(schema.json, Nil),
      addLine("part-00000-v1.parquet", Map.empty,
        extra = dvFileDescriptor(root, uuid, Seq(1L, 3L, 7L))),
      addLine("part-00000-v2.parquet", Map.empty)))
    val got = DeltaLake.read(spark, root).as[(Long, Long)].collect().toSet
    val want = ((0L until 20L).toSet -- Set(1L, 3L, 7L)).map(i => (i, i * 10))
    assert(got == want, s"diff: ${got.diff(want)} / ${want.diff(got)}")
  }

  test("deletion vectors: inline storage, partitioned table, and DV replacement") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType, true)))
    writeFile(root, "k=a/part-00000-p1.parquet", (0L until 8L).map(i => Tuple1(i)).toDF("id"))
    writeFile(root, "k=b/part-00000-p2.parquet", (8L until 16L).map(i => Tuple1(i)).toDF("id"))
    def inline(rows: Seq[Long]): String = {
      val blob = dvBlob(rows)
      // Z85 needs length % 4 == 0: pad and declare the real size
      val padded = java.util.Arrays.copyOf(blob, (blob.length + 3) / 4 * 4)
      s""","deletionVector":{"storageType":"i","pathOrInlineDv":"${
        graft.sources.DeletionVectors.z85encode(padded)}","sizeInBytes":${blob.length},""" +
        s""""cardinality":${rows.size}}"""
    }
    writeCommit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      metaDataLine(schema.json, Seq("k")),
      addLine("k=a/part-00000-p1.parquet", Map("k" -> "a"), extra = inline(Seq(0L, 2L))),
      addLine("k=b/part-00000-p2.parquet", Map("k" -> "b"))))
    val v0 = DeltaLake.read(spark, root).select("id").as[Long].collect().toSet
    assert(v0 == (0L until 16L).toSet -- Set(0L, 2L))
    // v1 REPLACES f1's DV (remove+add same path, one commit, either line
    // order): the new vector governs — protocol (path, dvId) reconciliation
    writeCommit(root, 1, Seq(
      addLine("k=a/part-00000-p1.parquet", Map("k" -> "a"), extra = inline(Seq(5L))),
      removeLine("k=a/part-00000-p1.parquet")))
    val v1 = DeltaLake.read(spark, root).select("id").as[Long].collect().toSet
    assert(v1 == (0L until 16L).toSet - 5L, s"got $v1")
    // time travel still sees the old vector
    val tt = DeltaLake.read(spark, root, versionAsOf = Some(0L)).select("id").as[Long].collect().toSet
    assert(tt == (0L until 16L).toSet -- Set(0L, 2L))
  }

  // ---- column mapping (protocol §Column Mapping, mode name/id)

  /** Schema JSON with per-field `delta.columnMapping.{id,physicalName}`
    * metadata, the shape Delta writes when mapping is enabled. */
  private def mappedField(logical: String, phys: String, id: Int, tpe: String,
      nested: String = ""): String = {
    val t = if (nested.isEmpty) s""""$tpe"""" else nested
    s"""{"name":"$logical","type":$t,"nullable":true,"metadata":""" +
      s"""{"delta.columnMapping.id":$id,"delta.columnMapping.physicalName":"$phys"}}"""
  }

  test("column mapping (name mode): physical parquet names read back logical, flat and partitioned") {
    import spark.implicits._
    val root = freshRoot()
    // files store col-aaa / col-bbb / col-ppp; logical schema is id/v/p
    val schemaJson =
      s"""{"type":"struct","fields":[${mappedField("id", "col-aaa", 1, "long")},""" +
        s"""${mappedField("v", "col-bbb", 2, "long")},${mappedField("p", "col-ppp", 3, "string")}]}"""
    def data(ids: Range) = ids.map(i => (i.toLong, i.toLong * 10)).toDF("col-aaa", "col-bbb")
    // partition dirs use PHYSICAL names too, as Delta renders them
    writeFile(root, "col-ppp=x/part-00000-m1.parquet", data(0 until 10))
    writeFile(root, "col-ppp=y/part-00000-m2.parquet", data(10 until 15))
    writeCommit(root, 0, Seq(
      protocolLine(reader = 2),
      metaDataLine(schemaJson, Seq("p"),
        Map("delta.columnMapping.mode" -> "name", "delta.columnMapping.maxColumnId" -> "3")),
      // partitionValues keyed by the PHYSICAL partition column name
      addLine("col-ppp=x/part-00000-m1.parquet", Map("col-ppp" -> "x")),
      addLine("col-ppp=y/part-00000-m2.parquet", Map("col-ppp" -> "y"))))
    val got = DeltaLake.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "p"), "logical names, declared order")
    assert(!got.schema("id").metadata.contains("delta.columnMapping.physicalName"),
      "mapping metadata is transport detail, stripped from the output schema")
    val m = got.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(m.size == 15)
    (0 until 10).foreach(i => assert(m(i.toLong) == (i * 10L, "x")))
    (10 until 15).foreach(i => assert(m(i.toLong) == (i * 10L, "y")))
    // trustHiveLayout would read physical dir names as columns — refused
    assert(intercept[IllegalArgumentException] {
      DeltaLake.read(spark, root, trustHiveLayout = true)
    }.getMessage.contains("physical names"))
  }

  test("column mapping: nested struct fields rename through the cast") {
    val root = freshRoot()
    val nestedType =
      s"""{"type":"struct","fields":[${mappedField("a", "col-na", 3, "long")},""" +
        s"""${mappedField("b", "col-nb", 4, "string")}]}"""
    val schemaJson =
      s"""{"type":"struct","fields":[${mappedField("id", "col-id", 1, "long")},""" +
        s"""${mappedField("s", "col-s", 2, "", nested = nestedType)}]}"""
    val df = spark.range(3).toDF("col-id")
      .withColumn("col-s", struct(
        (col("col-id") * 2).as("col-na"),
        concat(lit("v"), col("col-id").cast("string")).as("col-nb")))
    writeFile(root, "part-00000-n1.parquet", df)
    writeCommit(root, 0, Seq(
      protocolLine(reader = 2),
      metaDataLine(schemaJson, Nil, Map("delta.columnMapping.mode" -> "name")),
      addLine("part-00000-n1.parquet", Map.empty)))
    val got = DeltaLake.read(spark, root)
    assert(got.schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("a", "b"), "nested fields come back logical")
    val rows = got.select(col("id"), col("s.a"), col("s.b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((0L, 0L, "v0"), (1L, 2L, "v1"), (2L, 4L, "v2")))
  }

  // ---- the write direction: mirror a ManifestTable into a Delta log

  test("mirror publishes an in-place Delta log; Delta reads agree with manifest reads") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = freshRoot()
    val df1 = (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "k")
    ManifestTable.append(spark, root, df1, partitionBy = Seq("k"))
    assert(DeltaLake.mirror(spark, root).contains(0L))
    assert(DeltaLake.mirror(spark, root).isEmpty, "unchanged snapshot → no new commit")

    def pairs(df: DataFrame): Set[(Long, Int)] =
      df.select("id", "k").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(pairs(DeltaLake.read(spark, root)) == pairs(ManifestTable.read(spark, root)))

    // append + delete, then mirror ONE incremental commit with adds and removes
    ManifestTable.append(spark, root, (40 until 50).map(i => (i.toLong, i % 4)).toDF("id", "k"))
    ManifestTable.delete(spark, root, col("id") < 10)
    assert(DeltaLake.mirror(spark, root).contains(1L))
    assert(pairs(DeltaLake.read(spark, root)) == pairs(ManifestTable.read(spark, root)))
    // external readers keep history across mirrors
    assert(pairs(DeltaLake.read(spark, root, versionAsOf = Some(0L))) == pairs(df1))
  }

  test("writeCheckpoint: replay survives JSON history cleanup") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(100).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(0L))
    ManifestTable.append(spark, root, spark.range(100, 150).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(1L))
    assert(DeltaLake.writeCheckpoint(spark, root) == 1L)

    // clean the pre-checkpoint JSON history, as Delta's metadata retention does
    Files.delete(Paths.get(root, "_delta_log", f"${0L}%020d.json"))
    val snap = DeltaLake.snapshot(spark, root)
    assert(snap.version == 1L && snap.files.size >= 2)
    assert(DeltaLake.read(spark, root).count() == 150)

    // a commit after the checkpoint folds on top of it
    ManifestTable.append(spark, root, spark.range(150, 160).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(2L))
    assert(DeltaLake.read(spark, root).count() == 160)

    // the cleaned version is genuinely unreachable now
    assert(intercept[IllegalArgumentException] {
      DeltaLake.read(spark, root, versionAsOf = Some(0L))
    }.getMessage.contains("does not exist"))
  }

  test("graft-delta batch read: one pruned scan, declared order, version pin; DV'd tables point at DeltaLake.read") {
    import spark.implicits._
    val root = freshRoot()
    buildPartitioned(root)
    // read-agreement with the protocol-correct union reader
    val viaFormat = spark.read.format("graft-delta").load(root)
    assert(asMap(viaFormat.select("id", "day", "v")) == asMap(DeltaLake.read(spark, root)))
    // declared order: day is the MIDDLE column, not pushed last
    assert(viaFormat.columns.toSeq == Seq("id", "day", "v"))
    // partition pruning happens at the index: the pruned scan reads
    // exactly day=2024-01-01's one file
    val pruned = viaFormat.filter(col("day") === "2024-01-01")
    assert(pruned.collect().length == 10) // materialize THIS execution so its metrics fill
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }
    assert(scanned.contains(1L), s"expected 1 scanned file, got $scanned")
    // versionAsOf rides the option
    assert(spark.read.format("graft-delta").option("versionAsOf", "0").load(root).count() == 20)

    // a DV'd snapshot refuses the file-index path, naming the DV-aware reader
    val dvRoot = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    writeFile(dvRoot, "part-00000-q1.parquet", (0L until 5L).map(Tuple1(_)).toDF("id"))
    writeCommit(dvRoot, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      metaDataLine(schema.json, Nil),
      addLine("part-00000-q1.parquet", Map.empty,
        extra = "," + graft.sources.DeletionVectors.inlineDescriptorJson(Seq(0L)))))
    val e = intercept[Exception] { spark.read.format("graft-delta").load(dvRoot).collect() }
    assert(e.getMessage.contains("DeltaLake.read"), e.getMessage.take(200))
    assert(DeltaLake.read(spark, dvRoot).as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("graft-delta batch read: add-stats data skipping prunes files by min/max and nullCount") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType, true)))
    writeFile(root, "part-00000-a.parquet",
      (0L until 10L).map(i => (i, s"t$i")).toDF("id", "tag"))
    writeFile(root, "part-00000-b.parquet",
      (10L until 20L).map(i => (i, s"t$i")).toDF("id", "tag"))
    writeFile(root, "part-00000-c.parquet",
      (20L until 25L).map(i => (i, null.asInstanceOf[String])).toDF("id", "tag"))
    def statsJson(lo: Long, hi: Long, n: Long, tagNulls: Long): String = jstr(
      s"""{"numRecords":$n,"minValues":{"id":$lo},"maxValues":{"id":$hi},""" +
        s""""nullCount":{"id":0,"tag":$tagNulls}}""")
    writeCommit(root, 0, Seq(
      protocolLine(),
      metaDataLine(schema.json, Nil),
      addLine("part-00000-a.parquet", Map.empty, extra = s""","stats":${statsJson(0, 9, 10, 0)}"""),
      addLine("part-00000-b.parquet", Map.empty, extra = s""","stats":${statsJson(10, 19, 10, 0)}"""),
      addLine("part-00000-c.parquet", Map.empty, extra = s""","stats":${statsJson(20, 24, 5, 5)}""")))
    val df = spark.read.format("graft-delta").load(root)
    def filesScanned(filtered: org.apache.spark.sql.DataFrame): Long = {
      filtered.collect()
      filtered.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }.get
    }
    // range filter proves two files irrelevant
    val hi = df.filter(col("id") >= 15)
    assert(hi.count() == 10)
    assert(filesScanned(df.filter(col("id") >= 15 && col("id") < 20)) == 1L)
    // equality hits exactly one file's range
    assert(filesScanned(df.filter(col("id") === 3)) == 1L)
    // IS NULL: only the null-bearing file opens
    assert(filesScanned(df.filter(col("tag").isNull)) == 1L)
    // stats lie outside the filter's knowledge → sound: correct rows
    assert(df.filter(col("id") >= 15).select("id").as[Long].collect().toSet ==
      (15L until 25L).toSet)
  }

  test("mirror publishes add stats; a Delta reader skips files on the mirrored table") {
    import graft.sources.ManifestTable
    val root = freshRoot()
    // 3 commits with disjoint id ranges → 3+ files with tight id bounds
    ManifestTable.append(spark, root, spark.range(0, 100).toDF("id"))
    ManifestTable.append(spark, root, spark.range(100, 200).toDF("id"))
    ManifestTable.append(spark, root, spark.range(200, 300).toDF("id"))
    DeltaLake.mirror(spark, root)
    // the published log carries stats JSON on its adds
    val snap = DeltaLake.snapshot(spark, root)
    assert(snap.files.nonEmpty && snap.files.forall(_.stats.isDefined),
      s"adds missing stats: ${snap.files.filter(_.stats.isEmpty).map(_.path)}")
    val total = snap.files.size
    val df = spark.read.format("graft-delta").load(root)
    val pruned = df.filter(col("id") >= 250)
    assert(pruned.collect().map(_.getLong(0)).toSet == (250L until 300L).toSet)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }.get
    assert(scanned < total, s"stats skipping: scanned $scanned of $total files")
    // checkpointed replay keeps the stats
    DeltaLake.writeCheckpoint(spark, root)
    Files.delete(Paths.get(root, "_delta_log", f"${0L}%020d.json"))
    assert(DeltaLake.snapshot(spark, root).files.forall(_.stats.isDefined),
      "checkpoint must carry add stats through")
  }

  test("graft-delta streaming source: snapshot first, then per-commit adds; removals fail loud") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = freshRoot()
    // a real Delta log via the mirror write path
    ManifestTable.append(spark, root, spark.range(10).toDF("id"))
    DeltaLake.mirror(spark, root)

    val q1 = spark.readStream.format("graft-delta").load(root)
      .writeStream.format("memory").queryName("gd_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    try q1.awaitTermination(60000) finally q1.stop()
    assert(spark.table("gd_stream").count() == 10, "first batch = full snapshot")

    // two more Delta commits; a restarted stream picks up ONLY the new files
    ManifestTable.append(spark, root, spark.range(10, 25).toDF("id"))
    DeltaLake.mirror(spark, root)
    ManifestTable.append(spark, root, spark.range(25, 30).toDF("id"))
    DeltaLake.mirror(spark, root)
    val ckpt = Files.createTempDirectory("gd_ck").toString
    val outDir = Files.createTempDirectory("gd_out").toString + "/sink"
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta").load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      try q.awaitTermination(60000) finally q.stop()
    }
    runOnce()
    assert(spark.read.parquet(outDir).as[Long].collect().toSet == (0L until 30L).toSet)
    ManifestTable.append(spark, root, spark.range(30, 33).toDF("id"))
    DeltaLake.mirror(spark, root)
    runOnce()
    assert(spark.read.parquet(outDir).as[Long].collect().toSet == (0L until 33L).toSet,
      "restart from checkpoint serves only the new commit's files")

    // a data-removing Delta commit cannot stream
    ManifestTable.delete(spark, root, col("id") < 5)
    DeltaLake.mirror(spark, root)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runOnce() }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("writeCheckpointV2: graft-written UUID checkpoint + sidecars replays after cleanup; layout foreign-readable") {
    import spark.implicits._
    import graft.sources.ManifestTable
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(100).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(0L))
    ManifestTable.append(spark, root, spark.range(100, 150).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(1L))
    // the mirror's log grants no v2Checkpoint feature, so the V2 write
    // first publishes a protocol-upgrade commit (the spec REQUIRES the
    // feature on any table carrying a V2-form checkpoint) and the
    // checkpoint lands at the upgraded version 2
    assert(DeltaLake.writeCheckpointV2(spark, root, sidecarParts = 2) == 2L)
    // foreign-readable layout: one UUID-named top file, adds ONLY in
    // the two sidecar parquet files under _delta_log/_sidecars/
    val log = new java.io.File(s"$root/_delta_log")
    val tops = log.listFiles().filter(
      _.getName.matches("""\d{20}\.checkpoint\.[0-9a-fA-F-]{36}\.parquet"""))
    assert(tops.length === 1, s"expected one UUID-named checkpoint: ${log.list().toSeq}")
    val sidecars = new java.io.File(log, "_sidecars").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(sidecars.length === 2)
    val topDf = spark.read.parquet(tops.head.toString)
    assert(topDf.columns.contains("checkpointMetadata") && topDf.columns.contains("sidecar"))
    assert(!topDf.columns.contains("add"), "v2 top file must carry references, not adds")
    assert(topDf.filter(col("checkpointMetadata").isNotNull).count() === 1)
    assert(topDf.filter(col("sidecar").isNotNull).count() === 2)
    val sideAdds = spark.read.parquet(sidecars.map(_.toString): _*)
      .filter(col("add").isNotNull).count()
    assert(sideAdds >= 2, "every live file's add lives in a sidecar")
    // the upgrade commit + the checkpoint's own protocol row both grant
    // v2Checkpoint (minReader 3 / minWriter 7) — what a spec-compliant
    // foreign reader checks before trusting the UUID-named file; the
    // legacy (1,2) protocol's implied writer features stay enumerated
    val upgradeJson = Files.readString(Paths.get(root, "_delta_log", f"${2L}%020d.json"))
    assert(upgradeJson.contains("\"v2Checkpoint\"") &&
      upgradeJson.contains("\"minReaderVersion\":3") &&
      upgradeJson.contains("\"minWriterVersion\":7"))
    assert(upgradeJson.contains("\"appendOnly\"") && upgradeJson.contains("\"invariants\""),
      "upgrading (1,2) to table features must enumerate the implied writer features")
    val protoRow = topDf.filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.readerFeatures").collect()
    assert(protoRow.length === 1 && protoRow.head.getInt(0) === 3 &&
      protoRow.head.getSeq[String](1).contains("v2Checkpoint"))
    // replay survives JSON history cleanup — the own reader consumes
    // the graft-written v2 layout end to end
    Files.delete(Paths.get(root, "_delta_log", f"${0L}%020d.json"))
    assert(DeltaLake.read(spark, root).count() === 150)
    // a commit after the v2 checkpoint folds on top of it
    ManifestTable.append(spark, root, spark.range(150, 160).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(3L))
    assert(DeltaLake.read(spark, root).count() === 160)
    // the lazy path prunes over sidecar frames too
    val pruned = spark.read.format("graft-delta").load(root).filter(col("id") === 155L)
    assert(pruned.count() === 1)
  }

  test("v2 checkpoint: UUID-named file with sidecar adds replays after JSON cleanup") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    writeFile(root, "part-00000-s1.parquet", (0L until 10L).map(Tuple1(_)).toDF("id"))
    writeFile(root, "part-00000-s2.parquet", (10L until 20L).map(Tuple1(_)).toDF("id"))
    writeFile(root, "part-00000-s3.parquet", (20L until 25L).map(Tuple1(_)).toDF("id"))
    writeCommit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}""",
      metaDataLine(schema.json, Nil),
      addLine("part-00000-s1.parquet", Map.empty),
      addLine("part-00000-s2.parquet", Map.empty)))
    writeCommit(root, 1, Seq(addLine("part-00000-s3.parquet", Map.empty)))

    // hand-write a v2 checkpoint at version 1: the checkpoint file holds
    // protocol/metaData/checkpointMetadata + ONE inline add; the other
    // two adds live in a sidecar parquet under _delta_log/_sidecars/
    import org.apache.spark.sql.types.{ArrayType, IntegerType, MapType, StringType, StructField, StructType => ST}
    import org.apache.spark.sql.Row
    val addT = ST(Seq(
      StructField("path", StringType), StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", org.apache.spark.sql.types.LongType),
      StructField("dataChange", org.apache.spark.sql.types.BooleanType)))
    val cpT = ST(Seq(
      StructField("protocol", ST(Seq(StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))), nullable = true),
      StructField("metaData", ST(Seq(StructField("id", StringType),
        StructField("format", ST(Seq(StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)))), nullable = true),
      StructField("add", addT, nullable = true),
      StructField("checkpointMetadata", ST(Seq(StructField("version",
        org.apache.spark.sql.types.LongType))), nullable = true),
      StructField("sidecar", ST(Seq(StructField("path", StringType),
        StructField("sizeInBytes", org.apache.spark.sql.types.LongType))), nullable = true)))
    def writeParquetAt(dst: java.nio.file.Path, rows: Seq[Row], t: ST): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = Files.createTempDirectory("v2cp").toString + "/out"
      spark.createDataFrame(rows.asJava, t).coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator()
      var src: JPath = null
      while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
      Files.createDirectories(dst.getParent)
      Files.move(src, dst)
    }
    val sidecarT = ST(Seq(StructField("add", addT, nullable = true)))
    writeParquetAt(Paths.get(root, "_delta_log", "_sidecars", "scar-1.parquet"),
      Seq(Row(Row("part-00000-s2.parquet", Map.empty[String, String], 1L, true)),
        Row(Row("part-00000-s3.parquet", Map.empty[String, String], 1L, true))), sidecarT)
    val uuid = "0e4b7baa-0a0a-4d2e-b4a8-9a8f17b6f0aa"
    writeParquetAt(Paths.get(root, "_delta_log", f"${1L}%020d.checkpoint.$uuid.parquet"),
      Seq(
        Row(Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null, null, null),
        Row(null, Row("cp-meta-id", Row("parquet"), schema.json, Seq.empty[String],
          Map.empty[String, String]), null, null, null),
        Row(null, null, Row("part-00000-s1.parquet", Map.empty[String, String], 1L, true),
          null, null),
        Row(null, null, null, Row(1L), null),
        Row(null, null, null, null, Row("scar-1.parquet", 1L))), cpT)

    // clean ALL JSON history — only the v2 checkpoint can serve v1 now
    Files.delete(Paths.get(root, "_delta_log", f"${0L}%020d.json"))
    Files.delete(Paths.get(root, "_delta_log", f"${1L}%020d.json"))
    val snap = DeltaLake.snapshot(spark, root)
    assert(snap.version == 1L && snap.files.map(_.path).toSet ==
      Set("part-00000-s1.parquet", "part-00000-s2.parquet", "part-00000-s3.parquet"))
    assert(DeltaLake.read(spark, root).select("id").as[Long].collect().toSet ==
      (0L until 25L).toSet)
  }

  test("foreign change feed: cdc actions, synthesized inserts, no-trail fail-loud") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType, true)))
    def data(ids: Range) = ids.map(i => (i.toLong, i.toLong * 10)).toDF("id", "v")
    // v0: pure append, CDF off is fine for appends (synthesized inserts)
    writeFile(root, "a.parquet", data(0 until 10))
    writeCommit(root, 0, Seq(protocolLine(), metaDataLine(schema.json, Nil),
      addLine("a.parquet", Map.empty)))
    // v1: an UPDATE recorded through cdc actions — change file carries
    // pre/postimages; the paired remove+add must NOT double-count
    writeFile(root, "b.parquet", data(0 until 10).withColumn("v",
      org.apache.spark.sql.functions.when(col("id") === 3L, 999L).otherwise(col("v"))))
    val cdc = Seq((3L, 30L, "update_preimage"), (3L, 999L, "update_postimage"))
      .toDF("id", "v", "_change_type")
    writeFile(root, "_change_data/c1.parquet", cdc)
    writeCommit(root, 1, Seq(
      """{"commitInfo":{"operation":"UPDATE"}}""",
      removeLine("a.parquet"),
      addLine("b.parquet", Map.empty),
      s"""{"cdc":{"path":"_change_data/c1.parquet","partitionValues":{},"size":1,"dataChange":false}}"""))
    val feed = DeltaLake.readChangeFeed(spark, root, 0)
    assert(feed.columns.toSeq ===
      Seq("id", "v", "_change_type", "_commit_version", "_commit_timestamp"))
    val got = feed.select("id", "v", "_change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSet
    val inserts = (0 until 10).map(i => (i.toLong, i.toLong * 10, "insert", 0L)).toSet
    assert(got === inserts ++ Set((3L, 30L, "update_preimage", 1L),
      (3L, 999L, "update_postimage", 1L)))
    // starting at v1 serves only the explicit changes
    assert(DeltaLake.readChangeFeed(spark, root, 1).count() === 2)
    // SQL face routes the Delta path through the same reader
    assert(spark.sql(s"SELECT count(*) AS n FROM table_changes('graft.`$root`', 1)")
      .head().getLong(0) === 2)
    // v2: a remove with NO cdc trail cannot serve a feed
    writeCommit(root, 2, Seq("""{"commitInfo":{"operation":"DELETE"}}""",
      removeLine("b.parquet")))
    val e = intercept[Exception] { DeltaLake.readChangeFeed(spark, root, 0).collect() }
    assert(e.getMessage.contains("change-data"))
    // but a range that stops before it still serves
    assert(DeltaLake.readChangeFeed(spark, root, 0, Some(1)).count() === 12)
  }

  test("TIMESTAMP AS OF honors in-commit timestamps over file mtimes") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    writeFile(root, "a.parquet", (0L until 10L).map(Tuple1(_)).toDF("id"))
    writeFile(root, "b.parquet", (10L until 30L).map(Tuple1(_)).toDF("id"))
    // ICT values FAR in the past; the commit files' real mtimes are "now",
    // so a resolver using mtimes would find NOTHING at these timestamps
    val t0 = 1700000000000L
    writeCommit(root, 0, Seq(protocolLine(), metaDataLine(schema.json, Nil),
      s"""{"commitInfo":{"operation":"WRITE","inCommitTimestamp":$t0}}""",
      addLine("a.parquet", Map.empty)))
    writeCommit(root, 1, Seq(
      s"""{"commitInfo":{"operation":"WRITE","inCommitTimestamp":${t0 + 10000}}}""",
      addLine("b.parquet", Map.empty)))
    assert(DeltaLake.versionAsOfTimestamp(spark, root, t0 + 5000) === 0L)
    assert(DeltaLake.versionAsOfTimestamp(spark, root, t0 + 10000) === 1L)
    intercept[Exception] { DeltaLake.versionAsOfTimestamp(spark, root, t0 - 1) }
    // DESCRIBE HISTORY surfaces the ICT values, monotonized
    val hist = DeltaLake.history(spark, root)
      .select("version", "timestamp").collect().map(r =>
        r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(hist(0L) === t0 && hist(1L) === t0 + 10000)
    // the SQL face travels by the same rule
    val n = spark.sql(s"SELECT count(*) AS n FROM graft.`$root` " +
      s"TIMESTAMP AS OF TIMESTAMP'2023-11-14 22:13:25'").head().getLong(0)
    assert(n === 10, "between the two in-commit timestamps -> version 0")
  }

  test("lazy snapshot: executors prune checkpoint adds; JSON tail reconciles; DV checkpoint falls back") {
    import graft.sources.{ManifestTable, SkippingKernel}
    val root = freshRoot()
    // three files with disjoint id ranges, published as one Delta commit
    ManifestTable.append(spark, root, spark.range(0, 100).toDF("id"))
    ManifestTable.append(spark, root, spark.range(100, 200).toDF("id"))
    ManifestTable.append(spark, root, spark.range(200, 300).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(0L))
    assert(DeltaLake.writeCheckpoint(spark, root) == 0L)

    // the checkpointed snapshot routes lazy
    val ls = DeltaLake.lazySnapshot(spark, root) match {
      case Right(l) => l
      case Left(_) => fail("checkpointed DV-free snapshot must resolve lazily")
    }
    assert(ls.tailLive.isEmpty && ls.tailMasked.isEmpty)

    // no translatable predicate → full listing, stats payload elided
    val all = DeltaLake.pruneCheckpointAdds(spark, ls, Nil)
    assert(all.size >= 3 && all.forall(_.stats.isEmpty) && all.forall(_.size.isDefined))
    // the DISTRIBUTED prune itself: a range predicate drops every add
    // whose bounds exclude it, before any driver-side re-check
    val hit = DeltaLake.pruneCheckpointAdds(spark, ls,
      Seq(SkippingKernel.resolve(spark, col("id") >= lit(250L), ls.schema)))
    assert(hit.nonEmpty && hit.size < all.size,
      s"expected executors to prune ${all.size} adds down, got ${hit.map(_.path)}")
    assert(hit.forall(_.stats.isDefined) && hit.forall(_.size.isDefined))

    // end to end: the pruned scan opens only the surviving files, rows agree
    val df = spark.read.format("graft-delta").load(root)
    assert(df.count() == 300)
    val pruned = df.filter(col("id") >= 250)
    assert(pruned.collect().map(_.getLong(0)).toSet == (250L until 300L).toSet)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }
    assert(scanned.contains(hit.size.toLong), s"expected ${hit.size} scanned files, got $scanned")

    // a JSON tail on top of the checkpoint: new adds fold in lazily
    ManifestTable.append(spark, root, spark.range(300, 400).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(1L))
    // a tail DELETE rewrites a checkpointed file: its remove must MASK
    // the checkpoint's add, the rewritten file must serve instead
    assert(ManifestTable.delete(spark, root, col("id") < 50).isDefined)
    assert(DeltaLake.mirror(spark, root).contains(2L))
    val ls2 = DeltaLake.lazySnapshot(spark, root) match {
      case Right(l) => l
      case Left(_) => fail("tail commits must not force the eager path")
    }
    assert(ls2.tailMasked.nonEmpty, "the tail rewrite must mask the superseded checkpoint add")
    val df2 = spark.read.format("graft-delta").load(root)
    assert(df2.count() == 350)
    assert(df2.agg(min(col("id"))).head().getLong(0) == 50L)
    // lazy read == eager protocol reader, row for row
    assert(df2.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      DeltaLake.read(spark, root).select("id").collect().map(_.getLong(0)).sorted.toSeq)
    // log-synthesized statuses: sizeInBytes comes from the add rows
    assert(DeltaLake.lazySizeInBytes(spark, ls2) > 0L)
    // the SQL catalog route resolves the same lazy relation
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root` WHERE id >= 300")
      .head().getLong(0) === 100L)

    // partitioned + checkpointed (DATE partition, stats-less adds): the
    // synthesized min = max = partition-value columns prune on executors
    val pRoot = freshRoot()
    buildPartitioned(pRoot)
    assert(DeltaLake.writeCheckpoint(spark, pRoot) == 2L)
    val pls = DeltaLake.lazySnapshot(spark, pRoot) match {
      case Right(l) => l
      case Left(_) => fail("partitioned checkpoint must route lazy")
    }
    val pAll = DeltaLake.pruneCheckpointAdds(spark, pls, Nil)
    val pHit = DeltaLake.pruneCheckpointAdds(spark, pls, Seq(SkippingKernel.resolve(spark,
      col("day") === lit(java.sql.Date.valueOf("2024-01-01")), pls.schema)))
    assert(pHit.size == 1 && pAll.size == 3,
      s"partition-value prune: ${pHit.map(_.path)} of ${pAll.map(_.path)}")
    val pdf = spark.read.format("graft-delta").load(pRoot)
      .filter(col("day") === "2024-01-01")
    assert(pdf.collect().map(_.getLong(0)).toSet == (0L until 10L).toSet)

    // a DV-bearing checkpoint refuses the lazy route (row-level deletes
    // need the composed read), falling back to the eager snapshot
    val dvRoot = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    import spark.implicits._
    writeFile(dvRoot, "part-00000-lz.parquet", (0L until 5L).map(Tuple1(_)).toDF("id"))
    writeCommit(dvRoot, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      metaDataLine(schema.json, Nil),
      addLine("part-00000-lz.parquet", Map.empty,
        extra = "," + graft.sources.DeletionVectors.inlineDescriptorJson(Seq(0L)))))
    assert(DeltaLake.writeCheckpoint(spark, dvRoot) == 0L)
    assert(DeltaLake.lazySnapshot(spark, dvRoot).isLeft,
      "a DV-carrying checkpoint must fall back to the eager snapshot")
    assert(DeltaLake.read(spark, dvRoot).as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("checkpoint protocol fidelity: legacy feature-implying versions are NOT promoted; genuine promotion enumerates legacy-implied features") {
    import spark.implicits._
    // --- a conformant legacy (2,5) column-mapped table: minReader 2
    // IMPLIES columnMapping, so the checkpoint must carry (2,5)
    // verbatim — promoting it to (3,7) with writerFeatures=
    // [columnMapping] alone would silently revoke the writer features
    // minWriter 5 granted (the r13 ADVICE finding)
    val root = freshRoot()
    val schemaJson =
      s"""{"type":"struct","fields":[${mappedField("id", "col-aaa", 1, "long")},""" +
        s"""${mappedField("v", "col-bbb", 2, "long")}]}"""
    writeFile(root, "part-00000-lf1.parquet",
      (0 until 10).map(i => (i.toLong, i * 10L)).toDF("col-aaa", "col-bbb"))
    writeCommit(root, 0, Seq(
      protocolLine(reader = 2, writer = 5),
      metaDataLine(schemaJson, Nil,
        Map("delta.columnMapping.mode" -> "name", "delta.columnMapping.maxColumnId" -> "2",
          "delta.checkpointInterval" -> "25")),
      addLine("part-00000-lf1.parquet", Map.empty)))
    assert(DeltaLake.writeCheckpoint(spark, root) == 0L)
    val cp = spark.read.parquet(s"$root/_delta_log/${f"${0L}%020d"}.checkpoint.parquet")
    val proto = cp.filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion").head()
    assert(proto.getInt(0) == 2 && proto.getInt(1) == 5,
      s"legacy (2,5) must checkpoint verbatim, got (${proto.getInt(0)},${proto.getInt(1)})")
    assert(!cp.schema("protocol").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("readerFeatures") ||
      cp.filter(col("protocol").isNotNull).select("protocol.readerFeatures").head().isNullAt(0),
      "a legacy protocol carries implied features, never lists")
    // the table's configuration survives into the checkpoint metaData
    // (losing delta.* keys after JSON cleanup would un-configure the table)
    val cfg = cp.filter(col("metaData").isNotNull)
      .select("metaData.configuration").head().getMap[String, String](0)
    assert(cfg.get("delta.checkpointInterval").contains("25"), s"configuration dropped: $cfg")
    assert(cfg.get("delta.columnMapping.mode").contains("name"))
    // replay from the checkpoint alone still reads mapped
    Files.delete(Paths.get(root, "_delta_log", f"${0L}%020d.json"))
    val got = DeltaLake.read(spark, root)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(got.select("id").as[Long].collect().toSet == (0L until 10L).toSet)
    // RE-checkpoint of the mapped table takes the streamed path (the
    // legacy-implied columnMapping is DECLARED, so no promotion can be
    // needed): physical-keyed adds copy verbatim, still reads mapped
    writeFile(root, "part-00000-lf1b.parquet",
      (10 until 15).map(i => (i.toLong, i * 10L)).toDF("col-aaa", "col-bbb"))
    writeCommit(root, 1, Seq(addLine("part-00000-lf1b.parquet", Map.empty)))
    assert(DeltaLake.writeCheckpoint(spark, root) == 1L)
    Files.delete(Paths.get(root, "_delta_log", f"${1L}%020d.json"))
    val got2 = DeltaLake.read(spark, root)
    assert(got2.select("id").as[Long].collect().toSet == (0L until 15L).toSet)
    val cp2 = spark.read.parquet(s"$root/_delta_log/${f"${1L}%020d"}.checkpoint.parquet")
    val proto2 = cp2.filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion").head()
    assert(proto2.getInt(0) == 2 && proto2.getInt(1) == 5,
      "the streamed re-checkpoint must keep the legacy protocol verbatim too")

    // --- genuine promotion: a (1,2) log whose snapshot carries an
    // UNDECLARED deletion vector must promote to (3,7) — and enumerate
    // the legacy writer features (appendOnly, invariants) minWriter 2
    // granted, not just the injected one
    val dvRoot = freshRoot()
    val plainSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    writeFile(dvRoot, "part-00000-lf2.parquet", (0L until 5L).map(Tuple1(_)).toDF("id"))
    writeCommit(dvRoot, 0, Seq(
      protocolLine(reader = 1, writer = 2),
      metaDataLine(plainSchema.json, Nil),
      addLine("part-00000-lf2.parquet", Map.empty,
        extra = "," + graft.sources.DeletionVectors.inlineDescriptorJson(Seq(0L)))))
    assert(DeltaLake.writeCheckpoint(spark, dvRoot) == 0L)
    val dvCp = spark.read.parquet(s"$dvRoot/_delta_log/${f"${0L}%020d"}.checkpoint.parquet")
    val dvProto = dvCp.filter(col("protocol").isNotNull).select(
      col("protocol.minReaderVersion"), col("protocol.minWriterVersion"),
      col("protocol.readerFeatures"), col("protocol.writerFeatures")).head()
    assert(dvProto.getInt(0) == 3 && dvProto.getInt(1) == 7)
    assert(dvProto.getSeq[String](2).contains("deletionVectors"))
    val wf = dvProto.getSeq[String](3).toSet
    assert(Set("deletionVectors", "appendOnly", "invariants").subsetOf(wf),
      s"promotion must enumerate minWriter 2's implied features, got $wf")
    Files.delete(Paths.get(dvRoot, "_delta_log", f"${0L}%020d.json"))
    assert(DeltaLake.read(spark, dvRoot).as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
  }

  test("re-checkpoint STREAMS off the previous checkpoint + JSON tail; content matches the eager replay") {
    import graft.sources.ManifestTable
    import spark.implicits._
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(0, 100).toDF("id"))
    ManifestTable.append(spark, root, spark.range(100, 200).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(0L))
    assert(DeltaLake.writeCheckpoint(spark, root) == 0L)
    // tail on top of the checkpoint: an append and a delete-rewrite
    // (the remove must MASK the superseded checkpoint add in the new
    // checkpoint, the rewritten file must replace it)
    ManifestTable.append(spark, root, spark.range(200, 300).toDF("id"))
    assert(DeltaLake.mirror(spark, root).contains(1L))
    assert(ManifestTable.delete(spark, root, col("id") < 50).isDefined)
    assert(DeltaLake.mirror(spark, root).contains(2L))
    // the dispatcher's precondition: this table resolves lazily, so the
    // second checkpoint is built WITHOUT materializing the add list
    assert(DeltaLake.lazySnapshot(spark, root).isRight)
    val eager = DeltaLake.snapshot(spark, root)
    assert(DeltaLake.writeCheckpoint(spark, root) == 2L)
    // _last_checkpoint size = streamed actions (protocol + metaData + adds)
    val lc = new String(Files.readAllBytes(Paths.get(root, "_delta_log", "_last_checkpoint")),
      StandardCharsets.UTF_8)
    assert(lc.contains(s""""size":${eager.files.size + 2}"""), s"_last_checkpoint: $lc")
    // replay from the streamed checkpoint ALONE must equal the eager state
    Seq(0L, 1L, 2L).foreach(v =>
      Files.delete(Paths.get(root, "_delta_log", f"$v%020d.json")))
    val replayed = DeltaLake.snapshot(spark, root)
    assert(replayed.version == 2L)
    assert(replayed.files.map(_.path).toSet == eager.files.map(_.path).toSet,
      "streamed checkpoint must carry exactly the eager replay's live files")
    assert(replayed.files.flatMap(_.stats).size == eager.files.flatMap(_.stats).size,
      "per-file stats must survive the streamed re-checkpoint")
    val ids = DeltaLake.read(spark, root).select("id").as[Long].collect().toSet
    assert(ids == (50L until 300L).toSet)
    // and a V2 checkpoint over the same already-checkpointed table
    // streams the same way (upgrade commit + sidecars), replaying clean
    assert(DeltaLake.writeCheckpointV2(spark, root, sidecarParts = 2) == 3L)
    assert(DeltaLake.read(spark, root).select("id").as[Long].collect().toSet == ids)

    // partitioned: partitionValues maps (NULL values included) must
    // round-trip through the driver-direct checkpoint-parquet read
    val pRoot = freshRoot()
    buildPartitioned(pRoot)
    assert(DeltaLake.writeCheckpoint(spark, pRoot) == 2L)
    def extra(ids: Range) = ids.map(i => (i.toLong, i.toLong * 10)).toDF("id", "v")
    writeFile(pRoot, "day=x/part-00000-f5.parquet", extra(25 until 30))
    writeCommit(pRoot, 3, Seq(
      """{"add":{"path":"day=x/part-00000-f5.parquet","partitionValues":{"day":null},""" +
        """"size":1024,"modificationTime":1700000000000,"dataChange":true}}"""))
    assert(DeltaLake.writeCheckpoint(spark, pRoot) == 3L) // null pv WRITES from the tail
    writeFile(pRoot, "day=2024-01-03/part-00000-f6.parquet", extra(30 until 35))
    writeCommit(pRoot, 4, Seq(
      addLine("day=2024-01-03/part-00000-f6.parquet", Map("day" -> "2024-01-03"))))
    assert(DeltaLake.writeCheckpoint(spark, pRoot) == 4L) // null pv READS from cp v3
    (0L to 4L).foreach(v =>
      Files.delete(Paths.get(pRoot, "_delta_log", f"$v%020d.json")))
    val pGot = DeltaLake.read(spark, pRoot)
    assert(pGot.count() == 35)
    assert(pGot.filter(col("day").isNull).select("id").as[Long].collect().toSet ==
      (25L until 30L).toSet, "a NULL partition value must survive two re-checkpoints")
    assert(pGot.filter(col("day") === "2024-01-03").count() == 5)

    // DV-carrying checkpointed table: the feature is DECLARED, so the
    // re-checkpoint streams too — the descriptor copies verbatim and
    // dead rows stay dead after full JSON cleanup
    val dRoot = freshRoot()
    val dSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    writeFile(dRoot, "part-00000-dv1.parquet", (0L until 5L).map(Tuple1(_)).toDF("id"))
    writeFile(dRoot, "part-00000-dv2.parquet", (5L until 10L).map(Tuple1(_)).toDF("id"))
    writeCommit(dRoot, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaDataLine(dSchema.json, Nil),
      addLine("part-00000-dv1.parquet", Map.empty,
        extra = "," + graft.sources.DeletionVectors.inlineDescriptorJson(Seq(0L))),
      addLine("part-00000-dv2.parquet", Map.empty)))
    assert(DeltaLake.writeCheckpoint(spark, dRoot) == 0L)
    writeFile(dRoot, "part-00000-dv3.parquet", (10L until 15L).map(Tuple1(_)).toDF("id"))
    writeCommit(dRoot, 1, Seq(addLine("part-00000-dv3.parquet", Map.empty)))
    assert(DeltaLake.writeCheckpoint(spark, dRoot) == 1L) // streams the DV'd row
    Seq(0L, 1L).foreach(v => Files.delete(Paths.get(dRoot, "_delta_log", f"$v%020d.json")))
    assert(DeltaLake.read(spark, dRoot).select("id").as[Long].collect().toSet ==
      ((1L until 15L).toSet), "the DV must survive the streamed re-checkpoint")
  }

  test("writeCheckpointV2 gates the protocol BEFORE writing: an unsupported table is never mutated") {
    import spark.implicits._
    val root = freshRoot()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, true)))
    writeFile(root, "part-00000-g1.parquet", (0L until 5L).map(Tuple1(_)).toDF("id"))
    writeCommit(root, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["unknownFutureFeature"]}}""",
      metaDataLine(schema.json, Nil),
      addLine("part-00000-g1.parquet", Map.empty)))
    val before = Files.list(Paths.get(root, "_delta_log")).count()
    intercept[IllegalArgumentException](DeltaLake.writeCheckpointV2(spark, root))
    assert(Files.list(Paths.get(root, "_delta_log")).count() == before,
      "a refused checkpoint must not publish an upgrade commit into the foreign log")
  }

  test("convertToDelta (r18): adopts a hive-partitioned parquet dir in place — escaped " +
    "partition values survive, nothing rewritten, established logs refuse") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dconv").toString + "/raw"
    // a partition value carrying a space AND a hive-escaped char (=)
    val rows = Seq((1L, "plain", 1.5), (2L, "a b", 2.5), (3L, "x=y", 3.5), (4L, "plain", 4.0))
    rows.toDF("id", "kind", "v").write.partitionBy("kind").parquet(dir)
    val dataFilesBefore = java.nio.file.Files.walk(Paths.get(dir)).iterator()
    val sigBefore = {
      import scala.jdk.CollectionConverters._
      dataFilesBefore.asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    }
    val n = DeltaLake.convertToDelta(spark, dir, Seq("kind"))
    assert(n === sigBefore.size.toLong)
    // not a byte of data rewritten
    import scala.jdk.CollectionConverters._
    val sigAfter = java.nio.file.Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    assert(sigAfter === sigBefore)
    // the Delta leg reads it back exactly, partition values unescaped
    val got = DeltaLake.read(spark, dir).orderBy("id")
      .select("id", "kind", "v").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq === rows.sortBy(_._1))
    // adoption only: an established log refuses
    val e = intercept[IllegalArgumentException](DeltaLake.convertToDelta(spark, dir, Seq("kind")))
    assert(e.getMessage.contains("already has a _delta_log"))
    // a declared partition column absent from the layout refuses loud
    val dir2 = Files.createTempDirectory("dconv2").toString + "/raw"
    Seq((1L, 1.0)).toDF("id", "v").write.parquet(dir2)
    val e2 = intercept[IllegalArgumentException](
      DeltaLake.convertToDelta(spark, dir2, Seq("kind")))
    assert(e2.getMessage.contains("partition columns"))
  }

  test("convertToDelta collectStats (r19): footer stats land in the adds so the adopted " +
    "table data-skips; a relative dir still publishes RELATIVE paths; empty part " +
    "files and FP columns handled") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dconvs").toString + "/raw"
    // two files with disjoint id ranges + a double column
    (0L until 50L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "label", "score")
      .coalesce(1).write.parquet(s"$dir/a=1")
    (1000L until 1050L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "label", "score")
      .coalesce(1).write.parquet(s"$dir/a=2")
    // a ZERO-ROW part file (Spark writes one for an empty frame — the
    // r19 review's crash shape: no row groups, vacuous stats guards)
    Seq.empty[(Long, String, Double)].toDF("id", "label", "score")
      .coalesce(1).write.parquet(s"$dir/a=3")
    // the dir spelled RELATIVE to the JVM working dir (the r18 review's
    // corruption shape: prefix-strip no-op -> absolute paths published
    // as relative, `c=v` segments of /tmp/... parsed as partitions)
    val relDir = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(dir)).toString
    val n = DeltaLake.convertToDelta(spark, relDir, Seq("a"), collectStats = true)
    assert(n === 3L)
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_delta_log"))
        .iterator().next()))
    // every add path is relative and carries stats with true bounds
    val addLines = log.split("\n").filter(_.contains("\"add\""))
    assert(addLines.length === 3)
    assert(addLines.forall(l => l.contains("\"path\":\"a=")),
      s"adds must be relative `a=…` paths: $log")
    assert(addLines.count(_.contains("numRecords\\\":50")) === 2)
    assert(addLines.count(_.contains("numRecords\\\":0")) === 1,
      "the empty part file adopts with a zero count, no crash")
    assert(log.contains("minValues") && log.contains("maxValues") && log.contains("nullCount"))
    // FP minima ride as JSON numbers too; FP maxima are not adopted
    // (Delta stats carry no NaN count, and footers from writers outside
    // Spark leave NaN out of max, so a max could hide NaN rows from x > c)
    assert(log.contains("score\\\":1500"), s"double minima must land in stats: $log")
    assert(!log.contains("score\\\":1573.5"), s"adopted double maxima must not: $log")
    // the published bounds actually skip: id >= 1000 scans one file,
    // and so does a DOUBLE-column filter served by the minima
    val got = DeltaLake.read(spark, dir).filter(col("id") >= 1000L)
    assert(got.collect().length === 50)
    def filesScanned(df: org.apache.spark.sql.DataFrame): Option[Long] =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }
    assert(filesScanned(got).contains(1L),
      s"expected 1 scanned file from adopted stats, got ${filesScanned(got)}")
    val gotFp = DeltaLake.read(spark, dir).filter(col("score") <= 73.5)
    assert(gotFp.collect().length === 50)
    assert(filesScanned(gotFp).contains(1L),
      s"expected 1 scanned file from adopted FP stats, got ${filesScanned(gotFp)}")
  }
}
