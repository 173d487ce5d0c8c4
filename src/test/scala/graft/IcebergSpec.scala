package graft

import graft.sources.{IcebergTable, IcebergWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Iceberg read support against [[IcebergWriter]] — an INDEPENDENT
  * writer of the public table spec (metadata JSON + Avro manifests), so
  * these cases pin the FORMAT, not a round-trip through the reader's
  * own code. */
class IcebergSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("iceberg").toString + "/t"

  private def docs(lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, s"name_$i", i * 10.0)).toDF("id", "name", "score")
  }

  test("basic read: current snapshot serves all live files") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 50), docs(50, 100)))
    val got = IcebergTable.read(spark, root)
    assert(got.count() === 100)
    assert(got.columns.toSeq === Seq("id", "name", "score"))
    assert(got.agg(sum("id")).head().getLong(0) === (0L until 100L).sum)
  }

  test("multi-snapshot append accumulates; snapshot-id time travel sees the past") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 40)))
    IcebergWriter.append(spark, root, Seq(docs(40, 100)))
    assert(IcebergTable.read(spark, root).count() === 100)
    assert(IcebergTable.read(spark, root, snapshotId = Some(1L)).count() === 40)
    // timestamp travel: fixture stamps snapshot k at 1700000000000 + k*1000
    val atFirst = IcebergTable.read(spark, root,
      asOfTimestampMs = Some(1700000000000L + 1500))
    assert(atFirst.count() === 40)
  }

  test("manifest bounds prune files at the index (scan lists fewer files)") {
    val root = freshRoot()
    IcebergWriter.create(spark, root,
      Seq(docs(0, 100), docs(100, 200), docs(200, 300), docs(300, 400)))
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.dataFiles.size === 4)
    val got = IcebergTable.read(spark, root).filter(col("id") >= 350)
    assert(got.count() === 50)
    // the pruned plan's scan must list exactly the one matching file
    val scanned = got.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected 1 file after bounds pruning, scanned $scanned")
  }

  test("identity partition values prune without opening files") {
    val root = freshRoot()
    import spark.implicits._
    val parts = Seq("a", "b", "c").map(tag =>
      (0 until 20).map(i => (i.toLong, tag)).toDF("id", "tag"))
    IcebergWriter.create(spark, root, parts, partitionCol = Some("tag"))
    val got = IcebergTable.read(spark, root).filter(col("tag") === "b")
    assert(got.count() === 20)
    val scanned = got.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected 1 file after partition pruning, scanned $scanned")
  }

  test("v2 position deletes: dead rows vanish through the bitmap filter") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 100)))
    val snap = IcebergTable.snapshot(spark, root)
    val dataPath = snap.dataFiles.head.path
    // data file written id-ordered (single partition preserves order):
    // kill physical rows 0..9 = ids 0..9
    IcebergWriter.addPositionDeletes(spark, root, Seq(dataPath -> (0L until 10L)))
    val got = IcebergTable.read(spark, root)
    assert(got.count() === 90)
    assert(got.agg(min("id")).head().getLong(0) === 10L)
    // pre-delete snapshot still serves every row
    assert(IcebergTable.read(spark, root, snapshotId = Some(1L)).count() === 100)
  }

  test("v2 equality deletes kill matching rows in strictly-older files only") {
    val root = freshRoot()
    import spark.implicits._
    IcebergWriter.create(spark, root, Seq(docs(0, 100)))
    IcebergWriter.addEqualityDeletes(spark, root,
      Seq(5L, 17L, 99L, 1234L).toDF("id"), Seq("id"))
    // re-appearing id in a NEWER snapshot must survive the older delete
    IcebergWriter.append(spark, root, Seq(docs(17, 18)))
    val got = IcebergTable.read(spark, root)
    assert(got.count() === 100 - 3 + 1)
    assert(got.filter(col("id") === 5L).count() === 0)
    assert(got.filter(col("id") === 17L).count() === 1) // the re-added one
  }

  test("equality-delete broadcast is byte-gated: over-cap sets drop the hint, read stays exact") {
    val root = freshRoot()
    import spark.implicits._
    IcebergWriter.create(spark, root, Seq(docs(0, 100)))
    IcebergWriter.addEqualityDeletes(spark, root,
      Seq(5L, 17L, 99L).toDF("id"), Seq("id"))
    def forcedBroadcastJoins(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.hint.leftHint.exists(_.strategy.isDefined) ||
              j.hint.rightHint.exists(_.strategy.isDefined) => j
      }.size
    // under the byte cap (default 64MB): the delete union joins with a
    // forced broadcast hint — eq-deletes are normally kilobytes of keys
    val hinted = IcebergTable.read(spark, root)
    assert(forcedBroadcastJoins(hinted) >= 1,
      "a byte-small equality-delete set must keep the forced broadcast")
    assert(hinted.select("id").as[Long].collect().toSet ===
      (0L until 100L).toSet -- Set(5L, 17L, 99L))
    // over the cap (a multi-GB CDC delete file in the wild; cap 0 here):
    // the hint drops — AQE plans the join from runtime sizes — and the
    // result is bit-identical
    spark.conf.set("graft.iceberg.maxEqDeleteBroadcastBytes", "0")
    try {
      val unhinted = IcebergTable.read(spark, root)
      assert(forcedBroadcastJoins(unhinted) === 0,
        "an over-cap equality-delete set must not force a broadcast")
      assert(unhinted.select("id").as[Long].collect().toSet ===
        (0L until 100L).toSet -- Set(5L, 17L, 99L))
    } finally spark.conf.unset("graft.iceberg.maxEqDeleteBroadcastBytes")
    // the spark-prefixed spelling (matching every other graft knob)
    // drives the same gate — r13 verdict: it was silently ignored —
    // and WINS over a conflicting bare-prefix value
    spark.conf.set("spark.graft.iceberg.maxEqDeleteBroadcastBytes", "0")
    spark.conf.set("graft.iceberg.maxEqDeleteBroadcastBytes", (64L << 20).toString)
    try {
      assert(forcedBroadcastJoins(IcebergTable.read(spark, root)) === 0,
        "spark.graft.iceberg.* must drive the gate and take precedence")
    } finally {
      spark.conf.unset("spark.graft.iceberg.maxEqDeleteBroadcastBytes")
      spark.conf.unset("graft.iceberg.maxEqDeleteBroadcastBytes")
    }
  }

  test("rename-by-field-id: renamed column reads from files written under the old name") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 30)))
    IcebergWriter.renameColumn(spark, root, "score", "points")
    val got = IcebergTable.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "name", "points"))
    assert(got.agg(round(sum("points"), 2)).head().getDouble(0) ===
      (0 until 30).map(_ * 10.0).sum)
  }

  test("format(\"graft-iceberg\") batch read with snapshot time travel") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 60), docs(60, 90)))
    val got = spark.read.format("graft-iceberg").load(root)
    assert(got.count() === 90)
    // delete-free snapshots ride the pruning file index: one file scanned
    val pruned = got.filter(col("id") < 10)
    assert(pruned.count() === 10)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected 1 file, scanned $scanned")
    IcebergWriter.addPositionDeletes(spark, root,
      Seq(IcebergTable.snapshot(spark, root).dataFiles.head.path -> Seq(0L)))
    // snapshotId option pins the pre-delete state; current sees the delete
    assert(spark.read.format("graft-iceberg")
      .option("snapshotId", "1").load(root).count() === 90)
    assert(spark.read.format("graft-iceberg").load(root).count() === 89)
  }

  test("SQL over an Iceberg path through the graft catalog, with time travel") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 25)))
    IcebergWriter.append(spark, root, Seq(docs(25, 40)))
    val n = spark.sql(s"SELECT count(*) AS n FROM graft.`$root`").head().getLong(0)
    assert(n === 40)
    val atFirst = spark.sql(
      s"SELECT count(*) AS n FROM graft.`$root` VERSION AS OF 1").head().getLong(0)
    assert(atFirst === 25)
    val byTs = spark.sql(
      s"SELECT count(*) AS n FROM graft.`$root` TIMESTAMP AS OF " +
        "TIMESTAMP'2023-11-14 22:13:21.5'").head().getLong(0) // between snap 1 and 2
    assert(byTs === 25)
    // write refusal: foreign tables are read-only through the catalog
    val err = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (999, 'x', 1.0)")
    }
    assert(err.getMessage != null)
  }

  test("mirror publishes a manifest table as Iceberg: same rows, pruning stats") {
    val root = freshRoot()
    import graft.sources.ManifestTable
    ManifestTable.append(spark, root, docs(0, 100).coalesce(1))
    ManifestTable.append(spark, root, docs(100, 200).coalesce(1))
    ManifestTable.append(spark, root, docs(200, 300).coalesce(1))
    IcebergWriter.mirror(spark, root)
    val got = IcebergTable.read(spark, root)
    assert(got.count() === 300)
    assert(got.agg(sum("id")).head().getLong(0) === (0L until 300L).sum)
    // translated bounds prune: only the file covering ids 250+ opens
    val pruned = IcebergTable.read(spark, root).filter(col("id") >= 250)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected 1 file from mirrored bounds, scanned $scanned")
  }

  test("re-mirror after DELETE appends a snapshot; old snapshot still serves") {
    val root = freshRoot()
    import graft.sources.ManifestTable
    ManifestTable.append(spark, root, docs(0, 120))
    val s1 = IcebergWriter.mirror(spark, root)
    ManifestTable.delete(spark, root, col("id") < 20)
    // new-session resume: forget the in-JVM state so the second mirror
    // reloads version/sequence/snapshot history from the metadata JSON
    IcebergWriter.forgetState(root)
    val s2 = IcebergWriter.mirror(spark, root)
    assert(s2 === s1 + 1)
    assert(IcebergTable.read(spark, root).count() === 100)
    assert(IcebergTable.read(spark, root, snapshotId = Some(s1)).count() === 120)
    // SQL face over the mirrored table
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root` VERSION AS OF $s1")
      .head().getLong(0) === 120)
  }

  test("mirror of a partitioned table carries typed identity partition values") {
    val root = freshRoot()
    import spark.implicits._
    import graft.sources.ManifestTable
    val df = (0 until 90).map(i => (i.toLong, Seq("a", "b", "c")(i % 3)))
      .toDF("id", "tag")
    ManifestTable.append(spark, root, df, partitionBy = Seq("tag"))
    IcebergWriter.mirror(spark, root)
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.partitionFields.map(_.transform) === Seq("identity"))
    val got = IcebergTable.read(spark, root).filter(col("tag") === "b")
    assert(got.count() === 30)
    val scanned = got.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned < snap.dataFiles.size,
      s"partition values must prune: scanned $scanned of ${snap.dataFiles.size}")
  }

  test("mirror of a table with no stats-eligible column takes record counts from footers") {
    val root = freshRoot()
    import spark.implicits._
    import graft.sources.ManifestTable
    // a double column records no graft stats, so no file has a row count
    ManifestTable.append(spark, root, (0 until 40).map(_ * 0.5).toDF("x").repartition(3))
    IcebergWriter.mirror(spark, root)
    val files = IcebergTable.snapshot(spark, root).dataFiles
    assert(files.map(_.recordCount).sum === 40L)
    val got = IcebergTable.read(spark, root)
    assert(got.count() === 40)
    assert(got.agg(sum("x")).head().getDouble(0) === (0 until 40).map(_ * 0.5).sum)
  }

  test("mirror refuses deletion-vector'd and column-mapped tables loud") {
    val root = freshRoot()
    import graft.sources.ManifestTable
    ManifestTable.append(spark, root, docs(0, 50))
    ManifestTable.setProperty(spark, root, "graft.enableDeletionVectors", "true")
    ManifestTable.delete(spark, root, col("id") < 5)
    val err = intercept[Exception] { IcebergWriter.mirror(spark, root) }
    assert(err.getMessage.contains("deletion vectors"))
  }

  test("graft-iceberg stream source: snapshot, increments, delete fail-loud") {
    import spark.implicits._
    val root = freshRoot()
    def ids(lo: Int, hi: Int): DataFrame =
      (lo until hi).map(i => (i.toLong, s"n$i", 0.0)).toDF("id", "name", "score")
    IcebergWriter.create(spark, root, Seq(ids(0, 10)))
    IcebergWriter.append(spark, root, Seq(ids(10, 25)))
    val ckpt = Files.createTempDirectory("gi_ck").toString
    val outDir = Files.createTempDirectory("gi_out").toString + "/sink"
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-iceberg").load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      try q.awaitTermination(60000) finally q.stop()
    }
    runOnce()
    assert(spark.read.parquet(outDir).select("id").as[Long].collect().toSet ===
      (0L until 25L).toSet, "first batch = full snapshot")
    IcebergWriter.append(spark, root, Seq(ids(25, 31)))
    runOnce()
    assert(spark.read.parquet(outDir).select("id").as[Long].collect().toSet ===
      (0L until 31L).toSet, "restart from checkpoint serves only the new snapshot's files")
    // a delete-file snapshot cannot stream
    IcebergWriter.addEqualityDeletes(spark, root, Seq(3L).toDF("id"), Seq("id"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runOnce() }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("format v1: minimal metadata, no sequence/content fields, reads; streaming refuses") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val root = new java.io.File(freshRoot()).getAbsolutePath
    // data file with embedded field ids, id-sorted
    val df = spark.createDataFrame(docs(0, 40).rdd, IcebergWriter.withIds(docs(0, 1).schema))
    val tmp = s"$root/.stage"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dataPath = new java.io.File(s"$root/data/d1.parquet")
    dataPath.getParentFile.mkdirs()
    assert(part.renameTo(dataPath))
    // v1 manifest entry: NO content / sequence_number fields at all
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |  {"name":"status","type":"int"},
        |  {"name":"snapshot_id","type":["null","long"],"default":null},
        |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |    {"name":"file_path","type":"string"},
        |    {"name":"file_format","type":"string"},
        |    {"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |    {"name":"record_count","type":"long"},
        |    {"name":"file_size_in_bytes","type":"long"}
        |  ]}}
        |]}""".stripMargin)
    def writeAvro(path: String, schema: Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      val f = new java.io.File(path); f.getParentFile.mkdirs()
      w.create(schema, f); rows.foreach(w.append); w.close()
    }
    val dfRec = new GenericData.Record(entrySchema.getField("data_file").schema())
    dfRec.put("file_path", dataPath.getAbsolutePath)
    dfRec.put("file_format", "PARQUET")
    dfRec.put("partition",
      new GenericData.Record(entrySchema.getField("data_file").schema().getField("partition").schema()))
    dfRec.put("record_count", 40L)
    dfRec.put("file_size_in_bytes", dataPath.length())
    val entry = new GenericData.Record(entrySchema)
    entry.put("status", 1); entry.put("snapshot_id", 7L); entry.put("data_file", dfRec)
    writeAvro(s"$root/metadata/m0.avro", entrySchema, Seq(entry))
    // v1 manifest list: no content / sequence_number columns
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |  {"name":"manifest_path","type":"string"},
        |  {"name":"manifest_length","type":"long"},
        |  {"name":"partition_spec_id","type":"int"},
        |  {"name":"added_snapshot_id","type":["null","long"],"default":null}
        |]}""".stripMargin)
    val listRec = new GenericData.Record(listSchema)
    listRec.put("manifest_path", s"$root/metadata/m0.avro")
    listRec.put("manifest_length", new java.io.File(s"$root/metadata/m0.avro").length())
    listRec.put("partition_spec_id", 0)
    listRec.put("added_snapshot_id", 7L)
    writeAvro(s"$root/metadata/snap-7.avro", listSchema, Seq(listRec))
    // v1 metadata: singular "schema", "partition-spec" array, no sequences
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      s"""{
         |  "format-version": 1,
         |  "table-uuid": "aaaaaaaa-bbbb-cccc-dddd-eeeeffff0000",
         |  "location": "$root",
         |  "last-updated-ms": 1700000000000,
         |  "last-column-id": 3,
         |  "schema": {"type":"struct","fields":[
         |    {"id":1,"name":"id","required":false,"type":"long"},
         |    {"id":2,"name":"name","required":false,"type":"string"},
         |    {"id":3,"name":"score","required":false,"type":"double"}]},
         |  "partition-spec": [],
         |  "properties": {},
         |  "current-snapshot-id": 7,
         |  "snapshots": [{"snapshot-id":7,"timestamp-ms":1700000001000,
         |    "summary":{"operation":"append"},
         |    "manifest-list":"$root/metadata/snap-7.avro"}],
         |  "snapshot-log": [{"timestamp-ms":1700000001000,"snapshot-id":7}]
         |}""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/version-hint.text"), "1")
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.formatVersion === 1 && snap.snapshotId === 7L)
    val got = IcebergTable.read(spark, root)
    assert(got.count() === 40)
    assert(got.agg(sum("id")).head().getLong(0) === (0L until 40L).sum)
    // streaming needs v2 sequence numbers
    val e = intercept[Exception] {
      spark.readStream.format("graft-iceberg").load(root).writeStream
        .format("memory").queryName("v1_no").start()
    }
    assert(e.getMessage.contains("v2") || e.getMessage.contains("v1"))
  }

  test("bucket transform matches the spec's published hash vectors") {
    import graft.sources.IcebergTransforms
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    // iceberg spec Appendix B reference values
    assert(IcebergTransforms.bucketHash(34, IntegerType).get === 2017239379)
    assert(IcebergTransforms.bucketHash(34L, LongType).get === 2017239379)
    assert(IcebergTransforms.bucketHash(UTF8String.fromString("iceberg"), StringType).get
      === 1210000089)
    assert(IcebergTransforms.bucketHash(17486, DateType).get === -653330422) // 2017-11-16
    assert(IcebergTransforms.bucketHash(1510871468000000L, TimestampType).get
      === -2047944441) // 2017-11-16T22:31:08 UTC in micros
    assert(IcebergTransforms.bucket(34, IntegerType, 16).get === 2017239379 % 16)
    assert(IcebergTransforms.bucketWidth("bucket[8]") === Some(8))
    assert(IcebergTransforms.bucketWidth("identity") === None)
    assert(IcebergTransforms.bucketHash(1.5, DoubleType) === None) // spec: not bucketable
    // truncate[W]: floored intervals for ints, code-point prefixes for strings
    assert(IcebergTransforms.truncate(137L, LongType, 50).get === 100L)
    assert(IcebergTransforms.truncate(-3L, LongType, 10).get === -10L) // floors DOWN
    assert(IcebergTransforms.truncate(7, IntegerType, 10).get === 0L)
    assert(IcebergTransforms.truncate(UTF8String.fromString("iceberg"), StringType, 3).get
      === "ice")
    assert(IcebergTransforms.truncate(1.5, DoubleType, 10) === None)
    assert(IcebergTransforms.truncateWidth("truncate[16]") === Some(16))
  }

  test("bucket[N] partition pruning: equality opens only the matching bucket's files") {
    import graft.sources.IcebergTransforms
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = new java.io.File(freshRoot()).getAbsolutePath
    val N = 4
    val rows = (0 until 200).map(i => (i.toLong, s"n$i"))
    val byBucket = rows.groupBy { case (id, _) =>
      IcebergTransforms.bucket(id, LongType, N).get }
    // one data file per bucket ordinal, field ids embedded
    val schemaIds = IcebergWriter.withIds(Seq((0L, "x")).toDF("id", "name").schema)
    val filesByBucket = byBucket.toSeq.sortBy(_._1).map { case (b, rs) =>
      val df = spark.createDataFrame(rs.toDF("id", "name").rdd, schemaIds)
      val tmp = s"$root/.stage-$b"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$root/data/b$b.parquet")
      dest.getParentFile.mkdirs(); assert(part.renameTo(dest))
      b -> dest
    }
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |  {"name":"status","type":"int"},
        |  {"name":"snapshot_id","type":["null","long"],"default":null},
        |  {"name":"sequence_number","type":["null","long"],"default":null},
        |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |    {"name":"content","type":"int"},
        |    {"name":"file_path","type":"string"},
        |    {"name":"file_format","type":"string"},
        |    {"name":"partition","type":{"type":"record","name":"r102","fields":[
        |      {"name":"id_bucket","type":["null","int"],"default":null}]}},
        |    {"name":"record_count","type":"long"},
        |    {"name":"file_size_in_bytes","type":"long"}
        |  ]}}
        |]}""".stripMargin)
    val entries = filesByBucket.map { case (b, f) =>
      val dfRec = new GenericData.Record(entrySchema.getField("data_file").schema())
      dfRec.put("content", 0)
      dfRec.put("file_path", f.getAbsolutePath)
      dfRec.put("file_format", "PARQUET")
      val pRec = new GenericData.Record(
        entrySchema.getField("data_file").schema().getField("partition").schema())
      pRec.put("id_bucket", b)
      dfRec.put("partition", pRec)
      dfRec.put("record_count", byBucket(b).size.toLong)
      dfRec.put("file_size_in_bytes", f.length())
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", dfRec)
      e
    }
    def writeAvro(path: String, schema: Schema, rs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      val f = new java.io.File(path); f.getParentFile.mkdirs()
      w.create(schema, f); rs.foreach(w.append); w.close()
    }
    writeAvro(s"$root/metadata/m0.avro", entrySchema, entries)
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |  {"name":"manifest_path","type":"string"},
        |  {"name":"manifest_length","type":"long"},
        |  {"name":"partition_spec_id","type":"int"},
        |  {"name":"content","type":"int"},
        |  {"name":"sequence_number","type":"long"},
        |  {"name":"min_sequence_number","type":"long"},
        |  {"name":"added_snapshot_id","type":"long"}
        |]}""".stripMargin)
    val lr = new GenericData.Record(listSchema)
    lr.put("manifest_path", s"$root/metadata/m0.avro")
    lr.put("manifest_length", new java.io.File(s"$root/metadata/m0.avro").length())
    lr.put("partition_spec_id", 0); lr.put("content", 0)
    lr.put("sequence_number", 1L); lr.put("min_sequence_number", 1L)
    lr.put("added_snapshot_id", 1L)
    writeAvro(s"$root/metadata/snap-1.avro", listSchema, Seq(lr))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      s"""{
         |  "format-version": 2, "table-uuid": "b0000000-0000-0000-0000-000000000000",
         |  "location": "$root", "last-sequence-number": 1,
         |  "last-updated-ms": 1700000000000, "last-column-id": 2,
         |  "current-schema-id": 0,
         |  "schemas": [{"type":"struct","schema-id":0,"fields":[
         |    {"id":1,"name":"id","required":false,"type":"long"},
         |    {"id":2,"name":"name","required":false,"type":"string"}]}],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id":0,"fields":[
         |    {"name":"id_bucket","transform":"bucket[$N]","source-id":1,"field-id":1000}]}],
         |  "last-partition-id": 1000, "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id":0,"fields":[]}], "properties": {},
         |  "current-snapshot-id": 1,
         |  "snapshots": [{"snapshot-id":1,"sequence-number":1,"timestamp-ms":1700000001000,
         |    "summary":{"operation":"append"},"manifest-list":"$root/metadata/snap-1.avro",
         |    "schema-id":0}],
         |  "snapshot-log": [{"timestamp-ms":1700000001000,"snapshot-id":1}]
         |}""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/version-hint.text"), "1")
    val all = IcebergTable.read(spark, root)
    assert(all.count() === 200)
    // equality on the bucketed source column prunes to ONE file
    val got = IcebergTable.read(spark, root).filter(col("id") === 137L)
    assert(got.count() === 1)
    val scanned = got.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected the one matching bucket file, scanned $scanned")
    // IN prunes to the union of the named values' buckets
    val in = IcebergTable.read(spark, root).filter(col("id").isin(137L, 88L))
    assert(in.count() === 2)
  }

  test("truncate[W] partition pruning: equality opens only the matching interval's file") {
    import graft.sources.IcebergTransforms
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = new java.io.File(freshRoot()).getAbsolutePath
    val W = 50
    val rows = (0 until 200).map(i => (i.toLong, s"n$i"))
    val byTrunc = rows.groupBy { case (id, _) =>
      IcebergTransforms.truncate(id, LongType, W).get.asInstanceOf[Long] }
    val schemaIds = IcebergWriter.withIds(Seq((0L, "x")).toDF("id", "name").schema)
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |  {"name":"status","type":"int"},
        |  {"name":"snapshot_id","type":["null","long"],"default":null},
        |  {"name":"sequence_number","type":["null","long"],"default":null},
        |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |    {"name":"content","type":"int"},
        |    {"name":"file_path","type":"string"},
        |    {"name":"file_format","type":"string"},
        |    {"name":"partition","type":{"type":"record","name":"r102","fields":[
        |      {"name":"id_trunc","type":["null","long"],"default":null}]}},
        |    {"name":"record_count","type":"long"},
        |    {"name":"file_size_in_bytes","type":"long"}
        |  ]}}
        |]}""".stripMargin)
    val entries = byTrunc.toSeq.sortBy(_._1).map { case (t, rs) =>
      val df = spark.createDataFrame(rs.toDF("id", "name").rdd, schemaIds)
      val tmp = s"$root/.stage-$t"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$root/data/t$t.parquet")
      dest.getParentFile.mkdirs(); assert(part.renameTo(dest))
      val dfRec = new GenericData.Record(entrySchema.getField("data_file").schema())
      dfRec.put("content", 0)
      dfRec.put("file_path", dest.getAbsolutePath)
      dfRec.put("file_format", "PARQUET")
      val pRec = new GenericData.Record(
        entrySchema.getField("data_file").schema().getField("partition").schema())
      pRec.put("id_trunc", t)
      dfRec.put("partition", pRec)
      dfRec.put("record_count", rs.size.toLong)
      dfRec.put("file_size_in_bytes", dest.length())
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1); e.put("snapshot_id", 1L); e.put("data_file", dfRec)
      e
    }
    def writeAvro(path: String, schema: Schema, rs: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      val f = new java.io.File(path); f.getParentFile.mkdirs()
      w.create(schema, f); rs.foreach(w.append); w.close()
    }
    writeAvro(s"$root/metadata/m0.avro", entrySchema, entries)
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |  {"name":"manifest_path","type":"string"},
        |  {"name":"manifest_length","type":"long"},
        |  {"name":"partition_spec_id","type":"int"},
        |  {"name":"content","type":"int"},
        |  {"name":"sequence_number","type":"long"},
        |  {"name":"min_sequence_number","type":"long"},
        |  {"name":"added_snapshot_id","type":"long"}
        |]}""".stripMargin)
    val lr = new GenericData.Record(listSchema)
    lr.put("manifest_path", s"$root/metadata/m0.avro")
    lr.put("manifest_length", new java.io.File(s"$root/metadata/m0.avro").length())
    lr.put("partition_spec_id", 0); lr.put("content", 0)
    lr.put("sequence_number", 1L); lr.put("min_sequence_number", 1L)
    lr.put("added_snapshot_id", 1L)
    writeAvro(s"$root/metadata/snap-1.avro", listSchema, Seq(lr))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/v1.metadata.json"),
      s"""{
         |  "format-version": 2, "table-uuid": "c0000000-0000-0000-0000-000000000000",
         |  "location": "$root", "last-sequence-number": 1,
         |  "last-updated-ms": 1700000000000, "last-column-id": 2,
         |  "current-schema-id": 0,
         |  "schemas": [{"type":"struct","schema-id":0,"fields":[
         |    {"id":1,"name":"id","required":false,"type":"long"},
         |    {"id":2,"name":"name","required":false,"type":"string"}]}],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id":0,"fields":[
         |    {"name":"id_trunc","transform":"truncate[$W]","source-id":1,"field-id":1000}]}],
         |  "last-partition-id": 1000, "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id":0,"fields":[]}], "properties": {},
         |  "current-snapshot-id": 1,
         |  "snapshots": [{"snapshot-id":1,"sequence-number":1,"timestamp-ms":1700000001000,
         |    "summary":{"operation":"append"},"manifest-list":"$root/metadata/snap-1.avro",
         |    "schema-id":0}],
         |  "snapshot-log": [{"timestamp-ms":1700000001000,"snapshot-id":1}]
         |}""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/metadata/version-hint.text"), "1")
    assert(IcebergTable.read(spark, root).count() === 200)
    val got = IcebergTable.read(spark, root).filter(col("id") === 137L)
    assert(got.count() === 1)
    val scanned = got.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected the one matching interval's file, scanned $scanned")
  }

  test("isIcebergTable detects the layout; loud errors otherwise") {
    val root = freshRoot()
    assert(!IcebergTable.isIcebergTable(spark, root))
    IcebergWriter.create(spark, root, Seq(docs(0, 5)))
    assert(IcebergTable.isIcebergTable(spark, root))
    val err = intercept[Exception] {
      IcebergTable.read(spark, root, snapshotId = Some(999L))
    }
    assert(err.getMessage.contains("999"))
  }

  test("position deletes with UNKNOWN record_count: byte-bounded sets ride the bitmap; oversized take the join path, no forced broadcast") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 100)))
    val dataPath = IcebergTable.snapshot(spark, root).dataFiles.head.path
    IcebergWriter.addPositionDeletes(spark, root,
      Seq(dataPath -> (0L until 10L)), declareCount = false)
    // unknown ROW count but known BYTE size: the r11 gate keeps the
    // bitmap path (no join anywhere in the plan)
    val viaBitmap = IcebergTable.read(spark, root)
    assert(viaBitmap.count() === 90)
    assert(viaBitmap.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "byte-bounded unknown-count deletes must take the bitmap filter, not a join")
    // force the genuinely-oversized shape (bytes cap 0): the fallback
    // join engages, correct and with NO join-strategy hint — a forced
    // broadcast would fire precisely on the multi-GB sets; AQE may
    // still CHOOSE broadcast at runtime, which is the point
    spark.conf.set("graft.iceberg.maxBitmapDeleteBytes", "0")
    try {
      val got = IcebergTable.read(spark, root)
      assert(got.count() === 90)
      assert(got.agg(min("id")).head().getLong(0) === 10L)
      val hints = got.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.isEmpty, s"unexpected join hints in the fallback path: $hints")
    } finally spark.conf.unset("graft.iceberg.maxBitmapDeleteBytes")
  }

  test("±Infinity double bounds never crash or mis-prune a filtered read") {
    val root = freshRoot()
    import spark.implicits._
    val part = Seq((1L, "a", 5.0), (2L, "b", Double.PositiveInfinity),
      (3L, "c", Double.NegativeInfinity)).toDF("id", "name", "score")
    IcebergWriter.create(spark, root, Seq(part, docs(10, 20)))
    // bounds of part 1 are [-Inf, +Inf]; the pre-fix code threw
    // NumberFormatException from BigDecimal("Infinity") during listFiles
    val got = IcebergTable.read(spark, root).filter(col("score") > 1000.0)
    assert(got.select("id").as[Long].collect().toSet === Set(2L))
    // a finite-range filter may prune the second file but must keep the
    // infinite-bounds file (its range covers everything)
    val lo = IcebergTable.read(spark, root).filter(col("score") < 0.0)
    assert(lo.select("id").as[Long].collect().toSet === Set(3L))
  }

  test("file tags match between URL-encoded _metadata paths and raw manifest paths") {
    import spark.implicits._
    // Spark serves _metadata.file_path PERCENT-ENCODED (a partition dir
    // 'cat=a b' reads back as 'cat=a%20b'); manifests and delete rows
    // carry raw strings — the metadata-side tag must decode, including
    // the '+' trap (legal unencoded in URIs, but URLDecoder would turn
    // it into a space)
    val base = Files.createTempDirectory("uriparity").toString
    val dir = s"$base/t/data/cat=a b+c"
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    val metaTag = spark.read.parquet(dir)
      .select(IcebergTable.metaFileTagCol(col("_metadata.file_path")).as("t"))
      .head().getString(0)
    val rawPath = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    assert(metaTag === IcebergTable.fileTag(rawPath),
      s"encoded/raw tag mismatch: $metaTag vs ${IcebergTable.fileTag(rawPath)}")
    assert(metaTag.startsWith("cat=a b+c/"), metaTag)
  }

  test("fileTag disambiguates identically-named files across partition dirs") {
    assert(IcebergTable.fileTag("file:///w/t/data/x=1/f.parquet") === "x=1/f.parquet")
    assert(IcebergTable.fileTag("/w/t/data/x=2/f.parquet") === "x=2/f.parquet")
    assert(IcebergTable.fileTag("s3://bucket/w/t/data/f.parquet") === "f.parquet")
    // no /data/ segment: full scheme-less path, same on both sides
    assert(IcebergTable.fileTag("file:/w/t/files/f.parquet") === "/w/t/files/f.parquet")
    assert(IcebergTable.fileTag("/w/t/files/f.parquet") === "/w/t/files/f.parquet")
  }

  test("reads never flip the session-wide parquet fieldId conf") {
    val key = "spark.sql.parquet.fieldId.read.enabled"
    val before = spark.conf.get(key)
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 30)))
    IcebergWriter.renameColumn(spark, root, "score", "points")
    // id-resolution works (renamed column reads old files)…
    val got = IcebergTable.read(spark, root)
    assert(got.agg(round(sum("points"), 2)).head().getDouble(0) ===
      (0 until 30).map(_ * 10.0).sum)
    // …and the flag rode the relation options, not the session conf
    assert(spark.conf.get(key) === before,
      "Iceberg read leaked spark.sql.parquet.fieldId.read.enabled into the session")
  }

  test("writer publishes bucket[N] partitioning a foreign reader prunes on") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 200)),
      transforms = Seq("id" -> "bucket[4]"))
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.partitionFields.map(_.transform) === Seq("bucket[4]"))
    assert(snap.dataFiles.size === 4, "one file per bucket ordinal")
    // every file's declared ordinal matches the spec's Murmur3 hash
    snap.dataFiles.foreach { f =>
      assert(f.partition.keySet === Set("id_bucket"))
    }
    val all = IcebergTable.read(spark, root)
    assert(all.count() === 200)
    // equality filter prunes to the ONE matching bucket's file
    val got = all.filter(col("id") === 137L)
    assert(got.count() === 1)
    val scanned = got.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected 1 file after bucket pruning, scanned $scanned")
  }

  test("writer publishes truncate[W] partitioning; interval filter prunes") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 200)),
      transforms = Seq("id" -> "truncate[50]"))
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.partitionFields.map(_.transform) === Seq("truncate[50]"))
    assert(snap.dataFiles.size === 4, "one file per 50-wide interval")
    assert(IcebergTable.read(spark, root).count() === 200)
    val got = IcebergTable.read(spark, root).filter(col("id") === 137L)
    assert(got.count() === 1)
    val scanned = got.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected 1 file after truncate pruning, scanned $scanned")
  }

  test("manifest list carries true added_files/rows counts per manifest") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 60), docs(60, 100)))
    IcebergWriter.append(spark, root, Seq(docs(100, 110)))
    // newest snapshot's manifest list: 2 manifests (one per commit)
    val metaDir = new java.io.File(s"${new java.io.File(root).getAbsolutePath}/metadata")
    val list = metaDir.listFiles().filter(_.getName.startsWith("snap-2"))
      .maxBy(_.getName)
    val rdr = new DataFileReader[GenericRecord](list,
      new GenericDatumReader[GenericRecord]())
    val rows = try {
      val b = Seq.newBuilder[GenericRecord]
      while (rdr.hasNext) b += rdr.next()
      b.result()
    } finally rdr.close()
    assert(rows.size === 2)
    val byAdded = rows.map(r => (r.get("added_snapshot_id").asInstanceOf[Long],
      r.get("added_files_count").asInstanceOf[Int],
      r.get("added_rows_count").asInstanceOf[Long])).sortBy(_._1)
    assert(byAdded === Seq((1L, 2, 100L), (2L, 1, 10L)))
  }

  test("DESCRIBE HISTORY and the snapshots metadata table over an Iceberg root") {
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 60), docs(60, 100)))
    IcebergWriter.append(spark, root, Seq(docs(100, 110)))
    // SQL face: snapshot-log as history rows, newest first
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$root`").collect()
    assert(hist.map(_.getLong(0)).toSeq === Seq(2L, 1L))
    assert(hist.map(_.getString(2)).toSeq === Seq("append", "append"))
    assert(hist.forall(_.getBoolean(3)))
    assert(hist.map(_.getLong(4)).toSeq === Seq(1L, 2L), "true per-snapshot file counts")
    // snapshots metadata relation: Iceberg's tbl.snapshots idiom
    val snaps = spark.read.format("graft-iceberg")
      .option("metadata", "snapshots").load(root)
    assert(snaps.columns.toSeq === Seq("committed_at", "snapshot_id", "parent_id",
      "operation", "manifest_list", "summary"))
    val rows = snaps.orderBy("snapshot_id").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L))
    assert(rows.forall(_.getString(4).nonEmpty))
    // files metadata relation: one row per live data file
    val files = spark.read.format("graft-iceberg")
      .option("metadata", "files").load(root)
    assert(files.count() === 3)
    assert(files.agg(sum("record_count")).head().getLong(0) === 110L)
    assert(files.select("file_format").distinct().head().getString(0) === "PARQUET")
  }

  test("uuid-typed columns never prune (bounds are raw UUID bytes, not text)") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("uuidprune").toFile
    val dummy = new java.io.File(dir, "data/f.parquet")
    dummy.getParentFile.mkdirs()
    java.nio.file.Files.writeString(dummy.toPath, "x")
    val schema = StructType(Seq(
      StructField("u", StringType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(IcebergTable.FieldIdKey, 1L)
          .putBoolean(IcebergTable.UuidKey, true).build())))
    // bounds = 16 raw bytes that decode to garbage "text"
    val rawUuid = Array.tabulate[Byte](16)(i => (0xF0 + i).toByte)
    val entry = IcebergTable.DataFileEntry(dummy.getAbsolutePath, "PARQUET", 10L, 1L, 1L,
      Map.empty, Map(1 -> rawUuid), Map(1 -> rawUuid), Map(1 -> 0L), Map(1 -> 10L))
    val snap = IcebergTable.IcebergSnapshot(1L, 0L, 2, schema, Nil, Seq(entry), Nil)
    val idx = new graft.sources.IcebergFileIndex(spark, dir.getAbsolutePath, snap)
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    val filter = EqualTo(AttributeReference("u", StringType)(),
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
        "00000000-0000-0000-0000-000000000000"), StringType))
    val listed = idx.listFiles(Nil, Seq(filter))
    assert(listed.map(_.files.length).sum === 1,
      "uuid bounds must never prune — they are not comparable text")
  }

  test("FileTagExpr: codegen memo agrees with the driver evaluator across alternating inputs") {
    import spark.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    // alternating paths in one column vector — the last-value memo must
    // never serve a stale tag when the input flips row to row
    val paths = (0 until 64).flatMap { i =>
      Seq(s"/w/t/data/p=$i/f$i.parquet",
        s"s3://bucket/w/t/data/p=$i/g$i.parquet",
        s"/w/t/files/naked$i.parquet")
    }
    val df = paths.toDF("p")
    val raw = df.select(col("p"), GraftSqlBridge.column(graft.plans.FileTagExpr(
      GraftSqlBridge.expression(col("p")), urlDecode = false)).as("tag"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    raw.foreach { case (p, tag) =>
      assert(tag === IcebergTable.fileTag(p), s"codegen tag diverged for $p")
    }
    // the url-decoding face matches decode-then-tag, '+' preserved
    val enc = Seq("/w/t/data/cat=a%20b/f+1.parquet", "/w/t/data/cat=x/f.parquet")
    val dec = enc.toDF("p").select(GraftSqlBridge.column(graft.plans.FileTagExpr(
      GraftSqlBridge.expression(col("p")), urlDecode = true)).as("tag"))
      .collect().map(_.getString(0)).toSeq
    assert(dec === Seq("cat=a b/f+1.parquet", "cat=x/f.parquet"))
    // nulls stay null
    val n = Seq[Option[String]](None).toDF("p")
      .select(GraftSqlBridge.column(graft.plans.FileTagExpr(
        GraftSqlBridge.expression(col("p")), urlDecode = false)).as("tag")).head()
    assert(n.isNullAt(0))
  }

  test("lazy snapshot: manifests prune on executors; delete-carrying snapshots fall back eager") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.types.LongType
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 100)))    // manifest 1: ids 0..99
    IcebergWriter.append(spark, root, Seq(docs(100, 200)))  // manifest 2: ids 100..199
    val ls = IcebergTable.lazySnapshot(spark, root)
    assert(ls.dataManifests.size === 2 && ls.deleteFiles.isEmpty)
    // unfiltered listing: every entry, stats maps elided
    val all = IcebergTable.pruneDataManifests(spark, ls, Nil, withStats = false)
    assert(all.size === 2 && all.forall(e => e.lower.isEmpty && e.sizeBytes > 0))
    // the DISTRIBUTED prune: a range predicate drops manifest 1's file
    val idAttr = AttributeReference("id", LongType)()
    val hit = IcebergTable.pruneDataManifests(spark, ls,
      Seq(GreaterThanOrEqual(idAttr, Literal(150L))), withStats = true)
    assert(hit.size === 1 && hit.head.lower.nonEmpty,
      s"expected executors to keep only the overlapping manifest's file, got ${hit.map(_.path)}")
    // end to end through the lazy relation: rows agree, one file scanned
    val df = spark.read.format("graft-iceberg").load(root)
    assert(df.count() === 200)
    val pruned = df.filter(col("id") === 42L)
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(42L))
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }
    assert(scanned.contains(1L), s"expected 1 scanned file, got $scanned")
    // a delete commit forces the composed (eager) read — and it is right
    import spark.implicits._
    IcebergWriter.addEqualityDeletes(spark, root, Seq(42L, 150L).toDF("id"), Seq("id"))
    assert(IcebergTable.lazySnapshot(spark, root).deleteFiles.nonEmpty)
    val df2 = spark.read.format("graft-iceberg").load(root)
    assert(df2.count() === 198)
    assert(df2.filter(col("id") === 42L).count() === 0)
  }

  test("catalog commit seam: a lost version race fails loud, state resumes from the winner") {
    import graft.sources.{CasIcebergCatalog, IcebergWriter}
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 10)))   // v1
    IcebergWriter.append(spark, root, Seq(docs(10, 20)))  // v2
    // interloper: another writer claims v3 (same content re-published —
    // valid metadata, newer version) and bumps the hint, exactly what a
    // concurrent committer through any catalog leaves behind
    val metaDir = java.nio.file.Paths.get(root, "metadata")
    java.nio.file.Files.copy(metaDir.resolve("v2.metadata.json"),
      metaDir.resolve("v3.metadata.json"))
    java.nio.file.Files.writeString(metaDir.resolve("version-hint.text"), "3")
    // our stale in-JVM lineage targets v3 too → must LOSE, loudly
    val e = intercept[java.util.ConcurrentModificationException] {
      IcebergWriter.append(spark, root, Seq(docs(20, 30)))
    }
    assert(e.getMessage.contains("commit race"))
    // the loud loss dropped the stale state: the next verb reloads from
    // the winner's metadata and commits v4 on top of it
    IcebergWriter.append(spark, root, Seq(docs(20, 30)))
    assert(java.nio.file.Files.exists(metaDir.resolve("v4.metadata.json")))
    assert(IcebergTable.read(spark, root).count() === 30)

    // pluggable: a REST-shaped CAS catalog arbitrates versions in
    // process; a stale-lineage commit loses the same way
    val root2 = freshRoot()
    val cas = new CasIcebergCatalog
    IcebergWriter.useCatalog(root2, cas)
    IcebergWriter.create(spark, root2, Seq(docs(0, 5)))   // v1 through CAS
    assert(cas.commit(new java.io.File(root2).getAbsolutePath, 2,
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(root2, "metadata", "v1.metadata.json"))),
      "interloper CAS commit of v2 must win")
    val e2 = intercept[java.util.ConcurrentModificationException] {
      IcebergWriter.append(spark, root2, Seq(docs(5, 10)))
    }
    assert(e2.getMessage.contains("commit race"))
    IcebergWriter.append(spark, root2, Seq(docs(5, 10)))  // resumes at v3
    assert(IcebergTable.read(spark, root2).count() === 10)
  }

  test("codegen transform expressions match the spec vectors and the driver-side evaluator") {
    import graft.plans.IcebergTransformExprs
    import spark.implicits._
    val df = Seq((34, 34L, "iceberg", -1L, "écrit")).toDF("i", "l", "s", "neg", "uni")
    val got = df.select(
      IcebergTransformExprs.bucket(col("i"), 16).as("bi"),
      IcebergTransformExprs.bucket(col("l"), 16).as("bl"),
      IcebergTransformExprs.bucket(col("s"), 16).as("bs"),
      IcebergTransformExprs.truncate(col("neg"), 10).as("tn"),
      IcebergTransformExprs.truncate(col("l"), 10).as("tl"),
      IcebergTransformExprs.truncate(col("uni"), 3).as("ts")).head()
    // spec Appendix B vectors: murmur3(long 34) = 2017239379,
    // murmur3("iceberg") = 1210000089; int buckets like its long
    assert(got.getInt(0) === (2017239379 & Int.MaxValue) % 16)
    assert(got.getInt(1) === got.getInt(0), "int must promote to long before hashing")
    assert(got.getInt(2) === (1210000089 & Int.MaxValue) % 16)
    assert(got.getLong(3) === -10L, "negatives truncate DOWN (floored mod)")
    assert(got.getLong(4) === 30L)
    assert(got.getString(5) === "écr", "truncate counts code points, not bytes")
    // nulls stay null
    val n = df.select(IcebergTransformExprs.bucket(lit(null).cast("long"), 8).as("b")).head()
    assert(n.isNullAt(0))
  }

  test("streaming across compaction: replace snapshots are invisible; skipChangeCommits skips deletes") {
    import spark.implicits._
    val root = freshRoot()
    def ids(lo: Int, hi: Int): DataFrame =
      (lo until hi).map(i => (i.toLong, s"n$i", 0.0)).toDF("id", "name", "score")
    IcebergWriter.create(spark, root, Seq(ids(0, 10)))
    IcebergWriter.append(spark, root, Seq(ids(10, 25)))
    val ckpt = Files.createTempDirectory("gi_ck2").toString
    val outDir = Files.createTempDirectory("gi_out2").toString + "/sink"
    def runOnce(skip: Boolean = false): Unit = {
      val reader = spark.readStream.format("graft-iceberg")
      val withOpt = if (skip) reader.option("skipChangeCommits", "true") else reader
      val q = withOpt.load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      try q.awaitTermination(60000) finally q.stop()
    }
    def sunk(): Seq[Long] =
      spark.read.parquet(outDir).select("id").as[Long].collect().toSeq
    runOnce()
    assert(sunk().toSet === (0L until 25L).toSet)

    // compaction between triggers: a replace snapshot rewrites every
    // file; the stream must see NOTHING from it — no failure, no dupes
    IcebergWriter.rewriteCompact(spark, root)
    IcebergWriter.append(spark, root, Seq(ids(25, 31)))
    runOnce()
    assert(sunk().sorted === (0L until 31L).toSeq,
      "compaction must be invisible: no duplicates, no loss, no failure")

    // a genuine delete commit still fails loud by default...
    IcebergWriter.addEqualityDeletes(spark, root, Seq(3L).toDF("id"), Seq("id"))
    IcebergWriter.append(spark, root, Seq(ids(31, 34)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runOnce() }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")))
    // ...and skipChangeCommits opts into skipping it: the delete commit
    // vanishes, appends around it keep flowing
    runOnce(skip = true)
    assert(sunk().sorted === (0L until 34L).toSeq,
      "skipChangeCommits must drop the delete commit and keep appends")
  }

  test("changelog: per-snapshot inserts and deletes, compaction contributes nothing") {
    import spark.implicits._
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 10)))     // seq 1
    IcebergWriter.append(spark, root, Seq(docs(10, 20)))    // seq 2
    IcebergWriter.addEqualityDeletes(spark, root,
      Seq(3L, 15L).toDF("id"), Seq("id"))                   // seq 3
    IcebergWriter.rewriteCompact(spark, root)               // seq 4 (replace)
    IcebergWriter.append(spark, root, Seq(docs(20, 25)))    // seq 5

    val log = IcebergTable.changelog(spark, root)
      .select("id", "_change_type", "_commit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val inserts = log.filter(_._2 == "insert")
    val deletes = log.filter(_._2 == "delete")
    assert(inserts.filter(_._3 == 1L).map(_._1).toSet === (0L until 10L).toSet)
    assert(inserts.filter(_._3 == 2L).map(_._1).toSet === (10L until 20L).toSet)
    assert(inserts.filter(_._3 == 5L).map(_._1).toSet === (20L until 25L).toSet)
    assert(deletes === Seq((3L, "delete", 3L), (15L, "delete", 3L)).sortBy(_._1) ||
      deletes.sortBy(_._1) === Seq((3L, "delete", 3L), (15L, "delete", 3L)),
      s"equality-delete commit must emit exactly its killed rows, got $deletes")
    assert(!log.exists(_._3 == 4L), "replace snapshot must contribute nothing")

    // windowed read: only changes after seq 2
    val tail = IcebergTable.changelog(spark, root, fromSeq = Some(2L))
      .select("id", "_change_type", "_commit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(tail.count(_._2 == "insert") === 5 && tail.count(_._2 == "delete") === 2)

    // position deletes: victims named by file, removed rows emitted
    val pRoot = freshRoot()
    IcebergWriter.create(spark, pRoot, Seq(docs(0, 100)))
    val dataPath = IcebergTable.snapshot(spark, pRoot).dataFiles.head.path
    IcebergWriter.addPositionDeletes(spark, pRoot, Seq(dataPath -> (0L until 10L)))
    val pLog = IcebergTable.changelog(spark, pRoot, fromSeq = Some(1L))
      .select("id", "_change_type", "_commit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(pLog.forall(x => x._2 == "delete" && x._3 == 2L))
    assert(pLog.map(_._1).toSet === (0L until 10L).toSet)

    // a removed-data-file commit (re-mirror after DELETE) emits the
    // dropped rows as deletes — exercised through the mirror below
  }

  test("streaming changelog: delete commits flow as delete rows instead of bricking the stream") {
    import spark.implicits._
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 10)))       // seq 1
    val ckpt = Files.createTempDirectory("gi_cdc").toString
    val outDir = Files.createTempDirectory("gi_cdc_out").toString + "/sink"
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-iceberg")
        .option("readChangeFeed", "true").load(root)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
      try q.awaitTermination(60000) finally q.stop()
    }
    runOnce()
    def sunk(): Seq[(Long, String, Long)] =
      spark.read.parquet(outDir).select("id", "_change_type", "_commit_seq")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(sunk().count(_._2 == "insert") === 10, "first batch = history as inserts")

    // a DELETE commit between triggers arrives as delete rows
    IcebergWriter.addEqualityDeletes(spark, root, Seq(3L, 7L).toDF("id"), Seq("id"))  // seq 2
    IcebergWriter.append(spark, root, Seq(docs(10, 12)))      // seq 3
    runOnce()
    val later = sunk().filter(_._3 >= 2L)
    assert(later.filter(_._2 == "delete").map(_._1).toSet === Set(3L, 7L),
      s"the delete commit must emit its killed rows: $later")
    assert(later.filter(_._2 == "insert").map(_._1).toSet === Set(10L, 11L))
    // compaction between triggers emits nothing
    IcebergWriter.rewriteCompact(spark, root)                 // seq 4 (replace)
    runOnce()
    assert(sunk().count(_._3 == 4L) === 0, "replace snapshots contribute nothing")

    // the BATCH face honors the same option (table_changes analog):
    // full history by default, windowed via startingSequence
    val batchCdf = spark.read.format("graft-iceberg")
      .option("readChangeFeed", "true").load(root)
      .select("id", "_change_type", "_commit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(batchCdf.toSet === sunk().toSet,
      "batch readChangeFeed must equal the streamed changelog")
    val windowed = spark.read.format("graft-iceberg")
      .option("readChangeFeed", "true").option("startingSequence", "1").load(root)
    assert(windowed.count() === sunk().count(_._3 >= 2L))
  }

  test("changelog: removed data files (re-mirror after DELETE) emit their live rows as deletes") {
    import graft.sources.ManifestTable
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(0, 50).toDF("id"))
    IcebergWriter.mirror(spark, root)                        // seq 1, append
    assert(ManifestTable.delete(spark, root, col("id") < 10).isDefined)
    IcebergWriter.mirror(spark, root)                        // seq 2, overwrite
    val log = IcebergTable.changelog(spark, root, fromSeq = Some(1L))
      .select("id", "_change_type", "_commit_seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val dels = log.filter(_._2 == "delete").map(_._1).toSet
    val ins = log.filter(_._2 == "insert").map(_._1).toSet
    // the rewrite drops a file holding 0..49's head; net change per row:
    // removed rows 0..9 die; surviving rows re-inserted by the new file
    assert(dels -- ins === (0L until 10L).toSet,
      s"net deletes must be exactly the DELETEd rows: dels=$dels ins=$ins")
  }

  test("delete-carrying snapshots read LAZILY and agree with the materialized composed read") {
    import spark.implicits._
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 50)))                // seq 1
    IcebergWriter.addEqualityDeletes(spark, root,
      Seq(5L, 7L).toDF("id"), Seq("id"))                               // seq 2
    IcebergWriter.append(spark, root, Seq(docs(100, 150)))             // seq 3
    IcebergWriter.addEqualityDeletes(spark, root,
      Seq(120L, 3L).toDF("id"), Seq("id"))                             // seq 4
    IcebergWriter.append(spark, root, Seq(docs(200, 210)))             // seq 5
    // plus position deletes on the oldest file (ids written in order)
    val firstFile = IcebergTable.snapshot(spark, root).dataFiles.minBy(_.seq).path
    IcebergWriter.addPositionDeletes(spark, root, Seq(firstFile -> (0L until 3L)))
    val lazyRead = IcebergTable.read(spark, root) // r12: lazy even with deletes
    assert(lazyRead.columns.toSeq === Seq("id", "name", "score"))
    val expected = ((0L until 50L).toSet -- Set(0L, 1L, 2L, 3L, 5L, 7L)) ++
      ((100L until 150L).toSet - 120L) ++ (200L until 210L).toSet
    assert(lazyRead.select("id").as[Long].collect().toSet === expected)
    // the eager composed read (explicit materialization) must agree exactly
    val eager = IcebergTable.readSnapshot(spark, root,
      IcebergTable.materialize(spark, IcebergTable.lazySnapshot(spark, root)))
    assert(eager.select("id").as[Long].collect().toSet === expected)
    // the __seq interval branches PRUNE: across all scan branches each
    // data file is listed exactly once (3 files, 3 intervals), not
    // files × branches
    // sparkPlan, not executedPlan: AQE wraps this join/union shape and
    // hides the scan leaves behind AdaptiveSparkPlanExec
    val listed = lazyRead.queryExecution.sparkPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.isInstanceOf[graft.sources.IcebergFileIndex] =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(listed === 3, s"expected each of the 3 data files listed once, got $listed")
  }

  test("name mapping: a renamed column reads old ID-FREE files via schema.name-mapping.default") {
    import graft.sources.ManifestTable
    import spark.implicits._
    val root = freshRoot()
    // a mirror's files carry NO embedded field ids; the metadata's
    // name-mapping is the only way to resolve them once a column renames
    ManifestTable.append(spark, root,
      (0L until 40L).map(i => (i, i * 2.0)).toDF("id", "v"))
    IcebergWriter.mirror(spark, root)
    IcebergWriter.renameColumn(spark, root, "v", "points")
    val got = IcebergTable.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "points"))
    val rows = got.as[(Long, Double)].collect().toMap
    assert(rows.size === 40)
    assert(rows(7L) === 14.0, "old files must serve the renamed column's VALUES, not nulls")
    assert(got.filter(col("points").isNull).count() === 0)
    // the mapped read still filters correctly on the renamed column
    assert(got.filter(col("points") > 50.0).count() === (0L until 40L).count(_ * 2.0 > 50.0))
  }

  test("name mapping composes with v2 deletes on the lazy path") {
    import graft.sources.ManifestTable
    import spark.implicits._
    val root = freshRoot()
    ManifestTable.append(spark, root,
      (0L until 30L).map(i => (i, i * 1.0)).toDF("id", "v"))
    IcebergWriter.mirror(spark, root)
    IcebergWriter.renameColumn(spark, root, "v", "points")
    IcebergWriter.addEqualityDeletes(spark, root, Seq(3L, 9L).toDF("id"), Seq("id"))
    val got = IcebergTable.read(spark, root)
    assert(got.select("id").as[Long].collect().toSet === (0L until 30L).toSet -- Set(3L, 9L))
    assert(got.filter(col("points").isNull).count() === 0)
  }

  test("equality deletes written under a PRE-RENAME name resolve through the name mapping") {
    import graft.sources.ManifestTable
    import spark.implicits._
    val root = freshRoot()
    ManifestTable.append(spark, root,
      (0L until 30L).map(i => (i, i * 1.0)).toDF("id", "v"))
    IcebergWriter.mirror(spark, root)
    IcebergWriter.renameColumn(spark, root, "v", "points")
    // the delete file is keyed on the RENAMED field and carries the OLD
    // column name "v" (the writer's files predate the rename's effect) —
    // exactly the spec-conformant shape the reader used to refuse loud
    IcebergWriter.addEqualityDeletes(spark, root,
      Seq(3.0, 9.0).toDF("v"), Seq("v"))
    val got = IcebergTable.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "points"))
    assert(got.select("id").as[Long].collect().toSet ===
      (0L until 30L).toSet -- Set(3L, 9L),
      "old-name equality-delete values must kill the renamed column's rows")
    assert(got.filter(col("points").isNull).count() === 0)
  }

  test("mixed id-free and id-carrying files resolve deterministically under a name mapping") {
    import graft.sources.ManifestTable
    import spark.implicits._
    val root = freshRoot()
    // a mirror's files carry NO ids; a later writer append to the same
    // publication carries ids — resolution must not depend on which
    // file the one-footer sample happens to be (manifest order)
    ManifestTable.append(spark, root,
      (0L until 20L).map(i => (i, i * 2.0)).toDF("id", "v"))
    IcebergWriter.mirror(spark, root)
    IcebergWriter.renameColumn(spark, root, "v", "points")
    IcebergWriter.append(spark, root,
      Seq((100L until 110L).map(i => (i, i * 2.0)).toDF("id", "v")))
    val expected = ((0L until 20L) ++ (100L until 110L)).map(i => i -> i * 2.0).toMap
    val got = IcebergTable.read(spark, root)
    assert(got.columns.toSeq === Seq("id", "points"))
    assert(got.as[(Long, Double)].collect().toMap === expected,
      "both file generations must serve values under the renamed column")
    // and with the SAMPLE FORCED to the id-carrying file (reversed file
    // order) the resolution is identical — the table's mapping, not the
    // sampled footer, decides
    val snap = IcebergTable.snapshot(spark, root)
    val reversed = IcebergTable.readSnapshot(spark, root,
      snap.copy(dataFiles = snap.dataFiles.reverse))
    assert(reversed.as[(Long, Double)].collect().toMap === expected,
      "an id-carrying sample must not flip the table to id-based resolution")
  }

  test("expireSnapshots: live reads unaffected, expired travel fails loud, orphans reclaimed") {
    import spark.implicits._
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(docs(0, 50)))                 // snap 1
    IcebergWriter.addEqualityDeletes(spark, root,
      Seq(5L, 7L).toDF("id"), Seq("id"))                                // snap 2
    IcebergWriter.rewriteCompact(spark, root)                           // snap 3 (replace)
    val before = IcebergTable.read(spark, root).select("id").as[Long].collect().toSet
    assert(before === (0L until 50L).toSet -- Set(5L, 7L))
    def parquets() = new java.io.File(s"$root/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val nBefore = parquets()
    val (nSnap, nMan, nFiles) = IcebergWriter.expireSnapshots(spark, root, keepLast = 1)
    assert(nSnap === 2)
    assert(nMan >= 2, s"expired snapshots' manifests must go: $nMan")
    assert(nFiles >= 2, s"the replaced data file and the orphaned eq-delete file must go: $nFiles")
    assert(parquets() === nBefore - nFiles)
    assert(IcebergTable.read(spark, root).select("id").as[Long].collect().toSet === before)
    intercept[Exception](IcebergTable.read(spark, root, snapshotId = Some(1L)).collect())
    // idempotent: nothing left to reclaim
    assert(IcebergWriter.expireSnapshots(spark, root, keepLast = 1) === ((0, 0, 0)))
  }

  test("publication runs end-to-end on a NON-file: scheme root (the object-store shape)") {
    import spark.implicits._
    // GraftTestFs backs `graftfs:` with the local disk; what this pins
    // is that every writer file op (staging rename, avro/metadata
    // writes, catalog claim, expire's deletes) goes through Hadoop
    // FileSystem — `new java.io.File("graftfs:/…")` would silently
    // make a nonsense local path and fail this test at the first read
    val root = "graftfs:" + Files.createTempDirectory("icefs").toString + "/t"
    IcebergWriter.create(spark, root, Seq(docs(0, 50)))
    IcebergWriter.addEqualityDeletes(spark, root, Seq(5L, 7L).toDF("id"), Seq("id"))
    val expected = (0L until 50L).toSet -- Set(5L, 7L)
    assert(IcebergTable.read(spark, root).select("id").as[Long].collect().toSet === expected)
    IcebergWriter.rewriteCompact(spark, root)
    val (nSnap, nMan, nFiles) = IcebergWriter.expireSnapshots(spark, root, keepLast = 1)
    assert(nSnap === 2)
    assert(nMan >= 2, s"expired snapshots' manifests must be reclaimed over the FS: $nMan")
    assert(nFiles >= 2, s"the replaced data file and eq-delete file must be reclaimed: $nFiles")
    assert(IcebergTable.read(spark, root).select("id").as[Long].collect().toSet === expected)
  }

  test("publication under an EXPLICIT file: scheme root — the catalog claims the decoded local path") {
    import spark.implicits._
    // java.io.File("file:/x") fabricates a relative "./file:/x"; the
    // POSIX catalog leg must decode the URI before claiming versions
    val local = Files.createTempDirectory("icefile").toString + "/t"
    val root = "file:" + local
    IcebergWriter.create(spark, root, Seq(docs(0, 40)))
    IcebergWriter.addEqualityDeletes(spark, root, Seq(5L).toDF("id"), Seq("id"))
    val expected = (0L until 40L).toSet - 5L
    assert(IcebergTable.read(spark, root).select("id").as[Long].collect().toSet === expected)
    // the version files landed under the DECODED path, not ./file:…
    assert(new java.io.File(s"$local/metadata/version-hint.text").exists(),
      "catalog must claim versions inside the decoded local metadata dir")
    IcebergWriter.rewriteCompact(spark, root)
    val (nSnap, _, nFiles) = IcebergWriter.expireSnapshots(spark, root, keepLast = 1)
    assert(nSnap === 2 && nFiles >= 2)
    assert(IcebergTable.read(spark, root).select("id").as[Long].collect().toSet === expected)
  }

  test("expireSnapshots resumes from published metadata in a fresh session") {
    import graft.sources.ManifestTable
    import spark.implicits._
    def build(): String = {
      val root = freshRoot()
      IcebergWriter.create(spark, root, Seq(docs(0, 50)))
      IcebergWriter.addEqualityDeletes(spark, root, Seq(5L, 7L).toDF("id"), Seq("id"))
      IcebergWriter.rewriteCompact(spark, root)
      root
    }
    val expected = (0L until 50L).toSet -- Set(5L, 7L)
    // identical tables: expire one with the in-JVM lineage, the other
    // after forgetState (the maintenance-cron shape: a session that
    // only expires, no dummy write first) — counts must match
    val inSession = build()
    val fresh = build()
    val counts = IcebergWriter.expireSnapshots(spark, inSession, keepLast = 1)
    IcebergWriter.forgetState(fresh)
    val resumed = IcebergWriter.expireSnapshots(spark, fresh, keepLast = 1)
    assert(resumed === counts, "a resumed expire must reclaim exactly what the in-session one does")
    assert(IcebergTable.read(spark, fresh).select("id").as[Long].collect().toSet === expected)
    // the resumed lineage keeps publishing: version/snapshot numbering continues
    IcebergWriter.append(spark, fresh, Seq(docs(100, 110)))
    assert(IcebergTable.read(spark, fresh).count() === 48 + 10)
    // and a resumed expire still knows a MIRROR's data files are not its own
    val mroot = freshRoot()
    ManifestTable.append(spark, mroot, spark.range(0, 30).toDF("id"))
    IcebergWriter.mirror(spark, mroot)
    ManifestTable.append(spark, mroot, spark.range(30, 60).toDF("id"))
    IcebergWriter.mirror(spark, mroot)
    IcebergWriter.forgetState(mroot)
    val (ms, _, mf) = IcebergWriter.expireSnapshots(spark, mroot, keepLast = 1)
    assert(ms === 1)
    assert(mf === 0, "properties must parse back on resume — a mirror's data files are the graft table's")
    assert(ManifestTable.read(spark, mroot).count() === 60)
  }

  test("expireSnapshots on a MIRROR prunes Iceberg metadata only — graft data files survive") {
    import graft.sources.ManifestTable
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(0, 30).toDF("id"))
    IcebergWriter.mirror(spark, root)                                   // snap 1
    ManifestTable.append(spark, root, spark.range(30, 60).toDF("id"))
    IcebergWriter.mirror(spark, root)                                   // snap 2
    def graftParquets() = new java.io.File(s"$root/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val nData = graftParquets()
    val (nSnap, _, nFiles) = IcebergWriter.expireSnapshots(spark, root, keepLast = 1)
    assert(nSnap === 1)
    assert(nFiles === 0, "a mirror's data files belong to the graft table")
    assert(graftParquets() === nData)
    assert(IcebergTable.read(spark, root).count() === 60)
    assert(ManifestTable.read(spark, root).count() === 60)
  }

  test("timestamp identity partition survives a DST fall-back hour under a non-UTC session timezone") {
    import spark.implicits._
    val root = freshRoot()
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      // 2024-11-03 01:30 local occurs TWICE (PDT then PST) — a local
      // string rendering cannot tell them apart; the micros staging can
      val pdt = java.sql.Timestamp.from(java.time.Instant.parse("2024-11-03T08:30:00Z"))
      val pst = java.sql.Timestamp.from(java.time.Instant.parse("2024-11-03T09:30:00Z"))
      IcebergWriter.create(spark, root,
        Seq(Seq((1L, pdt), (2L, pst)).toDF("id", "at")), partitionCol = Some("at"))
      assert(IcebergTable.snapshot(spark, root).dataFiles.size === 2,
        "two distinct instants are two partition tuples, even when their local rendering collides")
      val got = IcebergTable.read(spark, root)
      assert(got.count() === 2)
      assert(got.filter(col("at") === pdt).select("id").as[Long].collect().toSeq === Seq(1L))
      assert(got.filter(col("at") === pst).select("id").as[Long].collect().toSeq === Seq(2L))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("identity TIMESTAMP partition: staged-dir values parse back; reads and pruning agree") {
    import spark.implicits._
    val root = freshRoot()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val parts = Seq(
      Seq((1L, ts("2024-03-05 01:00:00")), (2L, ts("2024-03-05 01:00:00"))).toDF("id", "at"),
      Seq((3L, ts("2024-03-05 02:30:15.123456"))).toDF("id", "at"))
    IcebergWriter.create(spark, root, parts, partitionCol = Some("at"))
    assert(IcebergTable.snapshot(spark, root).dataFiles.size === 2)
    val got = IcebergTable.read(spark, root)
    assert(got.count() === 3)
    assert(got.filter(col("at") === ts("2024-03-05 02:30:15.123456"))
      .select("id").as[Long].collect().toSeq === Seq(3L))
    // the manifest-declared identity value (epoch micros) prunes the scan
    val q = got.filter(col("at") === ts("2024-03-05 01:00:00"))
    assert(q.count() === 2)
    val scanned = q.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum
    assert(scanned === 1, s"expected 1 file after timestamp partition pruning, scanned $scanned")
  }

  // ---- temporal transforms: year/month/day/hour (r15) --------------------

  private def scannedFiles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
    }.sum

  private def tsOf(iso: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  test("temporal transform ordinals pin the spec's epoch-based math (pre-epoch floors down)") {
    import graft.sources.IcebergTransforms.temporal
    import org.apache.spark.sql.types._
    val day = java.time.LocalDate.of(2017, 11, 16).toEpochDay.toInt
    assert(day === 17486) // the spec docs' own example date
    assert(temporal(day, DateType, "day") === Some(17486))
    assert(temporal(day, DateType, "year") === Some(47))
    assert(temporal(day, DateType, "month") === Some(47 * 12 + 10))
    assert(temporal(day, DateType, "hour") === None, "hour(date) is not in the spec")
    val us = java.time.Instant.parse("2017-11-16T22:31:08Z").toEpochMilli * 1000L
    assert(temporal(us, TimestampType, "day") === Some(17486))
    assert(temporal(us, TimestampType, "hour") === Some(17486 * 24 + 22))
    assert(temporal(us, TimestampNTZType, "month") === Some(574))
    // pre-epoch values floor DOWN (floorDiv, spec rule), never toward zero
    val pre = java.time.Instant.parse("1969-12-31T23:00:00Z").toEpochMilli * 1000L
    assert(temporal(pre, TimestampType, "day") === Some(-1))
    assert(temporal(pre, TimestampType, "hour") === Some(-1))
    assert(temporal(pre, TimestampType, "year") === Some(-1))
    assert(temporal(pre, TimestampType, "month") === Some(-1))
    assert(temporal(-1, DateType, "year") === Some(-1))
    assert(temporal(0.5d, DoubleType, "day") === None, "non-temporal types never prune")
    assert(temporal("2017-11-16", StringType, "day") === None)
  }

  test("writer publishes days(ts); range and equality prune on the partition VALUE alone " +
    "(timestamp columns carry no manifest bounds)") {
    import spark.implicits._
    val root = freshRoot()
    val rows = Seq(
      (1L, tsOf("2024-03-04T05:00:00Z")), (2L, tsOf("2024-03-04T23:59:59Z")),
      (3L, tsOf("2024-03-05T00:00:00Z")), (4L, tsOf("2024-03-06T10:30:00Z")))
    IcebergWriter.create(spark, root, Seq(rows.toDF("id", "ts")),
      transforms = Seq("ts" -> "day"))
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.partitionFields.map(_.transform) === Seq("day"))
    assert(snap.dataFiles.size === 3, "one file per day ordinal")
    val d0 = java.time.LocalDate.of(2024, 3, 4).toEpochDay.toInt
    assert(snap.dataFiles.flatMap(_.partition.get("ts_day")).map(_.asInstanceOf[Number].intValue)
      .sorted === Seq(d0, d0 + 1, d0 + 2))
    // the verdict's requested case: the writer stats NO timestamp bounds
    // (see IcebergWriter's stat column set), so column bounds CANNOT
    // rescue pruning here — only the declared partition value can
    snap.dataFiles.foreach { f =>
      assert(!f.lower.contains(2) && !f.upper.contains(2),
        "ts (field id 2) must carry no bounds for this test to prove anything")
    }
    val all = IcebergTable.read(spark, root)
    assert(all.count() === 4)
    // the ubiquitous day slice: ts >= D AND ts < D+1day — the OPEN upper
    // bound lands exactly on the next partition's start and must NOT
    // leak into it (the pruner tightens open bounds by 1 micro)
    val slice = all.filter(col("ts") >= lit(tsOf("2024-03-05T00:00:00Z")) &&
      col("ts") < lit(tsOf("2024-03-06T00:00:00Z")))
    assert(slice.count() === 1)
    assert(scannedFiles(slice) === 1,
      "day-slice must open exactly the one matching day partition")
    val eq = all.filter(col("ts") === lit(tsOf("2024-03-06T10:30:00Z")))
    assert(eq.count() === 1)
    assert(scannedFiles(eq) === 1, "equality must prune to one day partition")
  }

  test("writer publishes months(d) over DATE; month slice prunes; ordinals round-trip") {
    import spark.implicits._
    val root = freshRoot()
    val d = (s: String) => java.sql.Date.valueOf(s)
    val rows = Seq((1L, d("2023-12-30")), (2L, d("2024-01-05")), (3L, d("2024-01-25")),
      (4L, d("2024-02-01")))
    IcebergWriter.create(spark, root, Seq(rows.toDF("id", "d")),
      transforms = Seq("d" -> "month"))
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.partitionFields.map(_.transform) === Seq("month"))
    assert(snap.dataFiles.size === 3, "one file per month ordinal")
    assert(snap.dataFiles.flatMap(_.partition.get("d_month")).map(_.asInstanceOf[Number].intValue)
      .sorted === Seq(53 * 12 + 11, 54 * 12, 54 * 12 + 1)) // 2023-12, 2024-01, 2024-02
    val all = IcebergTable.read(spark, root)
    val jan = all.filter(col("d") >= lit(d("2024-01-01")) && col("d") < lit(d("2024-02-01")))
    assert(jan.count() === 2)
    assert(scannedFiles(jan) === 1,
      "a month slice with an open upper bound at the next month's start must scan one file")
  }

  test("writer publishes hours(ts); hour equality prunes to one file") {
    import spark.implicits._
    val root = freshRoot()
    val rows = Seq((1L, tsOf("2024-03-04T05:10:00Z")), (2L, tsOf("2024-03-04T05:50:00Z")),
      (3L, tsOf("2024-03-04T06:10:00Z")), (4L, tsOf("2024-03-04T07:10:00Z")))
    IcebergWriter.create(spark, root, Seq(rows.toDF("id", "ts")),
      transforms = Seq("ts" -> "hour"))
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.dataFiles.size === 3, "one file per hour ordinal")
    val got = IcebergTable.read(spark, root)
      .filter(col("ts") === lit(tsOf("2024-03-04T06:10:00Z")))
    assert(got.count() === 1)
    assert(scannedFiles(got) === 1)
  }

  test("hour(date) is refused loud at write time (no spec rule)") {
    import spark.implicits._
    val root = freshRoot()
    val rows = Seq((1L, java.sql.Date.valueOf("2024-03-04")))
    val e = intercept[Exception] {
      IcebergWriter.create(spark, root, Seq(rows.toDF("id", "d")),
        transforms = Seq("d" -> "hour"))
    }
    assert(e.getMessage != null && e.getMessage.toLowerCase.contains("hour"),
      s"refusal must name the transform: ${e.getMessage}")
  }

  test("footer commit stats: Inf, NaN and zero bounds and eq-delete record counts") {
    import spark.implicits._
    import org.apache.spark.sql.types.DoubleType
    def dec(b: Array[Byte], dt: org.apache.spark.sql.types.DataType): Double =
      IcebergTable.decodeBound(b, dt).get.toString.toDouble
    // corners: nulls mixed into every stat column, an ALL-null column,
    // ±Infinity doubles, empty strings, dates, ±0.0 and NaN — plus an empty part
    val corner = Seq(
      (0L, Some("alpha"), Some(1.5), Some(java.sql.Date.valueOf("2020-01-01")), -0.0d, 1.0f, Double.NaN),
      (1L, Some(""), Some(Double.NegativeInfinity), None, 0.0d, Float.NaN, 2.5d),
      (2L, None, Some(Double.PositiveInfinity), Some(java.sql.Date.valueOf("2031-12-31")), 3.5d,
        2.0f, 7.0d),
      (3L, Some("zz"), None, Some(java.sql.Date.valueOf("1969-07-20")), 4.0d, 3.0f, 1.0d)
    ).toDF("id", "name", "score", "d", "z", "fn", "dn")
      .withColumn("fn", when(col("id") === 3L, lit(null)).otherwise(col("fn")))
      .withColumn("allnull", lit(null).cast("string"))
    val root = freshRoot()
    IcebergWriter.create(spark, root, Seq(corner, corner.limit(0)))
    IcebergWriter.addEqualityDeletes(spark, root, Seq(3L).toDF("id"), Seq("id"))
    val snap = IcebergTable.snapshot(spark, root)
    assert(snap.dataFiles.map(_.recordCount).sorted === Seq(0L, 4L))
    // field ids: id=1, name=2, score=3, d=4, z=5, fn=6, dn=7, allnull=8
    val live = snap.dataFiles.find(_.recordCount == 4L).get
    assert(dec(live.lower(3), DoubleType) === Double.NegativeInfinity)
    assert(dec(live.upper(3), DoubleType) === Double.PositiveInfinity)
    assert(live.nullCounts === Map(1 -> 0L, 2 -> 1L, 3 -> 1L, 4 -> 1L, 5 -> 0L, 6 -> 1L,
      7 -> 0L, 8 -> 4L))
    assert(!live.lower.contains(8) && !live.upper.contains(8), "an all-null column has no bounds")
    // a NaN column has no bounds at all; a zero bound may be the other zero
    Seq(6, 7).foreach(id => assert(!live.lower.contains(id) && !live.upper.contains(id)))
    assert(dec(live.lower(5), DoubleType) == 0.0 && dec(live.upper(5), DoubleType) === 4.0)
    // a float/double upper bound of a file graft wrote certifies no NaN
    assert(live.nanCounts === Map(3 -> 0L, 5 -> 0L))
    assert(snap.deleteFiles.map(_.recordCount) === Seq(1L))
    assert(IcebergTable.read(spark, root).count() === 3L)
  }
}
