package graft

import graft.sources.{DeltaLake, IcebergTable, IcebergWriter, ManifestTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** File skipping agrees with Spark's row semantics on every format: the
  * gaps separate per-format evaluators used to leave — float ordering on
  * Iceberg bounds, date/timestamp stats on Delta, and `InSet` (the
  * optimizer's form of an IN list longer than 10) everywhere. */
class SkippingParitySpec extends SparkSpec {

  private def freshRoot(tag: String): String =
    new java.io.File(Files.createTempDirectory(tag).toFile, "t").getAbsolutePath

  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.getOrElse(fail(s"no file scan in ${df.queryExecution.executedPlan}"))
  }

  private def leDouble(d: Double): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d).array()

  /** A foreign Iceberg table of ONE parquet file holding double `x`,
    * published with the given Appendix-D bounds and no NaN counts. */
  private def foreignDoubles(values: Seq[Double], lower: Double, upper: Double): String = {
    import org.apache.spark.sql.types._
    val root = freshRoot("icebergfp")
    val schema = StructType(Seq(StructField("x", DoubleType, nullable = true,
      new MetadataBuilder().putLong(IcebergTable.FieldIdKey, 1L).build())))
    val tmp = s"$root-staging"
    spark.createDataFrame(spark.sparkContext.parallelize(values.map(org.apache.spark.sql.Row(_)), 1),
      schema).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(s"$root/data/f0.parquet")
    dst.getParentFile.mkdirs()
    Files.move(part.toPath, dst.toPath)
    IcebergHandBuilt.publish(root, Seq((dst.getAbsolutePath, "PARQUET", values.size.toLong)),
      fieldsJson = """{"id":1,"name":"x","required":false,"type":"double"}""", lastColumnId = 1,
      bounds = Map(dst.getAbsolutePath -> Map(1 -> (leDouble(lower), leDouble(upper)))))
    root
  }

  test("Iceberg: bounds that leave out NaN rows never hide them from x > c") {
    // the spec keeps NaN out of bounds; Spark sorts NaN greatest, so
    // `x > 5` matches the NaN rows of a file whose upper bound is 2.0
    val root = foreignDoubles(Seq(1.0, 2.0, Double.NaN, Double.NaN), 1.0, 2.0)
    val got = spark.read.format("graft-iceberg").load(root).filter(col("x") > 5.0)
    assert(got.count() === 2, "the NaN rows match x > 5 under Spark's ordering")
  }

  test("Iceberg: -0.0 bounds serve x = 0.0 (Spark compares -0.0 = 0.0)") {
    val root = foreignDoubles(Seq(-0.0), -0.0, -0.0)
    val got = spark.read.format("graft-iceberg").load(root).filter(col("x") === 0.0)
    assert(got.count() === 1)
  }

  test("Iceberg add_files: footer bounds that leave out NaN rows never hide them from x > c") {
    // parquet writers outside Spark (Arrow, parquet-rs, DuckDB) keep NaN
    // out of footer min/max, so an adopted file's upper bound says
    // nothing about NaN rows; this file's pages hold NaN, its footer [1, 2]
    import org.apache.parquet.column.{Encoding, statistics}
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types._
    val root = freshRoot("icebergadopt")
    val file = s"$root-raw/f0.parquet"
    val values = Seq(1.0, 2.0, Double.NaN, Double.NaN)
    val pq = MessageTypeParser.parseMessageType("message m { required double x; }")
    val w = new ParquetFileWriter(spark.sparkContext.hadoopConfiguration, pq,
      new org.apache.hadoop.fs.Path(file))
    val st = statistics.Statistics.createStats(pq.getColumnDescription(Array("x")).getPrimitiveType)
      .asInstanceOf[statistics.DoubleStatistics]
    values.filterNot(_.isNaN).foreach(st.updateStats)
    val page = java.nio.ByteBuffer.allocate(8 * values.size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(page.putDouble)
    w.start()
    w.startBlock(values.size.toLong)
    w.startColumn(pq.getColumnDescription(Array("x")), values.size.toLong,
      CompressionCodecName.UNCOMPRESSED)
    w.writeDataPage(values.size, page.capacity(),
      org.apache.parquet.bytes.BytesInput.from(page.array()), st, values.size.toLong,
      Encoding.RLE, Encoding.RLE, Encoding.PLAIN)
    w.endColumn()
    w.endBlock()
    w.end(new java.util.HashMap[String, String]())
    IcebergWriter.addFiles(spark, root, StructType(Seq(StructField("x", DoubleType))),
      Seq(file), collectStats = true)
    assert(IcebergTable.snapshot(spark, root).dataFiles.map(_.recordCount) === Seq(4L))
    assert(IcebergTable.snapshot(spark, root).dataFiles.map(_.nanCounts) === Seq(Map.empty),
      "an adopted footer bound certifies nothing about NaN")
    // Spark's parquet row-group filter trusts the same footer, so it is
    // off here: this checks which files the kernel keeps
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try {
      val got = spark.read.format("graft-iceberg").load(root).filter(col("x") > 5.0)
      assert(filesScanned(got) === 1L)
      assert(got.count() === 2, "the NaN rows match x > 5 under Spark's ordering")
    } finally spark.conf.unset("spark.sql.parquet.filterPushdown")
  }

  test("x <=> NULL over an analyzer-widened column keeps the files holding NULLs") {
    val root = freshRoot("nullsafe")
    ManifestTable.append(spark, root, spark.range(0L, 10L).toDF("id")
      .withColumn("i", col("id").cast("int")).coalesce(1))
    ManifestTable.append(spark, root, spark.range(10L, 20L).toDF("id")
      .withColumn("i", when(col("id") < 12L, lit(null)).otherwise(col("id")).cast("int"))
      .coalesce(1))
    // resolves to cast(i as bigint) <=> NULL
    val pred = col("i") <=> lit(null).cast("bigint")
    assert(ManifestTable.readCandidates(spark, root, pred).size === 1)
    assert(ManifestTable.readWhere(spark, root, pred).select("id").collect()
      .map(_.getLong(0)).toSet === Set(10L, 11L))
  }

  test("Delta eager scan: a date-range filter opens only the files whose date stats admit it") {
    val root = freshRoot("deltadate")
    Seq("2024-01-15", "2024-02-15", "2024-03-15").zipWithIndex.foreach { case (d, i) =>
      ManifestTable.append(spark, root, spark.range(i * 10L, i * 10L + 10).toDF("id")
        .withColumn("d", lit(d).cast("date")).coalesce(1))
    }
    assert(DeltaLake.mirror(spark, root).isDefined)
    assert(DeltaLake.lazySnapshot(spark, root).isLeft, "a checkpoint-free log resolves eagerly")
    val got = spark.read.format("graft-delta").load(root)
      .filter(col("d") >= lit("2024-03-01").cast("date"))
    assert(filesScanned(got) === 1L)
    assert(got.select("id").collect().map(_.getLong(0)).toSet === (20L until 30L).toSet)
  }

  test("an IN list longer than 10 (InSet) prunes on graft, graft-delta and Iceberg") {
    val ids = (400L until 411L).mkString(",")
    def ranges(n: Int): Seq[DataFrame] =
      (0 until n).map(i => spark.range(i * 250L, i * 250L + 250).toDF("id")
        .withColumn("v", col("id") * 2))
    val graftRoot = freshRoot("ingraft")
    ranges(4).foreach(df => ManifestTable.append(spark, graftRoot, df.coalesce(1)))
    val g = spark.sql(s"SELECT id, v FROM graft.`$graftRoot` WHERE id IN ($ids)")
    assert(filesScanned(g) === 1L)
    assert(g.count() === 11)

    assert(DeltaLake.mirror(spark, graftRoot).isDefined)
    spark.read.format("graft-delta").load(graftRoot).createOrReplaceTempView("in_delta")
    val d = spark.sql(s"SELECT id, v FROM in_delta WHERE id IN ($ids)")
    assert(filesScanned(d) === 1L)
    assert(d.count() === 11)

    val iceRoot = freshRoot("inice")
    IcebergWriter.create(spark, iceRoot, ranges(4).map(_.coalesce(1)))
    val i = spark.sql(s"SELECT id, v FROM graft.`$iceRoot` WHERE id IN ($ids)")
    assert(filesScanned(i) === 1L)
    assert(i.count() === 11)
  }

  test("Delta lazy scan: a millisecond-rendered timestamp max still admits its microseconds") {
    import org.apache.spark.sql.types._
    val root = freshRoot("deltams")
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType)))
    val tmp = s"$root-staging"
    spark.sql("SELECT 1L AS id, TIMESTAMP'2024-01-01 00:00:00.123' AS ts UNION ALL " +
      "SELECT 2L, TIMESTAMP'2024-01-01 00:00:00.123456'").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.move(part.toPath, Paths.get(root, "f0.parquet"))
    def js(s: String) = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JString(s)))
    // stats as Delta writers render them: timestamps at millisecond precision
    val stats = """{"numRecords":2,"minValues":{"id":1,"ts":"2024-01-01T00:00:00.123Z"},""" +
      """"maxValues":{"id":2,"ts":"2024-01-01T00:00:00.123Z"},"nullCount":{"id":0,"ts":0}}"""
    val log = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"metaData":{"id":"11111111-2222-3333-4444-555555555555","format":{"provider":"parquet",""" +
        s""""options":{}},"schemaString":${js(schema.json)},"partitionColumns":[],""" +
        """"configuration":{},"createdTime":1700000000000}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${new java.io.File(
        s"$root/f0.parquet").length()},"modificationTime":1700000000000,"dataChange":true,""" +
        s""""stats":${js(stats)}}}""")
    Files.write(Paths.get(root, "_delta_log", f"${0}%020d.json"),
      (log.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    assert(DeltaLake.writeCheckpoint(spark, root) === 0L)
    assert(DeltaLake.lazySnapshot(spark, root).isRight, "the checkpointed log resolves lazily")
    val got = spark.read.format("graft-delta").load(root)
      .filter(col("ts") > lit("2024-01-01 00:00:00.1234").cast("timestamp"))
    assert(got.select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }
}
