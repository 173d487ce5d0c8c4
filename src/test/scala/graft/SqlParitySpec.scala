package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-9 SQL/streaming parity additions: `DESCRIBE DETAIL`,
  * `FSCK REPAIR TABLE`, `RESTORE … TO TIMESTAMP AS OF`, the
  * `table_changes` table-valued function, and the `skipChangeCommits`
  * streaming option — each the graft face of the Delta feature of the
  * same name. */
class SqlParitySpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("sqlparity").toString

  test("DESCRIBE DETAIL: one-row metadata incl. deletion-vector count") {
    val root = freshDir() + "/t"
    ManifestTable.append(spark, root,
      spark.range(100).toDF("id").withColumn("p", (col("id") % 2).cast("string")),
      partitionBy = Seq("p"))
    ManifestTable.setProperty(spark, root, ManifestTable.DvProperty, "true")
    ManifestTable.delete(spark, root, col("id") === 7L)
    val d = spark.sql(s"DESCRIBE DETAIL graft.`$root`").head
    assert(d.getString(0) == "graft")
    assert(d.getString(1) == root)
    assert(d.getLong(2) == ManifestTable.currentVersion(spark, root).get)
    assert(d.getLong(3) > 0) // num_files
    assert(d.getLong(4) > 0) // size_bytes
    assert(d.getString(5) == "p")
    assert(d.getLong(6) == 1L, "one file carries a deletion vector")
    assert(d.getString(7).contains(ManifestTable.DvProperty))
  }

  test("FSCK REPAIR TABLE drops entries whose files were deleted out-of-band") {
    val root = freshDir() + "/t"
    ManifestTable.append(spark, root,
      spark.range(100).toDF("id").repartitionByRange(4, col("id")))
    val victim = ManifestTable.snapshot(spark, root).files.head
    new java.io.File(s"$root/$victim").delete()
    // damaged: a full read now fails at scan time
    intercept[Exception] { ManifestTable.read(spark, root).count() }
    val dry = spark.sql(s"FSCK REPAIR TABLE graft.`$root` DRY RUN").head
    assert(dry.getInt(1) == 1 && dry.getBoolean(2))
    intercept[Exception] { ManifestTable.read(spark, root).count() } // dry run touched nothing
    val fixed = spark.sql(s"FSCK REPAIR TABLE graft.`$root`").head
    assert(fixed.getInt(1) == 1 && !fixed.getBoolean(2))
    val n = ManifestTable.read(spark, root).count()
    assert(n > 0 && n < 100, s"repaired table serves the surviving files, got $n")
    assert(ManifestTable.history(spark, root).orderBy(col("version").desc)
      .select("operation").head.getString(0) == "fsck")
    // idempotent: nothing more to repair
    assert(spark.sql(s"FSCK REPAIR TABLE graft.`$root`").head.getInt(1) == 0)
  }

  test("RESTORE TO TIMESTAMP AS OF resolves like a timestamped reader") {
    val root = freshDir() + "/t"
    ManifestTable.append(spark, root, spark.range(10).toDF("id"))
    Thread.sleep(1100)
    val ts = System.currentTimeMillis()
    Thread.sleep(1100)
    ManifestTable.append(spark, root, spark.range(10, 30).toDF("id"))
    val r = spark.sql(s"RESTORE TABLE graft.`$root` TO TIMESTAMP AS OF '$ts'").head
    assert(r.getLong(1) == 1L, s"timestamp should resolve to v1, got ${r.getLong(1)}")
    assert(ManifestTable.read(spark, root).count() == 10)
  }

  test("table_changes TVF serves the change feed in pure SQL") {
    val root = freshDir() + "/t"
    ManifestTable.append(spark, root, spark.range(50).toDF("id"))
    ManifestTable.setProperty(spark, root, ManifestTable.CdcProperty, "true")
    val v0 = ManifestTable.currentVersion(spark, root).get
    ManifestTable.delete(spark, root, col("id") < 5L)
    val out = spark.sql(
      s"SELECT * FROM table_changes('graft.`$root`', ${v0 + 1}) ORDER BY id")
    assert(out.columns.toSeq ==
      Seq("id", ManifestTable.ChangeTypeCol, ManifestTable.CommitVersionCol))
    assert(out.count() == 5)
    assert(out.select(ManifestTable.ChangeTypeCol).distinct().head.getString(0) == "delete")
    // explicit ending bound: same rows
    val vEnd = ManifestTable.currentVersion(spark, root).get
    assert(spark.sql(
      s"SELECT * FROM table_changes('graft.`$root`', ${v0 + 1}, $vEnd)").count() == 5)
  }

  test("skipChangeCommits: the stream serves appends and skips delete/rewrite commits") {
    val root = freshDir() + "/t"
    val outDir = freshDir()
    ManifestTable.append(spark, root, spark.range(100).toDF("id"))
    def runStream(ck: String): Long = {
      val q = spark.readStream.format("graft").option("skipChangeCommits", "true")
        .load(root)
        .writeStream.format("parquet")
        .option("path", s"$outDir/out").option("checkpointLocation", s"$outDir/$ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      spark.read.parquet(s"$outDir/out").count()
    }
    assert(runStream("ck") == 100) // snapshot batch
    // a CoW delete removes+rewrites files; with the option the stream
    // skips that commit instead of failing, and later appends still serve
    ManifestTable.delete(spark, root, col("id") < 10L)
    ManifestTable.append(spark, root, spark.range(100, 120).toDF("id"))
    assert(runStream("ck") == 120, "20 appended rows served, delete commit skipped")
    // MoR deletes (vector-only commits) are skipped the same way
    ManifestTable.setProperty(spark, root, ManifestTable.DvProperty, "true")
    ManifestTable.delete(spark, root, col("id") === 50L)
    ManifestTable.append(spark, root, spark.range(120, 125).toDF("id"))
    assert(runStream("ck") == 125)
    // contradiction with the change feed is refused loud
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("skipChangeCommits", "true")
        .option("readChangeFeed", "true").load(root)
        .writeStream.format("noop").start().awaitTermination(20000)
    }
    assert(e.getMessage.contains("skipChangeCommits") ||
      Option(e.getCause).exists(_.getMessage.contains("skipChangeCommits")))
  }

  test("CONVERT TO DELTA (r19): the public statement adopts a hive parquet dir, " +
    "stats by default, NO STATISTICS opts out, established logs refuse") {
    import spark.implicits._
    val dir = freshDir() + "/raw"
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5)).toDF("id", "kind", "v")
      .write.partitionBy("kind").parquet(dir)
    val r = spark.sql(s"CONVERT TO DELTA parquet.`$dir` PARTITIONED BY (kind string)").head
    assert(r.getString(0) === dir && r.getLong(1) >= 2L)
    // stats collected by default (Delta's own convert behavior)
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_delta_log")).iterator().next()))
    assert(log.contains("minValues"), "the statement collects stats unless NO STATISTICS")
    val got = graft.sources.DeltaLake.read(spark, dir).orderBy("id")
      .select("id", "kind").collect().map(x => (x.getLong(0), x.getString(1)))
    assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "a")))
    // adoption only: re-converting the now-established log refuses
    val e = intercept[IllegalArgumentException](
      spark.sql(s"CONVERT TO DELTA parquet.`$dir`").collect())
    assert(e.getMessage.contains("already has a _delta_log"))
    // NO STATISTICS: adds carry no stats field
    val dir2 = freshDir() + "/raw"
    Seq((1L, 1.0)).toDF("id", "v").write.parquet(dir2)
    spark.sql(s"CONVERT TO DELTA parquet.`$dir2` NO STATISTICS").collect()
    val log2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Files.list(java.nio.file.Paths.get(dir2, "_delta_log")).iterator().next()))
    assert(!log2.contains("\"stats\""), s"NO STATISTICS must omit stats: $log2")
  }

  test("CALL graft.system.add_files (r19): the procedure face registers a hive ORC dir, " +
    "partitioning derived from the layout, duplicate re-run refuses") {
    import spark.implicits._
    val dir = freshDir() + "/raw"
    val df = (0L until 60L).map(i => (i, s"k${i % 2}", i * 1.0)).toDF("id", "part", "v")
    df.write.partitionBy("part").orc(dir)
    val table = freshDir() + "/t"
    val r = spark.sql(
      s"CALL graft.system.add_files(table => '$table', source_dir => '$dir', " +
        "collect_stats => true)").head
    assert(r.getString(0) === table && r.getLong(1) >= 2L)
    val got = spark.read.format("graft-iceberg").load(table)
    assert(got.count() === 60)
    // the derived identity partitioning reconstructs and prunes
    assert(got.filter(col("part") === "k1").count() === 30)
    val snap = graft.sources.IcebergTable.snapshot(spark, table)
    assert(snap.partitionFields.map(_.name) === Seq("part"))
    assert(snap.dataFiles.forall(_.lower.nonEmpty), "collect_stats lands bounds")
    // a naive re-run of the same CALL refuses (duplicate registration)
    val e = intercept[IllegalArgumentException](spark.sql(
      s"CALL graft.system.add_files(table => '$table', source_dir => '$dir')").collect())
    assert(e.getMessage.contains("already registered"))
    // a dir mixing parquet AND orc refuses loud (r19 review: one
    // inference cannot govern two formats)
    val mixed = freshDir() + "/raw"
    Seq((1L, 1.0)).toDF("id", "v").coalesce(1).write.parquet(s"$mixed/p")
    Seq((2L, 2.0)).toDF("id", "v").coalesce(1).write.orc(s"$mixed/o")
    val eMix = intercept[IllegalArgumentException](spark.sql(
      s"CALL graft.system.add_files(table => '${freshDir()}/t', source_dir => '$mixed')").collect())
    assert(eMix.getMessage.contains("mixes data-file formats"))
  }
}
