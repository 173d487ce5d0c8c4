package graft

import graft.sources.{GraftFileIndex, ManifestTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThan, Literal, And => CatalystAnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{IntegerType, LongType}
import java.nio.file.Files

class GraftDataSourceSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  /** The single file scan of an executed frame (post-AQE). */
  private def scanOf(df: DataFrame): FileSourceScanExec = {
    df.collect()
    def find(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Some(f)
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => find(s.plan)
      case other => other.children.iterator.flatMap(find(_)).nextOption()
    }
    find(df.queryExecution.executedPlan)
      .getOrElse(fail("no FileSourceScanExec in the executed plan"))
  }

  private def numFilesScanned(df: DataFrame): Long =
    scanOf(df).metrics("numFiles").value

  test("batch write/read round-trip and save modes") {
    import spark.implicits._
    val root = tmp("gds_modes")
    spark.range(10).toDF("id").write.format("graft").mode("append").save(root)
    val v0 = ManifestTable.currentVersion(spark, root).get
    spark.range(10, 15).toDF("id").write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() == 15)

    intercept[IllegalStateException] {
      spark.range(3).toDF("id").write.format("graft").mode("errorifexists").save(root)
    }
    spark.range(99).toDF("id").write.format("graft").mode("ignore").save(root)
    assert(spark.read.format("graft").load(root).count() == 15) // ignored

    spark.range(7).toDF("id").write.format("graft").mode("overwrite").save(root)
    assert(spark.read.format("graft").load(root).as[Long].collect().sorted.toSeq == (0L until 7L))

    // versionAsOf: the first committed version was the 10-row append
    assert(spark.read.format("graft")
      .option("versionAsOf", v0.toString).load(root).count() == 10)
  }

  test("partition pruning: a partition filter reaches the manifest, not the scan") {
    import spark.implicits._
    val root = tmp("gds_part")
    val df = (0 until 100).map(i => (i, i % 4)).toDF("id", "k")
    df.write.format("graft").partitionBy("k").mode("append").save(root)

    val read = spark.read.format("graft").load(root)
    val totalFiles = numFilesScanned(read)
    assert(totalFiles >= 4, s"expected >= 4 files across partitions, saw $totalFiles")

    val oneK = read.filter(col("k") === 2)
    assert(oneK.count() == 25)
    val prunedFiles = numFilesScanned(oneK.filter(col("k") === 2))
    assert(prunedFiles < totalFiles,
      s"partition filter should prune files ($prunedFiles vs $totalFiles)")
    // values and types survive the round-trip through path-parsed partitions
    assert(read.filter(col("k") === 2).select(sum("id")).as[Long].head() ==
      (0 until 100).filter(_ % 4 == 2).sum)
  }

  test("stats skipping: a range filter on clustered files prunes the scan") {
    import spark.implicits._
    val root = tmp("gds_stats")
    val df = spark.range(1000).toDF("id")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
    df.write.format("graft").mode("append").save(root)

    val read = spark.read.format("graft").load(root)
    assert(numFilesScanned(read) == 8)
    val narrow = spark.read.format("graft").load(root)
      .filter(col("id") >= 100 && col("id") < 200)
    assert(narrow.count() == 100)
    val pruned = numFilesScanned(
      spark.read.format("graft").load(root).filter(col("id") >= 100 && col("id") < 200))
    assert(pruned <= 2, s"range filter over 8 range-sorted files should open <= 2, opened $pruned")
  }

  test("GraftFileIndex.listFiles prunes with resolved catalyst filters directly") {
    import spark.implicits._
    val root = tmp("gds_index")
    val df = (0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "k")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    df.write.format("graft").partitionBy("k").mode("append").save(root)

    val index = new GraftFileIndex(spark, ManifestTable.snapshot(spark, root))
    val all = index.listFiles(Nil, Nil).map(_.files.size).sum
    val kAttr = AttributeReference("k", IntegerType, nullable = true)()
    val idAttr = AttributeReference("id", LongType, nullable = true)()

    val partPruned = index.listFiles(Seq(EqualTo(kAttr, Literal(1))), Nil)
    assert(partPruned.map(_.files.size).sum < all)
    assert(partPruned.size == 1, "one surviving partition directory")

    val statsPruned = index.listFiles(Nil, Seq(CatalystAnd(
      GreaterThanOrEqual(idAttr, Literal(10L)), LessThan(idAttr, Literal(30L)))))
    assert(statsPruned.map(_.files.size).sum < all,
      "data-filter stats pruning should drop out-of-range files")
  }

  test("SQL-on-file: SELECT FROM graft.`root` works, @vN pins a version") {
    import spark.implicits._
    val root = tmp("gds_sql")
    (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "k")
      .write.format("graft").partitionBy("k").mode("append").save(root)
    val v1 = ManifestTable.currentVersion(spark, root).get
    (40 until 60).map(i => (i.toLong, i % 4)).toDF("id", "k")
      .write.format("graft").mode("append").save(root)

    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root`").head.getLong(0) == 60)
    // the @v path suffix is the only time-travel spelling SQL-on-file has
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root@v$v1`").head.getLong(0) == 40)
    // partition pruning holds on the SQL path: only k=2 files are scanned
    val pruned = spark.sql(s"SELECT id FROM graft.`$root` WHERE k = 2")
    val perPartition = numFilesScanned(pruned)
    val all = numFilesScanned(spark.sql(s"SELECT id FROM graft.`$root`"))
    assert(perPartition < all, s"SQL filter must prune ($perPartition vs $all files)")
    // the batch reader honors the same suffix
    assert(spark.read.format("graft").load(s"$root@v$v1").count() == 40)
  }

  test("SQL-on-file: planning one SELECT opens the manifest once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gds_opens").toString + "/t"
    val root = "graftfs:" + dir
    ManifestTable.append(spark, root,
      (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "k"), partitionBy = Seq("k"))
    ManifestTable.append(spark, root, (40 until 60).map(i => (i.toLong, i % 4)).toDF("id", "k"))
    val opens = GraftTestFs.opensDuring {
      spark.sql(s"SELECT id FROM graft.`$root` WHERE k = 2").queryExecution.executedPlan
    }.filter(p => p.startsWith(dir) && p.endsWith(".manifest"))
    // the catalog's table handle, the relation's DV/mapping check and
    // the file index all serve the one loaded snapshot
    assert(opens.size == 1, s"manifest opened ${opens.size} times: $opens")
    assert(spark.sql(s"SELECT id FROM graft.`$root` WHERE k = 2").count() == 15)
  }

  test("SQL-on-file: planning one SELECT of a deletion-vector'd table opens the manifest once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gds_dv_opens").toString + "/t"
    val root = "graftfs:" + dir
    ManifestTable.append(spark, root, (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "k"))
    ManifestTable.setProperty(spark, root, ManifestTable.DvProperty, "true")
    ManifestTable.delete(spark, root, col("id") === 2L)
    val opens = GraftTestFs.opensDuring {
      spark.sql(s"SELECT id FROM graft.`$root` WHERE k = 2").queryExecution.executedPlan
    }.filter(p => p.startsWith(dir) && p.endsWith(".manifest"))
    // the DV-aware relation scans the snapshot the catalog loaded
    assert(opens.size == 1, s"manifest opened ${opens.size} times: $opens")
    assert(spark.sql(s"SELECT id FROM graft.`$root` WHERE k = 2").count() == 9)
  }

  test("streaming source: snapshot first batch, then per-commit increments") {
    import spark.implicits._
    val root = tmp("gds_src")
    spark.range(10).toDF("id").write.format("graft").mode("append").save(root)

    val q = spark.readStream.format("graft").load(root)
      .groupBy().agg(count(lit(1)).as("n"), sum("id").as("s"))
      .writeStream.format("memory").queryName("gds_src_sink")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      var row = spark.table("gds_src_sink").collect().head
      assert(row.getAs[Long]("n") == 10 && row.getAs[Long]("s") == 45)

      ManifestTable.append(spark, root, spark.range(10, 15).toDF("id"))
      q.processAllAvailable()
      row = spark.table("gds_src_sink").collect().head
      assert(row.getAs[Long]("n") == 15, "the appended commit must stream through")
    } finally q.stop()
  }

  test("streaming sink: exactly-once appends into a manifest table") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = tmp("gds_sink")
    val checkpoint = Files.createTempDirectory("gds_sink_ck").toString
    val input = MemoryStream[Long]
    val q = input.toDF().withColumnRenamed("value", "id")
      .writeStream.format("graft").option("path", root)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(ManifestTable.read(spark, root).count() == 3)
      input.addData(4L, 5L)
      q.processAllAvailable()
      assert(ManifestTable.read(spark, root).as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L))
      // the txn ledger carries the sink's high-water mark: a replay of an
      // already-committed batch id stages nothing
      val mark = ManifestTable.txnHighWaterMark(spark, root, "graft-stream-sink")
      assert(mark.contains(1L), s"expected batch high-water mark 1, got $mark")
      assert(ManifestTable.exactlyOnceAppend(spark, root,
        spark.range(99).toDF("id"), "graft-stream-sink", 1L).isEmpty)
    } finally q.stop()
  }

  test("SQL surface: CREATE TABLE ... USING graft, SELECT pushes filters down") {
    import spark.implicits._
    val root = tmp("gds_sql")
    (0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "k")
      .write.format("graft").partitionBy("k").mode("append").save(root)
    spark.sql(s"CREATE TABLE graft_sql_t USING graft OPTIONS (path '$root')")
    try {
      val out = spark.sql("SELECT sum(id) AS s FROM graft_sql_t WHERE k = 2")
      assert(out.as[Long].head() == (0 until 100).filter(_ % 4 == 2).sum)
      val pruned = numFilesScanned(spark.sql("SELECT id FROM graft_sql_t WHERE k = 2"))
      val total = numFilesScanned(spark.sql("SELECT id FROM graft_sql_t"))
      assert(pruned < total, s"SQL partition filter should prune files ($pruned vs $total)")
    } finally spark.sql("DROP TABLE graft_sql_t")
  }

  test("streaming sink respects writeStream.partitionBy on table creation") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = tmp("gds_sink_part")
    val checkpoint = Files.createTempDirectory("gds_sink_part_ck").toString
    val input = MemoryStream[Long]
    val q = input.toDF().select(col("value").as("id"), (col("value") % 2).as("k"))
      .writeStream.format("graft").option("path", root)
      .option("checkpointLocation", checkpoint)
      .partitionBy("k").outputMode(OutputMode.Append).start()
    try {
      input.addData(1L, 2L, 3L, 4L)
      q.processAllAvailable()
      assert(ManifestTable.read(spark, root).count() == 4)
      // the layout took: a partition filter through the registered source
      // prunes files
      val all = numFilesScanned(spark.read.format("graft").load(root))
      val one = numFilesScanned(spark.read.format("graft").load(root).filter(col("k") === 0))
      assert(one < all, s"hive layout from the sink should prune ($one vs $all)")
    } finally q.stop()
  }

  test("maxVersionsPerTrigger paces a backlogged stream commit by commit") {
    import spark.implicits._
    val root = tmp("gds_rate")
    spark.range(10).toDF("id").write.format("graft").mode("append").save(root)
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.format("memory").queryName("gds_rate_sink")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("gds_rate_sink").count() == 10)
      // backlog of three commits, admitted one per trigger
      ManifestTable.append(spark, root, spark.range(10, 20).toDF("id"))
      ManifestTable.append(spark, root, spark.range(20, 30).toDF("id"))
      ManifestTable.append(spark, root, spark.range(30, 40).toDF("id"))
      q.processAllAvailable()
      assert(spark.table("gds_rate_sink").count() == 40, "the whole backlog drains")
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 4,
        s"expected >= 4 paced non-empty batches (snapshot + 3 capped), saw $nonEmpty")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains in paced batches and terminates (batch-job streaming)") {
    import spark.implicits._
    val root = tmp("gds_avnow")
    val checkpoint = Files.createTempDirectory("gds_avnow_ck").toString
    spark.range(10).toDF("id").write.format("graft").mode("append").save(root)
    // the engine fixes the end offset at start, polls the source until it
    // reaches it, then STOPS — the batch-job way to consume a stream
    // (replaces Trigger.Once without losing rate-limit pacing)
    val out = tmp("gds_avnow_out")
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(root)
        .writeStream.format("graft").option("path", out)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode(OutputMode.Append).start()
    // run 1: initial snapshot (one batch by design), then self-terminate
    val q1 = run()
    try assert(q1.awaitTermination(120000), "AvailableNow run 1 must self-terminate")
    finally q1.stop()
    assert(ManifestTable.read(spark, out).count() == 10)
    // a 3-commit backlog accumulates while no query runs; run 2 restores
    // the admission base from the checkpoint and drains it PACED
    ManifestTable.append(spark, root, spark.range(10, 20).toDF("id"))
    ManifestTable.append(spark, root, spark.range(20, 30).toDF("id"))
    ManifestTable.append(spark, root, spark.range(30, 40).toDF("id"))
    val q2 = run()
    try {
      assert(q2.awaitTermination(120000), "AvailableNow run 2 must self-terminate")
      assert(ManifestTable.read(spark, out).count() == 40, "the whole backlog drains")
      val nonEmpty = q2.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3,
        s"expected >= 3 paced non-empty batches under the version cap, saw $nonEmpty")
    } finally q2.stop()
  }

  test("null-count skipping reaches the pushed-down scan") {
    import spark.implicits._
    val root = tmp("gds_nulls")
    spark.range(1000).toDF("id")
      .withColumn("v", when(col("id") >= 750, lit(null).cast("long"))
        .otherwise(col("id") * 10))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
      .write.format("graft").mode("append").save(root)
    // the planner pushes IsNotNull for the filter; the file index prunes
    // the all-null file from the scan itself
    val notNull = spark.read.format("graft").load(root).filter(col("v").isNotNull)
    assert(numFilesScanned(notNull) == 3, "the all-null file must not be scanned")
    assert(notNull.count() == 750)
    val isNull = spark.read.format("graft").load(root).filter(col("v").isNull)
    assert(numFilesScanned(isNull) == 1, "only the null-bearing file scans")
    assert(isNull.count() == 250)
  }

  test("rate-limit admission base survives a restart (no giant catch-up batch)") {
    import spark.implicits._
    val root = tmp("gds_rate_restart")
    val ckpt = Files.createTempDirectory("gds_rate_ckpt").toString
    spark.range(10).toDF("id").write.format("graft").mode("append").save(root)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((df: DataFrame, _: Long) => { batches.add(df.count()); () })
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // snapshot batch commits cleanly
    batches.clear()
    // a backlog lands while the stream is DOWN; the engine replays no
    // uncommitted batch on restart, so only the persisted base can cap it
    ManifestTable.append(spark, root, spark.range(10, 20).toDF("id"))
    ManifestTable.append(spark, root, spark.range(20, 30).toDF("id"))
    ManifestTable.append(spark, root, spark.range(30, 40).toDF("id"))
    drain()
    val counts = batches.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(counts.sum == 30, s"the whole backlog drains, got $counts")
    assert(counts.count(_ > 0) >= 3,
      s"expected >= 3 capped post-restart batches (one per version), got $counts")
  }

  test("batch read restores the declared column order (partition column first)") {
    import spark.implicits._
    val root = tmp("gds_order")
    Seq(("a", 1L), ("b", 2L)).toDF("p", "id")
      .write.format("graft").partitionBy("p").mode("append").save(root)
    // the V1 file-source convention would read back (id, p); the
    // DeclaredOrderRule projects the relation back to declared order so
    // both faces of the table agree
    val back = spark.read.format("graft").load(root)
    assert(back.columns.toSeq == Seq("p", "id"),
      s"declared order, got ${back.columns.toSeq}")
    assert(ManifestTable.read(spark, root).columns.toSeq == Seq("p", "id"))
    assert(back.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 1L), ("b", 2L)))
  }

  test("streaming source fails loud when a commit removed files mid-stream") {
    import spark.implicits._
    val root = tmp("gds_src_rm")
    spark.range(10).toDF("id").write.format("graft").mode("append").save(root)
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("gds_src_rm_sink")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("gds_src_rm_sink").count() == 10)
      ManifestTable.delete(spark, root, col("id") < 5) // rewrites files
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(err).exists(_.contains("removed")),
        s"expected the non-append failure, got: ${messages(err).mkString(" | ")}")
    } finally q.stop()
  }
}
