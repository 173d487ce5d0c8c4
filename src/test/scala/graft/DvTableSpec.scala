package graft

import graft.sources.{DeletionVectors, DeltaLake, ManifestTable}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Graft-native deletion vectors (Delta `delta.enableDeletionVectors`
  * parity): with `graft.enableDeletionVectors=true`, DELETE/UPDATE go
  * merge-on-read — a roaring bitmap of dead row indexes per touched file
  * instead of a copy-on-write rewrite — and every reader (snapshot, time
  * travel, readWhere, format("graft"), SQL, CDF, clone) anti-joins the
  * dead positions out. compact() purges the vectors (Delta's
  * `REORG … APPLY (PURGE)`), and mirror() republishes them as protocol
  * descriptors foreign Delta readers honor. */
class DvTableSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("dvtable").toString

  private def mkTable(root: String, n: Long = 1000, files: Int = 4): Unit = {
    ManifestTable.append(spark, root,
      spark.range(n).toDF("id").withColumn("v", (col("id") * 3).cast("long"))
        .repartitionByRange(files, col("id")).sortWithinPartitions("id"))
    ManifestTable.setProperty(spark, root, ManifestTable.DvProperty, "true")
  }

  private def dataFilesUnder(root: String): Seq[String] = {
    val dir = new java.io.File(s"$root/data")
    if (!dir.exists()) Nil
    else {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).map(_.getPath).filter(_.endsWith(".parquet"))
    }
  }

  private def manifestLines(root: String, v: Long): Seq[String] = {
    val p = java.nio.file.Paths.get(s"$root/_manifests/v${"%020d".format(v)}.manifest")
    scala.jdk.CollectionConverters.ListHasAsScala(java.nio.file.Files.readAllLines(p)).asScala.toSeq
  }

  test("MoR delete: rows vanish, files don't move, vector is committed inline") {
    val root = freshDir()
    mkTable(root)
    val filesBefore = dataFilesUnder(root).toSet
    val v = ManifestTable.delete(spark, root, col("id") % 10 === 3L)
    assert(v.isDefined)
    assert(dataFilesUnder(root).toSet == filesBefore,
      "merge-on-read delete must not rewrite or add data files")
    val out = ManifestTable.read(spark, root)
    assert(out.count() == 900)
    assert(out.filter(col("id") % 10 === 3L).count() == 0)
    // sum over survivors proves the RIGHT rows died
    val expect = spark.range(1000).filter(col("id") % 10 =!= 3L)
      .agg(sum(col("id") * 3)).head.getLong(0)
    assert(out.agg(sum("v")).head.getLong(0) == expect)
    assert(manifestLines(root, v.get).exists(_.startsWith("# dv:")),
      "the commit should carry # dv: entries")
    // the same delete copy-on-write serves the same rows
    val cow = freshDir()
    mkTable(cow)
    ManifestTable.setProperty(spark, cow, ManifestTable.DvProperty, "false")
    ManifestTable.delete(spark, cow, col("id") % 10 === 3L)
    val cowRows = ManifestTable.read(spark, cow)
    assert(cowRows.exceptAll(out).isEmpty && out.exceptAll(cowRows).isEmpty,
      "merge-on-read and copy-on-write deletes diverge")
  }

  test("second MoR delete on the same files merges vectors") {
    val root = freshDir()
    mkTable(root)
    ManifestTable.delete(spark, root, col("id") < 100L)
    val v2 = ManifestTable.delete(spark, root, col("id") >= 100L && col("id") < 150L)
    assert(v2.isDefined)
    val out = ManifestTable.read(spark, root)
    assert(out.count() == 850)
    assert(out.agg(min("id")).head.getLong(0) == 150L)
    // the first file (ids 0..249 in a 4-file range layout) carries ONE
    // merged vector with both deletes' cardinality
    val dvLines = manifestLines(root, v2.get).filter(_.startsWith("# dv:"))
    assert(dvLines.nonEmpty)
    val cards = dvLines.map(_.split("\t").last.toLong)
    assert(cards.sum == 150L, s"merged cardinality should total 150, got $cards")
  }

  test("delete matching nothing returns None under DVs too") {
    val root = freshDir()
    mkTable(root)
    assert(ManifestTable.delete(spark, root, col("id") > 10000L).isEmpty)
  }

  test("a fully-dead file drops from the manifest instead of carrying a tombstone vector") {
    val root = freshDir()
    mkTable(root)
    val before = ManifestTable.snapshot(spark, root).files.size
    // the range layout puts ids 0..249 in file 1: kill them all
    val v = ManifestTable.delete(spark, root, col("id") < 250L)
    assert(v.isDefined)
    val state = ManifestTable.snapshot(spark, root)
    assert(state.files.size < before,
      s"fully-dead file should leave the list ($before -> ${state.files.size})")
    assert(ManifestTable.read(spark, root).count() == 750)
  }

  test("time travel reads pre-delete versions whole; restore revives dead rows") {
    val root = freshDir()
    mkTable(root)
    val vBefore = ManifestTable.currentVersion(spark, root).get
    ManifestTable.delete(spark, root, col("id") % 2 === 0L)
    assert(ManifestTable.read(spark, root).count() == 500)
    assert(ManifestTable.read(spark, root, Some(vBefore)).count() == 1000)
    ManifestTable.restore(spark, root, vBefore)
    assert(ManifestTable.read(spark, root).count() == 1000)
  }

  test("restore BACK to a post-delete version re-applies its vector") {
    val root = freshDir()
    mkTable(root)
    ManifestTable.delete(spark, root, col("id") < 10L)
    val vDel = ManifestTable.currentVersion(spark, root).get
    ManifestTable.delete(spark, root, col("id") >= 990L)
    ManifestTable.restore(spark, root, vDel)
    val out = ManifestTable.read(spark, root)
    assert(out.count() == 990)
    assert(out.agg(min("id")).head.getLong(0) == 10L)
    assert(out.agg(max("id")).head.getLong(0) == 999L)
  }

  test("MoR update: dead positions + appended rows, untouched files intact") {
    val root = freshDir()
    mkTable(root)
    val filesBefore = dataFilesUnder(root).toSet
    val v = ManifestTable.update(spark, root, col("id") < 10L,
      Map("v" -> lit(-1L).cast("long")))
    assert(v.isDefined)
    assert(filesBefore.subsetOf(dataFilesUnder(root).toSet),
      "merge-on-read update must append, never rewrite")
    val out = ManifestTable.read(spark, root)
    assert(out.count() == 1000)
    assert(out.filter(col("v") === -1L).count() == 10)
    assert(out.filter(col("id") === 5L).select("v").head.getLong(0) == -1L)
    assert(out.filter(col("id") === 500L).select("v").head.getLong(0) == 1500L)
  }

  test("readWhere keeps stats skipping on a DV'd table and serves live rows only") {
    val root = freshDir()
    mkTable(root)
    ManifestTable.delete(spark, root, col("id") === 42L)
    // bounds are untouched by MoR deletes: a narrow range still prunes
    val opened = ManifestTable.readCandidates(spark, root, col("id") === 42L)
    assert(opened.length == 1, s"stats should still prune to 1 file, got ${opened.length}")
    assert(ManifestTable.readWhere(spark, root, col("id") === 42L).count() == 0)
    assert(ManifestTable.readWhere(spark, root, col("id") === 43L).count() == 1)
  }

  test("copy-on-write merge over a DV'd file does not resurrect its dead rows") {
    val root = freshDir()
    mkTable(root)
    ManifestTable.delete(spark, root, col("id") === 7L)
    // merge touches the file containing id 7 (keyed update of id 8)
    val up = spark.range(8, 9).toDF("id").withColumn("v", lit(0L))
    ManifestTable.merge(spark, root, up, Seq("id"))
    val out = ManifestTable.read(spark, root)
    assert(out.filter(col("id") === 7L).count() == 0, "merge rewrite resurrected a dead row")
    assert(out.filter(col("id") === 8L).select("v").head.getLong(0) == 0L)
    assert(out.count() == 999)
  }

  test("compact purges vectors: same rows, no # dv: lines, invisible to incremental readers") {
    val root = freshDir()
    mkTable(root)
    ManifestTable.delete(spark, root, col("id") % 5 === 0L)
    val vDel = ManifestTable.currentVersion(spark, root).get
    val vC = ManifestTable.compact(spark, root, targetFileMb = 128)
    assert(manifestLines(root, vC).forall(!_.startsWith("# dv:")))
    val out = ManifestTable.read(spark, root)
    assert(out.count() == 800)
    assert(out.filter(col("id") % 5 === 0L).count() == 0)
    // dataChange:false — an incremental reader over (vDel, vC] sees nothing
    assert(ManifestTable.changesBetween(spark, root, vDel, vC).count() == 0)
  }

  test("large vectors go to a _dv file; vacuum reclaims it only after purge") {
    val root = freshDir()
    spark.conf.set(ManifestTable.DvMaxInlineKey, "64")
    try {
      mkTable(root)
      ManifestTable.delete(spark, root, col("id") % 2 === 0L)
      val dvDir = new java.io.File(s"$root/_dv")
      assert(dvDir.exists() && dvDir.listFiles().nonEmpty,
        "a 500-row vector must overflow a 64-byte inline cap into _dv/")
      assert(ManifestTable.read(spark, root).count() == 500)
      // still referenced: vacuum with full retention must keep it
      ManifestTable.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L)
      assert(dvDir.listFiles().nonEmpty, "a referenced DV file must survive vacuum")
      assert(ManifestTable.read(spark, root).count() == 500)
      ManifestTable.compact(spark, root)
      val n = ManifestTable.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L)
      assert(n > 0)
      assert(dvDir.listFiles() == null || dvDir.listFiles().isEmpty,
        "after purge + vacuum the DV file is unreferenced garbage")
      assert(ManifestTable.read(spark, root).count() == 500)
    } finally spark.conf.unset(ManifestTable.DvMaxInlineKey)
  }

  test("format(graft) batch read applies vectors, with pushed filters still working") {
    val root = freshDir()
    mkTable(root)
    ManifestTable.delete(spark, root, col("id") % 10 === 3L)
    val df = spark.read.format("graft").load(root)
    assert(df.count() == 900)
    assert(df.filter(col("id") % 10 === 3L).count() == 0)
    assert(df.filter(col("id") === 44L).count() == 1)
    assert(df.select("v").filter(col("v") === 132L).count() == 1)
  }

  test("streaming from a DV'd table: snapshot batch applies vectors, later DV commits fail loud") {
    val root = freshDir()
    mkTable(root)
    ManifestTable.delete(spark, root, col("id") < 100L)
    val outDir = freshDir()
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", s"$outDir/out").option("checkpointLocation", s"$outDir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$outDir/out").count() == 900)
    // a new MoR delete is a row removal — the append-only face must refuse
    ManifestTable.delete(spark, root, col("id") === 500L)
    val q2 = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", s"$outDir/out").option("checkpointLocation", s"$outDir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(); ()
    }
    assert(failed.getMessage.contains("deletion vector") ||
      Option(failed.getCause).exists(_.getMessage.contains("deletion vector")))
  }

  test("CDF: captured deletes when CDC is on; exact synthesis from the vector delta when off") {
    // CDC on: the capture path serves the feed
    val root = freshDir()
    mkTable(root)
    ManifestTable.setProperty(spark, root, ManifestTable.CdcProperty, "true")
    val v0 = ManifestTable.currentVersion(spark, root).get
    ManifestTable.delete(spark, root, col("id") < 5L)
    val feed = ManifestTable.readChangeFeed(spark, root, v0,
      ManifestTable.currentVersion(spark, root).get)
    assert(feed.filter(col(ManifestTable.ChangeTypeCol) === "delete").count() == 5)
    assert(feed.count() == 5, "a captured MoR delete contributes exactly its dead rows")

    // CDC off: synthesized from the vector delta — also exactly the dead rows
    val root2 = freshDir()
    mkTable(root2)
    val w0 = ManifestTable.currentVersion(spark, root2).get
    ManifestTable.delete(spark, root2, col("id") >= 995L)
    val feed2 = ManifestTable.readChangeFeed(spark, root2, w0,
      ManifestTable.currentVersion(spark, root2).get)
    assert(feed2.count() == 5)
    assert(feed2.filter(col(ManifestTable.ChangeTypeCol) === "delete").count() == 5)
    assert(feed2.agg(min("id")).head.getLong(0) == 995L)
  }

  test("incremental file-diff readers fail loud over a DV commit") {
    val root = freshDir()
    mkTable(root)
    val v0 = ManifestTable.currentVersion(spark, root).get
    ManifestTable.delete(spark, root, col("id") === 1L)
    val v1 = ManifestTable.currentVersion(spark, root).get
    val e = intercept[IllegalStateException] {
      ManifestTable.changesBetween(spark, root, v0, v1).count()
    }
    assert(e.getMessage.contains("deletion vector"))
    val e2 = intercept[IllegalStateException] {
      ManifestTable.changesBetween(spark, root, v0, v1, includeRemoves = true).count()
    }
    assert(e2.getMessage.contains("deletion vector"))
  }

  test("shallow clone carries the source's vectors, zero-copy") {
    val base = freshDir()
    val (src, dst) = (s"$base/src", s"$base/dst")
    spark.conf.set(ManifestTable.DvMaxInlineKey, "64")
    try {
      mkTable(src)
      ManifestTable.delete(spark, src, col("id") % 2 === 1L) // file-storage vector
      ManifestTable.shallowClone(spark, src, dst)
      assert(dataFilesUnder(dst).isEmpty)
      val out = ManifestTable.read(spark, dst)
      assert(out.count() == 500)
      assert(out.filter(col("id") % 2 === 1L).count() == 0)
      // the clone's own delete writes vectors under ITS root, source untouched
      ManifestTable.delete(spark, dst, col("id") === 0L)
      assert(ManifestTable.read(spark, dst).count() == 499)
      assert(ManifestTable.read(spark, src).count() == 500)
    } finally spark.conf.unset(ManifestTable.DvMaxInlineKey)
  }

  test("mirror republishes vectors as Delta descriptors a protocol reader honors") {
    val root = freshDir()
    spark.conf.set(ManifestTable.DvMaxInlineKey, "64")
    try {
      mkTable(root)
      DeltaLake.mirror(spark, root)
      // DV commit mirrors as remove + DV'd re-add + protocol upgrade
      ManifestTable.delete(spark, root, col("id") % 4 === 0L)
      assert(DeltaLake.mirror(spark, root).isDefined)
      val back = DeltaLake.read(spark, root)
      assert(back.count() == 750)
      assert(back.filter(col("id") % 4 === 0L).count() == 0)
      // checkpoint round-trip keeps descriptors and the feature gate
      DeltaLake.writeCheckpoint(spark, root)
      val logDir = new java.io.File(s"$root/_delta_log")
      logDir.listFiles().filter(_.getName.endsWith(".json")).foreach(_.delete())
      val replayed = DeltaLake.read(spark, root)
      assert(replayed.count() == 750)
      assert(replayed.filter(col("id") % 4 === 0L).count() == 0)
    } finally spark.conf.unset(ManifestTable.DvMaxInlineKey)
  }

  test("SQL face: DELETE via the catalog goes merge-on-read and SELECT honors it") {
    val root = freshDir()
    mkTable(root)
    val filesBefore = dataFilesUnder(root).toSet
    spark.sql(s"DELETE FROM graft.`$root` WHERE id % 10 = 9")
    assert(dataFilesUnder(root).toSet == filesBefore)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root`").head.getLong(0) == 900L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root` WHERE id % 10 = 9")
      .head.getLong(0) == 0L)
  }

  test("DV file round-trip: writeDvFile offsets load back blob-identical") {
    val root = freshDir()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val blobs = Seq(
      DeletionVectors.serialize(Seq(1L, 5L, 9L)),
      DeletionVectors.serialize(0L to 9999L),
      DeletionVectors.serialize(Seq(1L << 33, (1L << 33) + 7)))
    val p = new org.apache.hadoop.fs.Path(s"$root/probe.bin")
    val offs = DeletionVectors.writeDvFile(fs, p, blobs)
    assert(offs.head == 1L)
    blobs.zip(offs).foreach { case (b, o) =>
      val back = DeletionVectors.readDvFileBlob(fs, p, o, b.length.toLong)
      assert(java.util.Arrays.equals(back, b))
      assert(DeletionVectors.positions(back).sameElements(DeletionVectors.positions(b)))
    }
  }
}
