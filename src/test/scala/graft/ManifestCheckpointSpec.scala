package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Parquet manifest checkpoints: a derivative columnar encoding of one
  * version's (full) manifest that the loader ([[ManifestTable.snapshot]])
  * and the checkpoint prune prefer and fall back from — the text manifest
  * stays the authoritative, arbitrated commit format. */
class ManifestCheckpointSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("ckpt").toString + "/t"

  private def rows(start: Int, n: Int): DataFrame =
    spark.range(start, start + n).toDF("id")
      .withColumn("grp", (col("id") % 4).cast("long"))
      .withColumn("v", (col("id") * 10).cast("long"))

  private def ckptOf(root: String, v: Long): java.io.File = new java.io.File(
    f"${new java.io.File(root).getAbsolutePath}/_manifests/v$v%020d.checkpoint.parquet")

  private def ckptFiles(root: String): Seq[java.io.File] = {
    val dir = new java.io.File(s"${new java.io.File(root).getAbsolutePath}/_manifests")
    if (!dir.exists()) Nil
    else dir.listFiles().filter(_.getName.endsWith(".checkpoint.parquet")).toSeq
  }

  test("threshold property: commits publish a checkpoint; reads agree with the text parse") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rows(0, 100))
    assert(ckptFiles(root).isEmpty, "below default threshold: no checkpoint")
    ManifestTable.setProperty(spark, root, ManifestTable.CheckpointMinFilesProperty, "1")
    ManifestTable.append(spark, root, rows(100, 100))
    val cks = ckptFiles(root)
    assert(cks.nonEmpty, "threshold 1: the commit must publish a checkpoint")
    // checkpointed read equals the text-parse read (delete the sidecar,
    // re-read, compare)
    val viaCkpt = ManifestTable.read(spark, root).orderBy("id").collect()
    cks.foreach(f => assert(f.delete()))
    val viaText = ManifestTable.read(spark, root).orderBy("id").collect()
    assert(viaCkpt.toSeq === viaText.toSeq)
    assert(viaCkpt.length === 200)
  }

  test("stats survive the checkpoint: skipping prunes identically") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rows(0, 50).repartition(4))
    ManifestTable.setProperty(spark, root, ManifestTable.CheckpointMinFilesProperty, "1")
    ManifestTable.append(spark, root, rows(50, 50).repartition(4))
    assert(ckptFiles(root).nonEmpty)
    val pruned = ManifestTable.readWhere(spark, root, col("id") === 7L)
    assert(pruned.count() === 1)
    // DML over a checkpoint-served snapshot behaves identically
    val v = ManifestTable.delete(spark, root, col("id") < 10L)
    assert(v.nonEmpty)
    assert(ManifestTable.read(spark, root).count() === 90)
  }

  test("checkpointed readWhere prunes on executors: same candidates, same rows as text") {
    val root = freshRoot()
    // clustered layout so a range predicate prunes hard
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("grp", (col("id") % 4).cast("long"))
      .withColumn("v", (col("id") * 10).cast("long"))
      .repartitionByRange(8, col("id"))
    ManifestTable.append(spark, root, df)
    val v2 = ManifestTable.setProperty(spark, root, ManifestTable.CheckpointMinFilesProperty, "1")
    val v3 = ManifestTable.append(spark, root, rows(4000, 100))
    assert(ckptOf(root, v2).exists() && ckptOf(root, v3).exists())
    val pred = col("id") >= 100L && col("id") < 300L
    val viaCkpt = ManifestTable.readCandidates(spark, root, pred)
    val rowsCkpt = ManifestTable.readWhere(spark, root, pred).orderBy("id").collect()
    val v2Ckpt = Files.readAllBytes(ckptOf(root, v2).toPath)
    // drop the sidecars: the text path must produce the identical prune set
    ckptFiles(root).foreach(f => assert(f.delete()))
    val viaText = ManifestTable.readCandidates(spark, root, pred)
    assert(viaCkpt.toSet === viaText.toSet,
      s"checkpoint prune diverged: ${viaCkpt.toSet} vs ${viaText.toSet}")
    assert(viaCkpt.size < 9, s"range predicate must prune: ${viaCkpt.size} files")
    val rowsText = ManifestTable.readWhere(spark, root, pred).orderBy("id").collect()
    assert(rowsCkpt.toSeq === rowsText.toSeq)
    assert(rowsCkpt.length === 200)
    // the file selection must actually ENGAGE the checkpoint (not silently
    // fall back): under v2's checkpoint, v4 holds none of the files
    // appended after v2 (the local filesystem's checksum sidecar goes, or
    // the swapped bytes would read as corrupt)
    val v4 = ManifestTable.append(spark, root, rows(4100, 100))
    val fresh = col("id") >= 4000L
    val ck4 = ckptOf(root, v4)
    new java.io.File(ck4.getParentFile, s".${ck4.getName}.crc").delete()
    Files.write(ck4.toPath, v2Ckpt)
    assert(ManifestTable.readCandidates(spark, root, fresh).isEmpty,
      "the file selection fell back to the text path")
    assert(ck4.delete())
    assert(ManifestTable.readCandidates(spark, root, fresh).size === 8)
  }

  test("the loader serves the checkpoint: v1's checkpoint under v2's name reads as v1") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rows(0, 30))
    val v1 = ManifestTable.writeManifestCheckpoint(spark, root)
    val v2 = ManifestTable.append(spark, root, rows(30, 30))
    Files.copy(ckptOf(root, v1).toPath, ckptOf(root, v2).toPath)
    val got = ManifestTable.read(spark, root, Some(v2)).orderBy("id").collect()
    assert(got.length === 30)
    assert(got.toSeq === ManifestTable.read(spark, root, Some(v1)).orderBy("id").collect().toSeq)
  }

  test("checkpoint = text: every field of the loaded snapshot agrees") {
    val root = freshRoot()
    // partitioned, stats over escaped strings and nulls, a txn mark, a
    // constraint, properties, deletion vectors
    val df = spark.range(0, 120).toDF("id")
      .withColumn("grp", (col("id") % 3).cast("long"))
      .withColumn("s", when(col("id") % 7 === 0, lit(null).cast("string"))
        .when(col("id") % 5 === 0, lit("50%\tdone"))
        .otherwise(concat(lit("s"), col("id").cast("string"))))
      .withColumn("d", col("id") * 1.5)
    ManifestTable.exactlyOnceAppend(spark, root, df.repartition(3), "app", 7L,
      partitionBy = Seq("grp"))
    ManifestTable.addConstraint(spark, root, "id_nonneg", "id >= 0")
    ManifestTable.setProperty(spark, root, ManifestTable.DvProperty, "true")
    ManifestTable.setProperty(spark, root, "custom.key", "a\tb %")
    ManifestTable.setProperty(spark, root, ManifestTable.CheckpointMinFilesProperty, "1")
    val v = ManifestTable.delete(spark, root, col("id") % 10 === 3L).get
    def fields(s: ManifestTable.Snapshot): Seq[Any] = Seq(s.version, s.files, s.stats, s.dvs,
      s.txns, s.schema, s.layout, s.constraints, s.properties, s.dataChange, s.cdcFiles)
    // the commit-time checkpoint (rendered from the committed state) and
    // the explicit one (rebuilt from the loaded text) both load as text does
    for (explicit <- Seq(false, true)) {
      if (explicit) ManifestTable.writeManifestCheckpoint(spark, root)
      assert(ckptOf(root, v).exists())
      val viaCkpt = ManifestTable.snapshot(spark, root)
      assert(viaCkpt.dvs.nonEmpty && viaCkpt.txns == Map("app" -> 7L) &&
        viaCkpt.stats.values.exists(_.contains("s")))
      assert(ckptOf(root, v).delete())
      val viaText = ManifestTable.snapshot(spark, root)
      fields(viaCkpt).zip(fields(viaText)).foreach { case (c, t) => assert(c == t) }
    }
  }

  test("checkpointed readWhere still applies deletion vectors") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rows(0, 200).coalesce(2))
    ManifestTable.setProperty(spark, root, "graft.enableDeletionVectors", "true")
    ManifestTable.setProperty(spark, root, ManifestTable.CheckpointMinFilesProperty, "1")
    ManifestTable.delete(spark, root, col("id") < 50L)
    assert(ckptFiles(root).nonEmpty)
    val got = ManifestTable.readWhere(spark, root, col("id") < 100L)
    assert(got.count() === 50)
    assert(got.agg(min("id")).head().getLong(0) === 50L)
  }

  test("corrupt checkpoint falls back to text silently") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rows(0, 30))
    ManifestTable.setProperty(spark, root, ManifestTable.CheckpointMinFilesProperty, "1")
    ManifestTable.append(spark, root, rows(30, 30))
    val ck = ckptFiles(root).maxBy(_.getName)
    java.nio.file.Files.write(ck.toPath, Array[Byte](1, 2, 3, 4)) // garbage
    assert(ManifestTable.read(spark, root).count() === 60)
  }

  test("explicit writeManifestCheckpoint + vacuum reclaims sidecars with their versions") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rows(0, 20))
    val v1 = ManifestTable.writeManifestCheckpoint(spark, root)
    assert(v1 === 1L)
    assert(ckptFiles(root).size === 1)
    ManifestTable.append(spark, root, rows(20, 20))
    ManifestTable.writeManifestCheckpoint(spark, root)
    assert(ckptFiles(root).size === 2)
    // vacuum keepVersions=1, no age guard: v1 text + sidecar both go
    ManifestTable.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L)
    assert(ckptFiles(root).size === 1)
    assert(ManifestTable.read(spark, root).count() === 40)
  }

  test("deletion vectors round-trip through the checkpoint") {
    val root = freshRoot()
    ManifestTable.append(spark, root, rows(0, 100).coalesce(1))
    ManifestTable.setProperty(spark, root, "graft.enableDeletionVectors", "true")
    ManifestTable.delete(spark, root, col("id") < 10L)
    ManifestTable.writeManifestCheckpoint(spark, root)
    // the checkpoint-served snapshot must keep applying the DV
    assert(ManifestTable.read(spark, root).count() === 90)
    assert(ManifestTable.read(spark, root).agg(min("id")).head().getLong(0) === 10L)
  }
}
