package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SHALLOW CLONE (Delta `CREATE TABLE … SHALLOW CLONE`): a zero-copy
  * table whose manifest points at the source's data files as absolute
  * entries, with copy-on-write mutations re-homing only what they touch
  * and vacuum strictly root-scoped on both sides. */
class ShallowCloneSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("clone").toString

  private def dataFilesUnder(root: String): Seq[String] = {
    val dir = new java.io.File(s"$root/data")
    if (!dir.exists()) Nil
    else {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).map(_.getPath).filter(_.endsWith(".parquet"))
    }
  }

  test("clone reads the source's rows without copying a byte") {
    val base = freshDir()
    val (src, dst) = (s"$base/src", s"$base/dst")
    ManifestTable.append(spark, src,
      spark.range(1000).toDF("id").withColumn("v", (col("id") * 3).cast("long")))
    val v = ManifestTable.shallowClone(spark, src, dst)
    assert(v == 1L)
    assert(dataFilesUnder(dst).isEmpty, "shallow clone must not copy data files")
    val out = ManifestTable.read(spark, dst)
    assert(out.count() == 1000)
    assert(out.agg(sum("v")).head.getLong(0) ==
      ManifestTable.read(spark, src).agg(sum("v")).head.getLong(0))
    assert(ManifestTable.history(spark, dst)
      .orderBy(col("version")).select("operation").head.getString(0) == "clone")
  }

  test("clone carries stats: readWhere prunes files it never copied") {
    val base = freshDir()
    val (src, dst) = (s"$base/src", s"$base/dst")
    ManifestTable.append(spark, src,
      spark.range(1000).toDF("id").withColumn("v", col("id").cast("long"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    ManifestTable.shallowClone(spark, src, dst)
    val opened = ManifestTable.readCandidates(spark, dst, col("id") === 42L)
    assert(opened.length == 1,
      s"cloned stats should prune 3 of 4 range files, got ${opened.length}")
    assert(ManifestTable.readWhere(spark, dst, col("id") === 42L).count() == 1)
  }

  test("partitioned clone: partition pruning, format(graft) scan, declared order") {
    val base = freshDir()
    val (src, dst) = (s"$base/src", s"$base/dst")
    val df = spark.range(300).toDF("id")
      .withColumn("p", (col("id") % 3).cast("string"))
      .select(col("p"), col("id")) // partition column NOT last
    ManifestTable.append(spark, src, df, partitionBy = Seq("p"))
    ManifestTable.shallowClone(spark, src, dst)
    val out = ManifestTable.readWhere(spark, dst, col("p") === "1")
    assert(out.columns.toSeq == Seq("p", "id"), "declared order survives the clone")
    assert(out.count() == 100)
    // the registered source path (GraftFileIndex) over absolute entries
    def numFilesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      df.collect()
      def find(p: SparkPlan): Option[FileSourceScanExec] = p match {
        case f: FileSourceScanExec => Some(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => find(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => find(s.plan)
        case other => other.children.iterator.flatMap(find(_)).nextOption()
      }
      find(df.queryExecution.executedPlan)
        .getOrElse(fail("no FileSourceScanExec in the executed plan"))
        .metrics("numFiles").value
    }
    val all = numFilesScanned(spark.read.format("graft").load(dst))
    val viaFormat = spark.read.format("graft").load(dst).filter(col("p") === "2")
    assert(viaFormat.count() == 100)
    assert(numFilesScanned(viaFormat) < all,
      "partition pruning must drop the other partitions' files")
  }

  test("copy-on-write on the clone: source untouched, unmutated files stay shared") {
    val base = freshDir()
    val (src, dst) = (s"$base/src", s"$base/dst")
    ManifestTable.append(spark, src,
      spark.range(1000).toDF("id").withColumn("v", col("id").cast("long"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    ManifestTable.shallowClone(spark, src, dst)
    val srcSumBefore = ManifestTable.read(spark, src).agg(sum("v")).head.getLong(0)
    // delete a narrow id range — stats localize it to one shared file
    ManifestTable.delete(spark, dst, col("id").between(100, 119))
    assert(ManifestTable.read(spark, dst).count() == 980)
    assert(ManifestTable.read(spark, src).count() == 1000, "source must never be written")
    assert(ManifestTable.read(spark, src).agg(sum("v")).head.getLong(0) == srcSumBefore)
    // only the rewritten file went local; three files still point at src
    val entries = ManifestTable.read(spark, dst).inputFiles.toSeq
    val (local, shared) = entries.partition(_.contains("/dst/"))
    assert(shared.size == 3, s"3 untouched files stay shared, got ${shared.size}")
    assert(local.nonEmpty, "the rewritten file lives under the clone root")
    // a keyed merge through the mixed (local + external) layout
    ManifestTable.merge(spark, dst,
      spark.range(500, 505).toDF("id").withColumn("v", lit(-7L)), Seq("id"))
    val merged = ManifestTable.read(spark, dst)
    assert(merged.filter(col("v") === -7L).count() == 5)
    assert(merged.count() == 980)
    assert(ManifestTable.read(spark, src).filter(col("v") === -7L).count() == 0,
      "a merge on the clone must not leak into the source")
  }

  test("compact materializes the clone fully local") {
    val base = freshDir()
    val (src, dst) = (s"$base/src", s"$base/dst")
    ManifestTable.append(spark, src,
      spark.range(400).toDF("id").withColumn("v", col("id").cast("long")).repartition(4))
    ManifestTable.shallowClone(spark, src, dst)
    ManifestTable.compact(spark, dst)
    val entries = ManifestTable.read(spark, dst).inputFiles.toSeq
    assert(entries.forall(_.contains("/dst/")), s"materialized clone still shares: $entries")
    assert(ManifestTable.read(spark, dst).count() == 400)
  }

  test("vacuum on the clone never reclaims source files; clone of a clone re-points") {
    val base = freshDir()
    val (src, c1, c2) = (s"$base/src", s"$base/c1", s"$base/c2")
    ManifestTable.append(spark, src,
      spark.range(200).toDF("id").withColumn("v", col("id").cast("long")).repartition(2))
    ManifestTable.shallowClone(spark, src, c1)
    ManifestTable.shallowClone(spark, c1, c2)
    // c2 points straight at src's files, not at c1
    assert(ManifestTable.read(spark, c2).inputFiles.forall(_.contains("/src/")))
    // churn c1 so vacuum has something to consider, then vacuum hard
    ManifestTable.delete(spark, c1, col("id") < 50)
    ManifestTable.vacuum(spark, c1, keepVersions = 1, minAgeMs = 0L)
    assert(ManifestTable.read(spark, src).count() == 200, "source data survives clone vacuum")
    assert(ManifestTable.read(spark, c2).count() == 200, "sibling clone survives too")
    assert(ManifestTable.read(spark, c1).count() == 150)
  }

  test("clone guards: non-empty target and version-as-of") {
    val base = freshDir()
    val (src, dst) = (s"$base/src", s"$base/dst")
    ManifestTable.append(spark, src, spark.range(10).toDF("id"))
    ManifestTable.append(spark, src, spark.range(10, 30).toDF("id"))
    // clone at version 1 sees only the first append
    ManifestTable.shallowClone(spark, src, dst, version = Some(1L))
    assert(ManifestTable.read(spark, dst).count() == 10)
    intercept[IllegalArgumentException] {
      ManifestTable.shallowClone(spark, src, dst)
    }
  }
}
