package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Small-file management (Delta's `delta.autoOptimize.*` pair plus
  * bin-packing OPTIMIZE): at 100 TB an OPTIMIZE must scale with the
  * small-file debt, never the table — and the debt is best never
  * created (optimizeWrite) or paid down continuously (autoCompact). */
class AutoOptimizeSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("autoopt").toString + "/t"

  private def files(root: String): Seq[String] =
    ManifestTable.snapshot(spark, root).files

  test("bin-packing compact rewrites only the small files") {
    val root = freshDir()
    // one big file (~? MB) + three slivers
    ManifestTable.append(spark, root,
      spark.range(2000000).toDF("id").withColumn("v", col("id") * 7).coalesce(1))
    (0 until 3).foreach { i =>
      ManifestTable.append(spark, root,
        spark.range(i * 10, i * 10 + 10).toDF("id").withColumn("v", col("id") * 7)
          .coalesce(1))
    }
    val before = files(root)
    assert(before.size == 4)
    val big = before.head // first append's file
    val vPre = ManifestTable.currentVersion(spark, root).get
    val v = ManifestTable.compact(spark, root, onlySmallerThanMb = Some(1))
    assert(v == vPre + 1)
    val after = files(root)
    assert(after.contains(big), "the adequately-sized file must be carried untouched")
    assert(after.size == 2, s"three slivers pack into one file, got ${after.size}")
    assert(ManifestTable.read(spark, root).count() == 2000030)
    // dataChange:false — invisible to incremental readers
    assert(ManifestTable.changesBetween(spark, root, vPre, v).count() == 0)
  }

  test("bin-packing with fewer than two small files is a no-op") {
    val root = freshDir()
    ManifestTable.append(spark, root, spark.range(1000000).toDF("id").coalesce(1))
    val v = ManifestTable.currentVersion(spark, root).get
    assert(ManifestTable.compact(spark, root, onlySmallerThanMb = Some(1)) == v)
  }

  test("bin-packing and ZORDER together are refused") {
    val root = freshDir()
    ManifestTable.append(spark, root,
      spark.range(100).toDF("id").withColumn("v", col("id")))
    intercept[IllegalArgumentException] {
      ManifestTable.compact(spark, root, zorderBy = Seq("id", "v"),
        onlySmallerThanMb = Some(1))
    }
  }

  test("optimizeWrite sizes a scattered append into few files") {
    val root = freshDir()
    ManifestTable.append(spark, root, spark.range(10).toDF("id"))
    // without the property a 32-partition micro-batch stages 32 slivers
    ManifestTable.append(spark, root, spark.range(10, 2000).toDF("id").repartition(32))
    assert(files(root).size > 20)
    ManifestTable.setProperty(spark, root, ManifestTable.OptimizeWriteProperty, "true")
    val before = files(root).size
    ManifestTable.append(spark, root, spark.range(2000, 4000).toDF("id").repartition(32))
    val added = files(root).size - before
    assert(added == 1, s"a few-KB append should land ONE file under optimizeWrite, got $added")
    assert(ManifestTable.read(spark, root).count() == 4000)
  }

  test("autoCompact pays the debt down once the threshold is crossed") {
    val root = freshDir()
    spark.conf.set(ManifestTable.AutoCompactMinFilesKey, "5")
    try {
      ManifestTable.append(spark, root, spark.range(10).toDF("id"))
      ManifestTable.setProperty(spark, root, ManifestTable.AutoCompactProperty, "true")
      (1 until 6).foreach { i =>
        ManifestTable.append(spark, root,
          spark.range(i * 10, i * 10 + 10).toDF("id").coalesce(1))
      }
      val n = files(root).size
      assert(n <= 2, s"auto-compact should have packed the slivers, got $n files")
      assert(ManifestTable.read(spark, root).count() == 60)
      assert(ManifestTable.history(spark, root)
        .filter(col("operation") === "compact").count() >= 1)
    } finally spark.conf.unset(ManifestTable.AutoCompactMinFilesKey)
  }

  test("autoCompact rides the streaming exactly-once append path too") {
    val root = freshDir()
    spark.conf.set(ManifestTable.AutoCompactMinFilesKey, "4")
    try {
      ManifestTable.append(spark, root, spark.range(5).toDF("id"))
      ManifestTable.setProperty(spark, root, ManifestTable.AutoCompactProperty, "true")
      (0 until 5).foreach { b =>
        ManifestTable.exactlyOnceAppend(spark, root,
          spark.range(100 + b * 10, 100 + b * 10 + 10).toDF("id").coalesce(1),
          "autoopt-stream", b.toLong)
      }
      assert(files(root).size <= 2)
      assert(ManifestTable.read(spark, root).count() == 55)
      // replay stays a no-op (the txn mark survived the compactions)
      assert(ManifestTable.exactlyOnceAppend(spark, root,
        spark.range(3).toDF("id"), "autoopt-stream", 4L).isEmpty)
    } finally spark.conf.unset(ManifestTable.AutoCompactMinFilesKey)
  }
}
