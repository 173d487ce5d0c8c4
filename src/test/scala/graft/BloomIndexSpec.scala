package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Per-file Bloom point-lookup indexes (`graft.bloom.<col>`): equality /
  * IN pruning on high-cardinality unsorted columns where min/max ranges
  * cannot skip anything, maintained by every write verb, lifecycle-tied
  * to the data files they index. */
class BloomIndexSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("bloom").toString + "/t"

  /** Hash-distributed string keys: every file's (min, max) range spans
    * the whole key space, so stats skipping keeps all files and any
    * pruning below is the bloom's. */
  private def seed(root: String, n: Int = 4000, files: Int = 8): Unit =
    ManifestTable.append(spark, root,
      spark.range(n).toDF("id")
        .withColumn("k", concat(lit("key-"), col("id")))
        .withColumn("v", col("id") * 2)
        .repartition(files, col("k")))

  test("equality pruning on an unsorted high-cardinality key") {
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(1).toDF("id")
      .withColumn("k", lit("boot")).withColumn("v", lit(0L)))
    ManifestTable.setProperty(spark, root, "graft.bloom.k", "0.01")
    ManifestTable.delete(spark, root, col("k") === "boot")
    seed(root)
    val all = ManifestTable.snapshot(spark, root).files
    // min/max alone keeps every file…
    val statsOnly = ManifestTable.readCandidates(spark, root, col("v") >= 0L)
    assert(statsOnly.size == all.size)
    // …the bloom opens ~1 of 8
    val opened = ManifestTable.readCandidates(spark, root, col("k") === "key-1234")
    assert(opened.size < all.size / 2,
      s"bloom should prune most of ${all.size} files, opened ${opened.size}")
    val row = ManifestTable.readWhere(spark, root, col("k") === "key-1234")
    assert(row.select("v").head.getLong(0) == 2468L)
    // absent key: typically zero files open, never a wrong row
    val absent = ManifestTable.readWhere(spark, root, col("k") === "no-such-key")
    assert(absent.count() == 0)
  }

  test("IN pruning and int-literal cast parity on a bigint column") {
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(1).toDF("id")
      .withColumn("k", lit("boot")).withColumn("v", lit(0L)))
    ManifestTable.setProperty(spark, root, "graft.bloom.id", "true")
    ManifestTable.delete(spark, root, col("k") === "boot")
    // id hashed across files: ranges overlap, only the bloom prunes
    ManifestTable.append(spark, root,
      spark.range(4000).toDF("id")
        .withColumn("k", concat(lit("key-"), col("id")))
        .withColumn("v", col("id") * 2)
        .repartition(8, org.apache.spark.sql.functions.pmod(hash(col("id")), lit(8))))
    val all = ManifestTable.snapshot(spark, root).files
    val inOpened = ManifestTable.readCandidates(spark, root,
      col("id").isin(7L, 1234L))
    assert(inOpened.size < all.size,
      s"IN should bloom-prune, opened ${inOpened.size} of ${all.size}")
    assert(ManifestTable.readWhere(spark, root, col("id").isin(7L, 1234L)).count() == 2)
    // an INT literal over the BIGINT column must hash identically
    val intLit = ManifestTable.readCandidates(spark, root,
      col("id") === lit(1234))
    assert(intLit.size < all.size, "int literal should cast-then-hash and still prune")
    assert(ManifestTable.readWhere(spark, root, col("id") === lit(1234))
      .select("v").head.getLong(0) == 2468L)
  }

  test("a bigint literal over an int column (analyzer-widened) still bloom-prunes") {
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(1).toDF("id")
      .withColumn("ik", lit(-1)).withColumn("v", lit(0L)))
    ManifestTable.setProperty(spark, root, "graft.bloom.ik", "true")
    ManifestTable.delete(spark, root, col("ik") === -1)
    ManifestTable.append(spark, root,
      spark.range(4000).toDF("id")
        .withColumn("ik", col("id").cast("int"))
        .withColumn("v", col("id") * 2)
        .repartition(8, org.apache.spark.sql.functions.pmod(hash(col("id")), lit(8))))
    val all = ManifestTable.snapshot(spark, root).files
    // resolves to cast(ik as bigint) = 1234L: the kernel hands the bloom 1234 as an int
    val opened = ManifestTable.readCandidates(spark, root, col("ik") === lit(1234L))
    assert(opened.size < all.size,
      s"a widened equality should bloom-prune, opened ${opened.size} of ${all.size}")
    assert(ManifestTable.readWhere(spark, root, col("ik") === lit(1234L))
      .select("v").head.getLong(0) == 2468L)
    assert(ManifestTable.readWhere(spark, root, col("ik").isin(7L, 1234L)).count() == 2)
  }

  test("delete localization bloom-prunes; compaction rebuilds sidecars") {
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(1).toDF("id")
      .withColumn("k", lit("boot")).withColumn("v", lit(0L)))
    ManifestTable.setProperty(spark, root, "graft.bloom.k", "0.01")
    ManifestTable.delete(spark, root, col("k") === "boot")
    seed(root)
    val all = ManifestTable.snapshot(spark, root).files
    val touched = ManifestTable.deleteCandidates(spark, root, col("k") === "key-99")
    assert(touched.size < all.size,
      s"delete localization should bloom-prune, got ${touched.size} of ${all.size}")
    ManifestTable.delete(spark, root, col("k") === "key-99")
    assert(ManifestTable.read(spark, root).count() == 3999)
    // compact rewrites everything — fresh files get fresh sidecars
    ManifestTable.compact(spark, root, targetFileMb = 1)
    val after = ManifestTable.readCandidates(spark, root, col("k") === "key-1234")
    val compacted = ManifestTable.snapshot(spark, root).files
    assert(after.size <= compacted.size)
    assert(ManifestTable.readWhere(spark, root, col("k") === "key-1234")
      .select("v").head.getLong(0) == 2468L)
  }

  test("sidecar lifecycle: vacuum keeps live blooms, reclaims dead ones; missing degrades") {
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(1).toDF("id")
      .withColumn("k", lit("boot")).withColumn("v", lit(0L)))
    ManifestTable.setProperty(spark, root, "graft.bloom.k", "0.01")
    ManifestTable.delete(spark, root, col("k") === "boot")
    seed(root, n = 1000, files = 4)
    def sidecars(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/data")).filter(_.getName.endsWith(".bloom"))
    }
    val before = sidecars()
    assert(before.nonEmpty, "seed should have written bloom sidecars")
    ManifestTable.overwrite(spark, root,
      spark.range(500).toDF("id")
        .withColumn("k", concat(lit("key-"), col("id")))
        .withColumn("v", col("id") * 2).repartition(2, col("k")))
    ManifestTable.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L)
    val after = sidecars()
    assert(after.nonEmpty, "live files keep their sidecars through vacuum")
    assert(!after.exists(before.toSet), "vacuumed files release their sidecars")
    // deleting a live sidecar degrades to open-the-file, never mis-reads
    after.foreach(_.delete())
    val all = ManifestTable.snapshot(spark, root).files
    val opened = ManifestTable.readCandidates(spark, root, col("k") === "key-123")
    assert(opened.size == all.size, "no sidecar = no bloom pruning")
    assert(ManifestTable.readWhere(spark, root, col("k") === "key-123")
      .select("v").head.getLong(0) == 246L)
  }

  test("column mapping: the bloom follows the stable physical name across a rename") {
    val root = freshRoot()
    ManifestTable.append(spark, root, spark.range(1).toDF("id")
      .withColumn("k", lit("boot")).withColumn("v", lit(0L)))
    ManifestTable.setProperty(spark, root, "graft.bloom.k", "0.01")
    ManifestTable.enableColumnMapping(spark, root)
    ManifestTable.delete(spark, root, col("k") === "boot")
    seed(root)
    ManifestTable.renameColumn(spark, root, "k", "doc_key")
    // the bloom CONFIG follows the logical rename automatically (the
    // sidecars were always keyed by the stable physical name)
    assert(ManifestTable.properties(spark, root).contains("graft.bloom.doc_key"))
    assert(!ManifestTable.properties(spark, root).contains("graft.bloom.k"))
    val all = ManifestTable.snapshot(spark, root).files
    val opened = ManifestTable.readCandidates(spark, root, col("doc_key") === "key-1234")
    assert(opened.size < all.size / 2,
      s"bloom keyed by physical name should survive the rename, opened ${opened.size}")
    assert(ManifestTable.readWhere(spark, root, col("doc_key") === "key-1234")
      .select("v").head.getLong(0) == 2468L)
  }
}
