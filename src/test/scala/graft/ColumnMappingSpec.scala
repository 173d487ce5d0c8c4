package graft

import graft.sources.{DeltaLake, ManifestTable}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Name-based column mapping (Delta `delta.columnMapping.mode = name`
  * parity): stable physical names in schema-field metadata make RENAME /
  * DROP COLUMN metadata-only commits, a re-added name can never
  * resurrect dropped bytes, and the mirror republishes the mapping so
  * Delta readers resolve the same logical schema. */
class ColumnMappingSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("colmap").toString + "/t"

  private def seed(root: String): Unit =
    ManifestTable.append(spark, root,
      spark.range(100).toDF("id")
        .withColumn("v", (col("id") * 2).cast("long"))
        .withColumn("s", concat(lit("u"), col("id"))))

  test("rename is metadata-only: same files, old bytes read under the new name") {
    val root = freshRoot()
    seed(root)
    val filesBefore = ManifestTable.snapshot(spark, root).files
    ManifestTable.enableColumnMapping(spark, root)
    ManifestTable.renameColumn(spark, root, "v", "value")
    val st = ManifestTable.snapshot(spark, root)
    assert(st.files == filesBefore, "rename must not touch data files")
    val out = ManifestTable.read(spark, root)
    assert(out.columns.toSeq == Seq("id", "value", "s"))
    assert(out.agg(sum("value")).head.getLong(0) == (0L until 100L).map(_ * 2).sum)
    // time travel before the rename still serves the old name
    val old = ManifestTable.read(spark, root, version = Some(1L))
    assert(old.columns.toSeq == Seq("id", "v", "s"))
    // the mapping is a storage detail: no mapping metadata leaks out
    assert(out.schema.fields.forall(f => !f.metadata.contains(ManifestTable.PhysNameKey)))
  }

  test("stats re-key on rename: readWhere still prunes on the new name") {
    val root = freshRoot()
    ManifestTable.append(spark, root,
      spark.range(1000).toDF("id").withColumn("v", col("id"))
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    ManifestTable.enableColumnMapping(spark, root)
    ManifestTable.renameColumn(spark, root, "id", "event_id")
    val opened = ManifestTable.readCandidates(spark, root, col("event_id") === 42L)
    assert(opened.length == 1, s"renamed-column stats should prune to 1 file, got ${opened.length}")
    assert(ManifestTable.readWhere(spark, root, col("event_id") === 42L).count() == 1)
  }

  test("writes after a rename round-trip (append, delete, merge)") {
    val root = freshRoot()
    seed(root)
    ManifestTable.enableColumnMapping(spark, root)
    ManifestTable.renameColumn(spark, root, "v", "value")
    ManifestTable.append(spark, root,
      spark.range(100, 120).toDF("id")
        .withColumn("value", (col("id") * 2).cast("long"))
        .withColumn("s", concat(lit("u"), col("id"))))
    assert(ManifestTable.read(spark, root).count() == 120)
    ManifestTable.delete(spark, root, col("value") >= 200L)
    assert(ManifestTable.read(spark, root).count() == 100)
    ManifestTable.merge(spark, root,
      spark.range(5).toDF("id").withColumn("value", lit(-1L))
        .withColumn("s", lit("merged")), Seq("id"))
    val merged = ManifestTable.read(spark, root).filter(col("s") === "merged")
    assert(merged.count() == 5 && merged.agg(sum("value")).head.getLong(0) == -5L)
    // physical bytes of every post-mapping file spell the stable name "v"
    val physCols = spark.read.parquet(
      ManifestTable.snapshot(spark, root).files
        .map(r => s"$root/$r"): _*).columns.toSet
    assert(physCols == Set("id", "v", "s"), s"files must keep physical names, got $physCols")
  }

  test("drop then re-add the same name never resurrects the dropped bytes") {
    val root = freshRoot()
    seed(root)
    ManifestTable.enableColumnMapping(spark, root)
    ManifestTable.dropColumn(spark, root, "v")
    assert(ManifestTable.read(spark, root).columns.toSeq == Seq("id", "s"))
    ManifestTable.addColumn(spark, root, "v", org.apache.spark.sql.types.LongType)
    val out = ManifestTable.read(spark, root)
    assert(out.columns.toSeq == Seq("id", "s", "v"))
    assert(out.filter(col("v").isNotNull).count() == 0,
      "a re-added name must read null, not the dropped column's bytes")
    // implicit merge-adds stay refused on mapped tables
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        spark.range(3).toDF("id").withColumn("s", lit("x"))
          .withColumn("v", lit(1L)).withColumn("extra", lit(2L)),
        mergeSchema = true)
    }
    assert(e.getMessage.contains("addColumn"))
  }

  test("guards: partition columns, constraints, unmapped tables, mapping is one-way") {
    val root = freshRoot()
    ManifestTable.append(spark, root,
      spark.range(50).toDF("id").withColumn("p", (col("id") % 2).cast("string")),
      partitionBy = Seq("p"))
    // rename without mapping: loud, names the upgrade
    val e0 = intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, root, "id", "x")
    }
    assert(e0.getMessage.contains("enableColumnMapping"))
    ManifestTable.enableColumnMapping(spark, root)
    val e1 = intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, root, "p", "q")
    }
    assert(e1.getMessage.contains("partition column"))
    ManifestTable.addConstraint(spark, root, "id_pos", "id >= 0")
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.dropColumn(spark, root, "id")
    }
    assert(e2.getMessage.contains("id_pos"))
    val e3 = intercept[IllegalArgumentException] {
      ManifestTable.unsetProperty(spark, root, ManifestTable.MappingProperty)
    }
    assert(e3.getMessage.contains("one-way"))
    // enable is idempotent
    val v = ManifestTable.enableColumnMapping(spark, root)
    assert(v == ManifestTable.currentVersion(spark, root).get)
  }

  test("change feed is rename-stable: rows from before the rename serve the new name") {
    val root = freshRoot()
    ManifestTable.append(spark, root,
      spark.range(10).toDF("id").withColumn("v", col("id") * 10))
    ManifestTable.enableColumnMapping(spark, root)
    // row-exact CDC so the delete contributes exactly one change row
    ManifestTable.setProperty(spark, root, ManifestTable.CdcProperty, "true")
    ManifestTable.renameColumn(spark, root, "v", "value")
    ManifestTable.delete(spark, root, col("value") === 30L)
    val feed = ManifestTable.readChangeFeed(spark, root, 0L,
      ManifestTable.currentVersion(spark, root).get)
    assert(feed.columns.take(2).toSeq == Seq("id", "value"))
    // v1's inserts (written under the old logical name) align by physical
    val inserts = feed.filter(col(ManifestTable.ChangeTypeCol) === "insert")
    assert(inserts.count() == 10)
    assert(inserts.agg(sum("value")).head.getLong(0) == (0L until 10L).map(_ * 10).sum)
    val deletes = feed.filter(col(ManifestTable.ChangeTypeCol) === "delete")
    assert(deletes.select("value").head.getLong(0) == 30L)
  }

  test("SQL face: ALTER TABLE RENAME / ADD / DROP COLUMN through the graft catalog") {
    val root = freshRoot()
    seed(root)
    spark.sql(s"ALTER TABLE graft.`$root` SET TBLPROPERTIES " +
      s"('${ManifestTable.MappingProperty}'='name')")
    spark.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN v TO value")
    assert(spark.sql(s"SELECT value FROM graft.`$root` WHERE id = 3").head.getLong(0) == 6L)
    spark.sql(s"ALTER TABLE graft.`$root` ADD COLUMN note STRING")
    assert(spark.table(s"graft.`$root`").columns.toSeq == Seq("id", "value", "s", "note"))
    spark.sql(s"ALTER TABLE graft.`$root` DROP COLUMN note")
    assert(spark.table(s"graft.`$root`").columns.toSeq == Seq("id", "value", "s"))
    // format("graft") serves the mapped table through the translated path
    val viaFormat = spark.read.format("graft").load(root)
    assert(viaFormat.columns.toSeq == Seq("id", "value", "s"))
    assert(viaFormat.filter(col("value") === 6L).select("id").head.getLong(0) == 3L)
  }

  test("mirror republishes the mapping: Delta readers resolve renamed columns") {
    val root = freshRoot()
    seed(root)
    ManifestTable.enableColumnMapping(spark, root)
    ManifestTable.renameColumn(spark, root, "v", "value")
    DeltaLake.mirror(spark, root)
    val viaDelta = DeltaLake.read(spark, root)
    assert(viaDelta.columns.toSeq == Seq("id", "value", "s"))
    assert(viaDelta.agg(sum("value")).head.getLong(0) == (0L until 100L).map(_ * 2).sum)
    // rename AFTER the first mirror: the next mirror commits fresh metaData
    ManifestTable.renameColumn(spark, root, "s", "subject")
    DeltaLake.mirror(spark, root)
    assert(DeltaLake.read(spark, root).columns.toSeq == Seq("id", "value", "subject"))
    // checkpoint keeps the feature + configuration
    DeltaLake.writeCheckpoint(spark, root)
    assert(DeltaLake.read(spark, root).columns.toSeq == Seq("id", "value", "subject"))
  }
}
