package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Generated columns (Delta `GENERATED ALWAYS AS (expr)`): stored as
  * `graft.generated.<col>` properties, computed on write when absent,
  * validated in-write when present, recomputed by UPDATE — and, the
  * headline, a generated PARTITION column prunes on predicates over its
  * SOURCE column via the monotone derivation (`ts` range → `day`
  * bounds). */
class GeneratedColumnsSpec extends SparkSpec {

  private def freshDir(): String = Files.createTempDirectory("gencol").toString + "/t"

  private def events(n: Int) = {
    // 4 distinct days, n rows
    spark.range(n).toDF("id")
      .withColumn("ts", expr("timestamp_micros(cast(1700000000000000 + id * 21600000000 as long))"))
      .withColumn("v", col("id") * 2)
  }

  private def mkGenTable(root: String): Unit = {
    ManifestTable.append(spark, root,
      events(0).withColumn("day", col("ts").cast("date")).select("id", "ts", "v", "day"),
      partitionBy = Seq("day"))
    ManifestTable.setProperty(spark, root,
      s"${ManifestTable.GeneratedPrefix}day", "CAST(ts AS DATE)")
  }

  test("a write missing the generated column gets it computed; partitions land right") {
    val root = freshDir()
    mkGenTable(root)
    ManifestTable.append(spark, root, events(40)) // no `day` column
    val out = ManifestTable.read(spark, root)
    assert(out.columns.contains("day"))
    assert(out.filter(col("day") =!= col("ts").cast("date")).count() == 0)
    assert(out.count() == 40)
    // hive layout actually partitioned by the computed day
    val days = new java.io.File(s"$root/data").listFiles().map(_.getName).filter(_.startsWith("day="))
    assert(days.length >= 4, s"expected >=4 day partitions, got ${days.toSeq}")
  }

  test("an explicit WRONG value for a generated column fails the write loud") {
    val root = freshDir()
    mkGenTable(root)
    val bad = events(5).withColumn("day", lit("1999-01-01").cast("date"))
    val e = intercept[Exception] { ManifestTable.append(spark, root, bad) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("__generated_day") || m.contains("constraint")),
      s"expected the generated-column check to fail, got: ${msgs(e).mkString(" | ")}")
    // correct explicit values pass
    ManifestTable.append(spark, root, events(5).withColumn("day", col("ts").cast("date")))
    assert(ManifestTable.read(spark, root).count() == 5)
  }

  test("a ts-range readWhere prunes day partitions the query never mentions") {
    val root = freshDir()
    mkGenTable(root)
    ManifestTable.append(spark, root, events(40))
    val allFiles = ManifestTable.snapshot(spark, root).files
    val lo = java.sql.Timestamp.valueOf("2023-11-14 23:00:00")
    val hi = java.sql.Timestamp.valueOf("2023-11-15 23:00:00")
    val pred = col("ts") >= lit(lo) && col("ts") <= lit(hi)
    val opened = ManifestTable.readCandidates(spark, root, pred)
    assert(opened.size < allFiles.size,
      s"derived day bounds should prune partitions: ${opened.size} of ${allFiles.size}")
    assert(opened.forall(f => f.contains("day=2023-11-14") || f.contains("day=2023-11-15")),
      s"survivors outside the derived day range: $opened")
    // and the rows are exactly the predicate's
    val got = ManifestTable.readWhere(spark, root, pred).count()
    val want = ManifestTable.read(spark, root).filter(pred).count()
    assert(got == want && got > 0)
  }

  test("DELETE localizes a ts range to its day partitions when ts carries no stats") {
    val root = freshDir()
    // 13 stats-eligible columns ahead of `ts` take all 12 stats slots, so
    // only the derived `day` conjuncts can prune a `ts` predicate
    def wide(n: Int) = events(n).select(
      Seq(col("id")) ++ (1 to 12).map(i => (col("id") + i).as(s"c$i")) ++
        Seq(col("ts"), col("v")): _*)
    ManifestTable.append(spark, root,
      wide(0).withColumn("day", col("ts").cast("date")), partitionBy = Seq("day"))
    ManifestTable.setProperty(spark, root,
      s"${ManifestTable.GeneratedPrefix}day", "CAST(ts AS DATE)")
    ManifestTable.append(spark, root, wide(40))
    val all = ManifestTable.snapshot(spark, root).files
    val pred = col("ts") >= expr("TIMESTAMP '2023-11-15 00:00:00'") &&
      col("ts") <= expr("TIMESTAMP '2023-11-15 23:59:59'")
    val opened = ManifestTable.deleteCandidates(spark, root, pred)
    assert(opened.nonEmpty && opened.forall(_.contains("day=2023-11-15")),
      s"DELETE must open only the 2023-11-15 files: $opened of ${all.size}")
    val before = ManifestTable.read(spark, root).collect().toSet
    val matching = ManifestTable.read(spark, root).filter(pred).collect().toSet
    assert(matching.nonEmpty)
    assert(ManifestTable.delete(spark, root, pred).isDefined)
    val after = ManifestTable.read(spark, root).collect().toSet
    assert(before -- after == matching)
    assert(after.size == before.size - matching.size)
  }

  test("year() generation prunes too; non-monotonic shapes just skip derivation") {
    val root = freshDir()
    ManifestTable.append(spark, root,
      spark.range(0).toDF("id")
        .withColumn("ts", col("id").cast("timestamp"))
        .withColumn("y", lit(1970)),
      partitionBy = Seq("y"))
    ManifestTable.setProperty(spark, root, s"${ManifestTable.GeneratedPrefix}y", "year(ts)")
    val df = spark.range(20).toDF("id")
      .withColumn("ts", expr("timestamp_micros(cast(1500000000000000 + id * 31536000000000 as long))"))
    ManifestTable.append(spark, root, df)
    val all = ManifestTable.snapshot(spark, root).files.size
    val opened = ManifestTable.readCandidates(spark, root,
      col("ts") >= lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    assert(opened.size < all, s"year derivation should prune, got $opened of $all")
    assert(opened.forall(f => !f.contains("y=2017") && !f.contains("y=2018")))
  }

  test("UPDATE recomputes generated columns and refuses direct SET") {
    val root = freshDir()
    mkGenTable(root)
    ManifestTable.append(spark, root, events(8))
    intercept[IllegalArgumentException] {
      ManifestTable.update(spark, root, col("id") === 1L,
        Map("day" -> lit("1999-01-01").cast("date")))
    }
    // shifting ts by 2 days moves the row's generated day
    ManifestTable.update(spark, root, col("id") === 1L,
      Map("ts" -> (col("ts") + expr("INTERVAL 2 DAYS"))))
    val row = ManifestTable.read(spark, root).filter(col("id") === 1L).head
    assert(row.getAs[java.sql.Date]("day").toString ==
      row.getAs[java.sql.Timestamp]("ts").toLocalDateTime.toLocalDate.toString)
  }

  test("MERGE computes the generated column for a source that omits it") {
    val root = freshDir()
    mkGenTable(root)
    ManifestTable.append(spark, root, events(8))
    val updates = events(10).filter(col("id") >= 6L) // ids 6..9: 2 updates + 2 inserts
    ManifestTable.merge(spark, root, updates, Seq("id"))
    val out = ManifestTable.read(spark, root)
    assert(out.count() == 10)
    assert(out.filter(col("day") =!= col("ts").cast("date")).count() == 0)
  }

  test("SQL CREATE TABLE ... GENERATED ALWAYS AS round-trips through the catalog") {
    val root = freshDir()
    spark.sql(
      s"""CREATE TABLE graft.`$root` (
         |  id BIGINT, ts TIMESTAMP, v BIGINT,
         |  day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))
         |) PARTITIONED BY (day)""".stripMargin)
    val props = spark.sql(s"DESCRIBE DETAIL graft.`$root`").head.getString(7)
    assert(props.contains(s"${ManifestTable.GeneratedPrefix}day"),
      s"generation expression should be a table property, got $props")
    ManifestTable.append(spark, root, events(12)) // no day column
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$root` WHERE day = ts :: date")
      .head.getLong(0) == 12)
  }
}
