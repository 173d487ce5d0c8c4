package graft

import graft.sources.{IcebergTable, IcebergTransforms, IcebergWriter}
import org.apache.spark.sql.types._
import java.nio.file.Files

/** A transform-partitioned Iceberg append tags each data file with the
  * tuple its own rows produce: for every file, the manifest's partition
  * tuple equals the spec's transforms applied to the file's rows. Table-
  * driven over identity, `bucket[N]`, `truncate[W]`, year, month, day and
  * hour, crossed with the source types the writer accepts, NULLs,
  * hive-escaped and non-ASCII strings included. */
class IcebergTransformSpec extends SparkSpec {

  private def freshRoot(): String =
    new java.io.File(Files.createTempDirectory("icetransform").toFile, "t").getAbsolutePath

  /** (source type, SQL literals of its values, transforms besides identity). */
  private val cases: Seq[(DataType, Seq[String], Seq[String])] = Seq(
    (IntegerType, Seq("-7", "0", "3", "14", "-2147483648"), Seq("bucket[3]", "truncate[10]")),
    (LongType, Seq("-7", "0", "3", "14000000000", "9223372036854775807"),
      Seq("bucket[3]", "truncate[10]")),
    // non-ASCII values stage on a JVM whose path encoding is not UTF-8
    (StringType, Seq("a/b", "k=v", "50%", "x:y", "sp ace", "#?", "", "abc", "\u00fc#?",
      "\ud83d\ude00x").map(s => s"'$s'"),
      Seq("bucket[3]", "truncate[2]")),
    (DateType, Seq("DATE'1969-12-31'", "DATE'2024-02-29'", "DATE'2024-03-01'", "DATE'1500-06-01'"),
      Seq("year", "month", "day")),
    (TimestampType, Seq("TIMESTAMP'1969-12-31 23:59:59.999999'", "TIMESTAMP'2024-03-04 05:10:00'",
      "TIMESTAMP'2024-03-04 06:00:00.5'", "TIMESTAMP'2024-11-03 01:30:00'"),
      Seq("year", "month", "day", "hour")),
    (TimestampNTZType, Seq("TIMESTAMP_NTZ'1969-12-31 23:59:59.999999'",
      "TIMESTAMP_NTZ'2024-03-04 05:10:00'", "TIMESTAMP_NTZ'2024-03-04 06:00:00.5'"),
      Seq("year", "month", "day", "hour")),
    (BooleanType, Seq("true", "false"), Nil),
    (DoubleType, Seq("-1.5", "2.25", "1.0E10", "'NaN'"), Nil),
    (FloatType, Seq("-1.5", "2.25", "'Infinity'"), Nil))

  private def specName(t: String): String =
    if (IcebergTransforms.bucketWidth(t).isDefined) "c_bucket"
    else if (IcebergTransforms.truncateWidth(t).isDefined) "c_trunc"
    else s"c_$t"

  /** The partition tuple the spec assigns one row's value, in Catalyst's
    * internal form (dates epoch days, timestamps micros), NULLs left out
    * as the manifest leaves them out. */
  private def tupleOf(v: Any, dt: DataType, transforms: Seq[String]): Map[String, Any] =
    if (v == null) Map.empty
    else (("c" -> v) +: transforms.map { t =>
      specName(t) -> (IcebergTransforms.bucketWidth(t).flatMap(IcebergTransforms.bucket(v, dt, _))
        .orElse(IcebergTransforms.truncateWidth(t).flatMap(IcebergTransforms.truncate(v, dt, _)))
        .orElse(IcebergTransforms.temporal(v, dt, t))
        .getOrElse(fail(s"$t over $dt has no value for $v")))
    }).toMap

  /** Integers compare by value across boxed widths (a truncate over int
    * is stored as an int but computed as a long), floats bit for bit. */
  private def norm(m: Map[String, Any]): Map[String, Any] = m.map {
    case (k, n: java.lang.Float) => k -> java.lang.Double.doubleToLongBits(n.doubleValue)
    case (k, n: java.lang.Double) => k -> java.lang.Double.doubleToLongBits(n)
    case (k, n: java.lang.Number) => k -> BigInt(n.longValue)
    case kv => kv
  }

  cases.foreach { case (dt, literals, transforms) =>
    test(s"transform read-back: ${dt.simpleString} under identity" +
      transforms.map(", " + _).mkString) {
      val root = freshRoot()
      val values = literals :+ "NULL"
      val df = spark.sql(values.zipWithIndex.map { case (v, i) =>
        s"SELECT ${i}L AS id, CAST($v AS ${dt.sql}) AS c"
      }.mkString(" UNION ALL ")).repartition(2)
      IcebergWriter.create(spark, root, Seq(df), partitionCol = Some("c"),
        transforms = transforms.map("c" -> _))
      val files = IcebergTable.snapshot(spark, root).dataFiles
      assert(files.map(_.recordCount).sum === values.size.toLong)
      files.foreach { f =>
        val internal = dt match {
          case DateType => "unix_date(c)"
          case TimestampType => "unix_micros(c)"
          case _ => "c"
        }
        val rows = spark.read.parquet(f.path).selectExpr(internal).collect().map(_.get(0) match {
          case l: java.time.LocalDateTime => // TIMESTAMP_NTZ: local micros
            l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000
          case o => o
        })
        assert(rows.length.toLong === f.recordCount)
        rows.foreach { v =>
          assert(norm(tupleOf(v, dt, transforms)) === norm(f.partition),
            s"file ${f.path} is tagged ${f.partition} but holds $v")
        }
      }
    }
  }
}
