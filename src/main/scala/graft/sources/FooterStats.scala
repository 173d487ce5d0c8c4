package graft.sources

import graft.sources.ManifestTable.ColStat
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.types._

/** Per-file column statistics read from data-file FOOTERS — the one
  * reader behind graft commits ([[ManifestTable]] staging), Iceberg
  * commits ([[IcebergWriter]] appends) and adoption
  * ([[IcebergWriter.addFiles]], [[DeltaLake.convertToDelta]]). A footer
  * read is a metadata read: no caller scans data to compute stats.
  *
  * Values come back as graft stat strings (integers and decimals plain,
  * booleans `true`/`false`, dates ISO, timestamps epoch micros, floats
  * `toString`), the form [[ManifestTable.GraftStatsFacts]],
  * `DeltaLake.deltaStatsJson` and `IcebergWriter.statBound` consume.
  *
  * Soundness: a bound is kept only when the footer states the table
  * type's value space exactly (see [[parquetTypeOk]]); any other column
  * keeps its null and row counts but gets no bounds, so the file never
  * mis-prunes. A NaN never reaches a bound: parquet-mr's read-side
  * builder drops both bounds of a float/double chunk whose min or max is
  * NaN. Runs on the driver or inside executors: everything is static. */
private[graft] object FooterStats extends Serializable {

  /** The recursive data-file walk every adoption surface shares
    * (convertToDelta, the add_files CALL face, the board key): hidden
    * entries skip whether dir OR file — a stray `.part-…-retry`
    * artifact from an aborted committer is invisible to every other
    * reader of the directory, so registering it would serve rows
    * nobody else sees; `_`-prefixed entries are metadata
    * (`_delta_log`, `_SUCCESS`). */
  private[graft] def listDataFiles(fs: org.apache.hadoop.fs.FileSystem, root: HPath,
      exts: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(root).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Nil
      else if (st.isDirectory) listDataFiles(fs, st.getPath, exts)
      else if (exts.exists(name.endsWith)) Seq(st) else Nil
    }

  /** Table columns whose stats Iceberg appends and adoption publish.
    * Timestamps are left out: adoption reads files from arbitrary
    * writers, whose INT96 and pre-ORC-135 timestamp stats are
    * zone-hazardous. */
  def statTypes(schema: StructType): Map[String, DataType] =
    schema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == FloatType || f.dataType == DoubleType ||
        f.dataType == StringType || f.dataType == DateType =>
        f.name -> f.dataType
    }.toMap

  /** (recordCount, per-column stats) from one parquet footer, for the
    * top-level columns in `want` that every row group holds. Throws on
    * an unreadable footer. */
  def parquet(conf: Configuration, p: HPath, want: Map[String, DataType])
      : (Long, Map[String, ColStat]) = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      val n = r.getRecordCount
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val out = want.flatMap { case (name, dt) =>
        val chunks = blocks.flatMap(_.getColumns.asScala.find(
          c => c.getPath.size == 1 && c.getPath.toDotString == name))
        if (chunks.size != blocks.size) None // absent from some row group
        else {
          val stats = chunks.map(_.getStatistics)
          val nulls =
            if (stats.forall(s => s != null && s.isNumNullsSet)) Some(stats.map(_.getNumNulls).sum)
            else None
          // every row group must carry valid stats: parquet-mr hands
          // corrupted legacy binary stats (PARQUET-251) back as empty
          val bounded = chunks.nonEmpty && parquetTypeOk(chunks.head.getPrimitiveType, dt) &&
            stats.forall(s => s != null && s.hasNonNullValue)
          val (lo, hi) =
            if (!bounded) (None, None)
            else {
              val ord = Ordering.comparatorToOrdering(
                stats.head.comparator.asInstanceOf[java.util.Comparator[AnyRef]])
              (render(stats.map(_.genericGetMin.asInstanceOf[AnyRef]).min(ord), dt),
                render(stats.map(_.genericGetMax.asInstanceOf[AnyRef]).max(ord), dt))
            }
          Some(name -> ColStat(lo, hi, nulls, Some(n)))
        }
      }
      (n, out)
    } finally r.close()
  }

  /** Does the parquet physical+logical type state exactly the table
    * type's value space? Signed INT32/INT64 no wider than the column,
    * BOOLEAN, STRING-annotated BINARY, DATE, TIMESTAMP(MICROS, UTC) for
    * TimestampType (what [[ManifestTable]]'s staging write produces; INT96
    * and milli units refuse), DECIMAL of the same precision and scale,
    * unannotated FLOAT/DOUBLE. Unsigned ints, enums, JSON and the like
    * refuse. */
  private def parquetTypeOk(pt: org.apache.parquet.schema.PrimitiveType,
      dt: DataType): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val lt = pt.getLogicalTypeAnnotation
    def signedInt(physical: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
        width: Int) = pt.getPrimitiveTypeName == physical && (lt match {
      case null => (if (physical == INT32) 32 else 64) <= width
      case i: IntLogicalTypeAnnotation => i.isSigned && i.getBitWidth <= width
      case _ => false
    })
    dt match {
      case ByteType => signedInt(INT32, 8)
      case ShortType => signedInt(INT32, 16)
      case IntegerType => signedInt(INT32, 32)
      case LongType => signedInt(INT32, 64) || signedInt(INT64, 64)
      case BooleanType => pt.getPrimitiveTypeName == BOOLEAN
      case StringType => pt.getPrimitiveTypeName == BINARY &&
        lt.isInstanceOf[StringLogicalTypeAnnotation]
      case DateType => pt.getPrimitiveTypeName == INT32 && lt.isInstanceOf[DateLogicalTypeAnnotation]
      case TimestampType => pt.getPrimitiveTypeName == INT64 && (lt match {
        case t: TimestampLogicalTypeAnnotation =>
          t.getUnit == TimeUnit.MICROS && t.isAdjustedToUTC
        case _ => false
      })
      case d: DecimalType => lt match {
        case dec: DecimalLogicalTypeAnnotation =>
          dec.getScale == d.scale && dec.getPrecision == d.precision
        case _ => false
      }
      case FloatType => pt.getPrimitiveTypeName == FLOAT && lt == null
      case DoubleType => pt.getPrimitiveTypeName == DOUBLE && lt == null
      case _ => false
    }
  }

  /** One footer value of a [[parquetTypeOk]] column as a graft stat
    * string; None for a value of an unexpected shape or a NaN. */
  private def render(v: AnyRef, dt: DataType): Option[String] = (dt, v) match {
    case (StringType, b: org.apache.parquet.io.api.Binary) => Some(b.toStringUsingUTF8)
    case (DateType, i: java.lang.Integer) => Some(java.time.LocalDate.ofEpochDay(i.longValue).toString)
    case (d: DecimalType, i: java.lang.Integer) =>
      Some(java.math.BigDecimal.valueOf(i.longValue, d.scale).toPlainString)
    case (d: DecimalType, l: java.lang.Long) =>
      Some(java.math.BigDecimal.valueOf(l.longValue, d.scale).toPlainString)
    case (d: DecimalType, b: org.apache.parquet.io.api.Binary) =>
      Some(new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale).toPlainString)
    case (FloatType, f: java.lang.Float) => Some(f.toString).filterNot(_ => f.isNaN)
    case (DoubleType, x: java.lang.Double) => Some(x.toString).filterNot(_ => x.isNaN)
    case (_: DecimalType | StringType | DateType | FloatType | DoubleType, _) => None
    case _ => Some(v.toString) // integers, booleans, timestamp micros
  }

  /** (recordCount, per-column stats) from one ORC footer. */
  def orc(conf: Configuration, p: HPath, want: Map[String, DataType])
      : (Long, Map[String, ColStat]) = {
    val r = org.apache.orc.OrcFile.createReader(p,
      org.apache.orc.OrcFile.readerOptions(conf))
    try {
      val n = r.getNumberOfRows
      if (want.isEmpty) return (n, Map.empty)
      val sch = r.getSchema
      if (sch.getCategory != org.apache.orc.TypeDescription.Category.STRUCT)
        return (n, Map.empty)
      import scala.jdk.CollectionConverters._
      val names = sch.getFieldNames.asScala.toSeq
      val kids = sch.getChildren.asScala.toSeq
      val all = r.getStatistics // indexed by type id; root struct is 0
      // a foreign/minimal footer may carry a short statistics array —
      // an inconsistent footer contributes NO stats rather than
      // crashing the registration
      if (kids.exists(_.getId >= all.length)) return (n, Map.empty)
      def num(x: Double, dt: DataType): Option[String] =
        if (x.isNaN) None else Some(if (dt == FloatType) x.toFloat.toString else x.toString)
      val out = names.zip(kids).flatMap { case (name, kid) =>
        want.get(name).map { dt =>
          val cs = all(kid.getId)
          // top-level flat columns: one value per non-null row, so the
          // footer's value count states the null count exactly —
          // UNLESS the stats are absent/defaulted (numberOfValues 0,
          // hasNull false, rows present is self-contradictory): proto
          // defaults would then claim "all n values are null" and an
          // IS NOT NULL prune would silently drop the file's rows
          val statsPlausible = cs.getNumberOfValues > 0L || cs.hasNull || n == 0L
          val nulls =
            if (!statsPlausible) None
            else Some(n - cs.getNumberOfValues).filter(_ >= 0L)
          val (mn, mx) =
            if (cs.getNumberOfValues == 0L) (None, None) // all-null: no bounds
            else (cs, dt) match {
              case (s: org.apache.orc.IntegerColumnStatistics,
                  IntegerType | LongType) =>
                (Some(s.getMinimum.toString), Some(s.getMaximum.toString))
              case (s: org.apache.orc.DoubleColumnStatistics,
                  FloatType | DoubleType) =>
                // re-rendered through the TABLE type so the string
                // parses back to the value statBound encodes
                (num(s.getMinimum, dt), num(s.getMaximum, dt))
              case (s: org.apache.orc.StringColumnStatistics, StringType) =>
                // truncated footers return null minimum/maximum — omit
                (Option(s.getMinimum), Option(s.getMaximum))
              case (s: org.apache.orc.DateColumnStatistics, DateType) =>
                // render via epoch day: ChronoLocalDate.toString is
                // chronology-dependent; LocalDate's ISO form is what
                // statBound parses back
                (Option(s.getMinimumLocalDate).map(d =>
                  java.time.LocalDate.ofEpochDay(d.toEpochDay).toString),
                  Option(s.getMaximumLocalDate).map(d =>
                    java.time.LocalDate.ofEpochDay(d.toEpochDay).toString))
              case _ => (None, None)
            }
          name -> ColStat(mn, mx, nulls, Some(n))
        }
      }.toMap
      (n, out)
    } finally r.close()
  }
}
