package graft

import graft.sources.{FooterStats, IcebergWriter, ManifestTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.functions.{col, count, expr, lit, max, min, unix_micros}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed
import java.nio.file.Files

/** Footer stats equal scan stats, as a property: for random typed frames
  * written the way graft's commits stage them, [[FooterStats.parquet]]'s
  * (min, max, nulls, rows) per column equals a Spark aggregate over the
  * same rows — except that a column holding NaN has no bounds, and a zero
  * bound may be the other zero (parquet-mr widens ±0.0 bounds,
  * PARQUET-1246, so they stay true bounds). Files from other writers
  * whose type does not state the table type exactly keep their counts
  * but get no bounds. */
class FooterStatsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    "c_int" -> IntegerType, "c_long" -> LongType, "c_short" -> ShortType, "c_byte" -> ByteType,
    "c_bool" -> BooleanType, "c_str" -> StringType, "c_date" -> DateType,
    "c_ts" -> TimestampType, "c_dec9" -> DecimalType(9, 2), "c_dec18" -> DecimalType(18, 4),
    "c_dec30" -> DecimalType(30, 6), "c_float" -> FloatType, "c_dbl" -> DoubleType
  ).map { case (n, t) => StructField(n, t, nullable = true) })

  // ------------------------------------------------------- generators

  private def value(dt: DataType): Gen[Any] = dt match {
    case IntegerType => Gen.oneOf(Int.MinValue, -3, 0, 3, Int.MaxValue)
    case LongType => Gen.oneOf(Long.MinValue, -3L, 0L, 3L, Long.MaxValue)
    case ShortType => Gen.oneOf(Short.MinValue, -1.toShort, 0.toShort, 7.toShort, Short.MaxValue)
    case ByteType => Gen.oneOf(Byte.MinValue, -1.toByte, 0.toByte, 7.toByte, Byte.MaxValue)
    case BooleanType => Gen.oneOf(true, false)
    case StringType => Gen.oneOf("", "a", "ab", "b", "été", "%N\t", "z" * 65, "a" * 70)
    case DateType => Gen.oneOf("1900-01-01", "1969-12-31", "1970-01-01", "2024-02-29", "9999-12-31")
      .map(d => java.sql.Date.valueOf(d))
    case TimestampType => Gen.oneOf(-1L, 0L, 1700000000123456L, 253402300799999999L).map(us =>
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)))
    case d: DecimalType => Gen.oneOf("0", "-1.5", "12.25", "-9999999.99", "1234567.89")
      .map(s => new java.math.BigDecimal(s).setScale(d.scale))
    case FloatType => Gen.oneOf(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, 1.5f, -2.25f, Float.MinPositiveValue)
    case DoubleType => Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -2.25, 1e300)
  }

  /** A frame: 0-5 rows, each column with its own null rate (all-null
    * columns and empty frames included), and how it is staged: graft's
    * way (timestamps as INT64 micros) or Iceberg's (field ids embedded). */
  private val frameGen: Gen[(Seq[Row], Boolean)] = for {
    n <- Gen.choose(0, 5)
    nullRates <- Gen.listOfN(schema.length, Gen.oneOf(0.0, 0.3, 1.0))
    rows <- Gen.listOfN(n, Gen.sequence[List[Any], Any](schema.fields.toSeq.zip(nullRates).map {
      case (f, r) => Gen.choose(0.0, 1.0).flatMap(u => if (u < r) Gen.const(null) else value(f.dataType))
    }))
    graftWay <- Gen.oneOf(true, false)
  } yield (rows.map(Row.fromSeq), graftWay)

  // ------------------------------------------------------- staging

  private def stageOne(df: DataFrame, graftWay: Boolean): Path = {
    val dir = Files.createTempDirectory("footerstats").resolve("f").toString
    if (graftWay) {
      val key = "spark.sql.parquet.outputTimestampType"
      spark.conf.set(key, "TIMESTAMP_MICROS")
      try df.coalesce(1).write.parquet(dir) finally spark.conf.unset(key)
    } else {
      val ided = IcebergWriter.withIds(df.schema)
      df.select(ided.fields.toSeq.map(f => col(f.name).as(f.name, f.metadata)): _*)
        .coalesce(1).write.parquet(dir)
    }
    new Path(new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get.getPath)
  }

  // ------------------------------------------------------- the aggregate

  /** Per column: (min, max, nulls) as graft stat strings from Spark's
    * aggregate (timestamps as epoch micros), bounds None when the column
    * is all-null or holds NaN; and the row count. */
  private def aggregate(df: DataFrame, cols: Seq[StructField])
      : (Long, Map[String, (Option[String], Option[String], Long)]) = {
    def render(c: org.apache.spark.sql.Column, dt: DataType) =
      (if (dt == TimestampType) unix_micros(c) else c).cast("string")
    val aggs = count(lit(1)) +: cols.flatMap { f =>
      val c = col(f.name)
      val nans = f.dataType match {
        case FloatType | DoubleType => count(expr(s"CASE WHEN isnan(${f.name}) THEN 1 END"))
        case _ => lit(0L)
      }
      Seq(render(min(c), f.dataType), render(max(c), f.dataType), count(c), nans)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(0)
    (n, cols.zipWithIndex.map { case (f, i) =>
      val nonNull = r.getLong(3 + 4 * i)
      val nan = r.getLong(4 + 4 * i) > 0
      f.name -> (Option(r.getString(1 + 4 * i)).filter(_ => !nan),
        Option(r.getString(2 + 4 * i)).filter(_ => !nan), n - nonNull)
    }.toMap)
  }

  private def decode(dt: DataType, s: String): Any =
    if (dt == TimestampType) s.toLong
    else Cast(BoundReference(0, StringType, true), dt, Some("UTC"))
      .eval(InternalRow(UTF8String.fromString(s)))

  private def isZero(v: Any): Boolean = v match {
    case f: java.lang.Float => f.floatValue == 0.0f
    case d: java.lang.Double => d.doubleValue == 0.0
    case _ => false
  }

  private def sameBound(dt: DataType, footer: Option[String], scan: Option[String]): Boolean =
    (footer, scan) match {
      case (None, None) => true
      case (Some(a), Some(b)) =>
        val (x, y) = (decode(dt, a), decode(dt, b))
        java.util.Objects.equals(x, y) || (isZero(x) && isZero(y))
      case _ => false
    }

  test("property: footer stats equal scan stats (graft and Iceberg staging, every stat type)") {
    var bounded = 0
    val prop = Prop.forAll(frameGen) { case (rows, graftWay) =>
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      val want = (if (graftWay) schema.fields.map(f => f.name -> f.dataType).toMap
        else FooterStats.statTypes(schema))
      val (n, footer) = FooterStats.parquet(spark.sparkContext.hadoopConfiguration,
        stageOne(df, graftWay), want)
      val (rowsScan, scan) = aggregate(df, schema.fields.toSeq.filter(f => want.contains(f.name)))
      bounded += footer.values.count(_.min.nonEmpty)
      n == rowsScan && footer.keySet == want.keySet && want.forall { case (c, dt) =>
        val s = footer(c)
        val (mn, mx, nulls) = scan(c)
        val ok = s.rows.contains(n) && s.nulls.contains(nulls) &&
          sameBound(dt, s.min, mn) && sameBound(dt, s.max, mx)
        if (!ok) println(s"footer $c = $s, scan = ${(mn, mx, nulls, n)}")
        ok
      }
    }
    val result = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(200).withInitialSeed(Seed(20261019L)).withWorkers(1), prop)
    assert(result.passed, result.status.toString)
    assert(bounded >= 500, s"only $bounded bounded columns: the property is near-vacuous")
  }

  // ------------------------------------------------------- foreign footers

  /** One optional column `x` of the given parquet type (`int64
    * (TIMESTAMP(MILLIS,true))`), written with parquet-mr's example writer:
    * `values` then a NULL. */
  private def foreign(parquetType: String, values: Seq[Any]): Path = {
    import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
    val (physical, annotation) = parquetType.span(_ != ' ')
    val pq = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message m { optional $physical x$annotation; }")
    val p = new Path(Files.createTempDirectory("footerforeign").resolve("f.parquet").toString)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(p)
      .withConf(spark.sparkContext.hadoopConfiguration).withType(pq).build()
    val groups = new SimpleGroupFactory(pq)
    try {
      values.foreach { v =>
        val g = groups.newGroup()
        v match {
          case i: Int => g.append("x", i)
          case l: Long => g.append("x", l)
          case t: NanoTime => g.append("x", t)
        }
        w.write(g)
      }
      w.write(groups.newGroup())
    } finally w.close()
    p
  }

  private def footerOf(p: Path, dt: DataType): ManifestTable.ColStat = {
    val (n, stats) = FooterStats.parquet(spark.sparkContext.hadoopConfiguration, p, Map("x" -> dt))
    assert(n === 3L)
    stats("x")
  }

  test("a footer that does not state the table type exactly keeps its counts but no bounds") {
    import org.apache.parquet.example.data.simple.NanoTime
    val cases = Seq(
      ("int32 (INTEGER(32,false))", Seq[Any](1, -1294967296), IntegerType),
      ("int64 (TIMESTAMP(MILLIS,true))", Seq[Any](1L, 2L), TimestampType),
      ("int96", Seq[Any](new NanoTime(2440588, 0L), new NanoTime(2440589, 5L)), TimestampType),
      ("int64 (TIMESTAMP(MICROS,false))", Seq[Any](1L, 2L), TimestampType))
    cases.foreach { case (pt, values, dt) =>
      val s = footerOf(foreign(pt, values), dt)
      assert(s.rows.contains(3L) && s.nulls.contains(1L), s"$pt keeps its counts: $s")
      assert(s.min.isEmpty && s.max.isEmpty, s"$pt must publish no bounds: $s")
    }
    // the same writer's exact micros type does publish bounds
    val exact = footerOf(foreign("int64 (TIMESTAMP(MICROS,true))", Seq(1L, 2L)), TimestampType)
    assert(exact === ManifestTable.ColStat(Some("1"), Some("2"), Some(1L), Some(3L)))
  }
}
