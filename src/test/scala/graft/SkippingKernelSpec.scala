package graft

import graft.sources.{DeltaLake, FileFacts, IcebergEntryFacts, IcebergTable, IcebergTransforms, ManifestTable, SkippingKernel}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed

/** Soundness of the one file-skipping kernel, as a property: for random
  * typed files and random predicates, "the kernel drops the file"
  * implies "Spark's row filter over the file's rows keeps nothing" —
  * through each format's stats adapter, with the stats rendered the way
  * that format's writers render them (graft's stat strings, Delta's
  * stats JSON with millisecond timestamps, Iceberg's Appendix-D bounds
  * that exclude NaN and order ±0.0 like Java). The row filter is
  * Catalyst's interpreted predicate, the one Spark's Filter evaluates. */
class SkippingKernelSpec extends SparkSpec {

  private val MicrosPerDay = 86400000000L
  private val tsBase = 1700000000000000L - 1700000000000000L % MicrosPerDay

  private val schema = StructType(Seq(
    "c_long" -> LongType, "c_int" -> IntegerType, "c_date" -> DateType,
    "c_ts" -> TimestampType, "c_str" -> StringType, "c_dec" -> DecimalType(10, 2),
    "c_bool" -> BooleanType, "c_dbl" -> DoubleType).zipWithIndex.map { case ((n, t), i) =>
      StructField(n, t, nullable = true,
        new MetadataBuilder().putLong(IcebergTable.FieldIdKey, i + 1L).build())
    })
  private val attrs = schema.fields.toSeq.map(f => AttributeReference(f.name, f.dataType)())
  private def idx(name: String): Int = schema.fieldIndex(name)
  private def attr(name: String): AttributeReference = attrs(idx(name))

  // ------------------------------------------------------- generators

  private def value(dt: DataType): Gen[Any] = dt match {
    case LongType => Gen.choose(-3L, 3L).map(Long.box)
    case IntegerType => Gen.choose(-3, 3).map(Int.box)
    case DateType => Gen.choose(19700, 19703).map(Int.box)
    case TimestampType => for {
      d <- Gen.choose(0, 2); ms <- Gen.choose(0, 3); us <- Gen.oneOf(0, 1, 400, 999)
    } yield Long.box(tsBase + d * MicrosPerDay + ms * 1000L + us)
    case StringType => Gen.oneOf("", "a", "ab", "b", "ba", "c").map(UTF8String.fromString)
    case _: DecimalType => Gen.choose(-300L, 300L).map(u => Decimal(u, 10, 2))
    case BooleanType => Gen.oneOf(true, false).map(Boolean.box)
    case DoubleType => Gen.oneOf(-1.5, -0.0, 0.0, 1.0, 2.5, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity).map(Double.box)
  }

  /** A file: 0-6 rows, each column with its own null rate (all-null
    * columns and empty files included). */
  private val fileGen: Gen[Seq[Array[Any]]] = for {
    n <- Gen.choose(0, 6)
    nullRates <- Gen.listOfN(schema.length, Gen.oneOf(0.0, 0.3, 1.0))
    rows <- Gen.listOfN(n, Gen.sequence[List[Any], Any](schema.fields.toSeq.zip(nullRates).map {
      case (f, r) => Gen.choose(0.0, 1.0).flatMap(u => if (u < r) Gen.const(null) else value(f.dataType))
    }))
  } yield rows.map(_.toArray)

  // the float and timestamp columns carry the format-specific traps
  // (NaN, ±0.0, millisecond stats), so they are drawn more often
  private val colGen: Gen[AttributeReference] = Gen.frequency(attrs.map { a =>
    (if (a.dataType == DoubleType || a.dataType == TimestampType) 4 else 1) -> Gen.const(a)
  }: _*)

  private def lit(dt: DataType): Gen[Literal] =
    Gen.frequency(12 -> value(dt), 1 -> Gen.const(null)).map(Literal(_, dt))

  private val cmpGen: Gen[Expression] = for {
    a <- colGen; l <- lit(a.dataType); op <- Gen.choose(0, 5); flip <- Gen.oneOf(true, false)
  } yield {
    val (x, y) = if (flip) (l, a) else (a, l)
    op match {
      case 0 => EqualTo(x, y)
      case 1 => LessThan(x, y)
      case 2 => LessThanOrEqual(x, y)
      case 3 => GreaterThan(x, y)
      case 4 => GreaterThanOrEqual(x, y)
      case _ => EqualNullSafe(x, y)
    }
  }

  private val leafGen: Gen[Expression] = Gen.frequency(
    6 -> cmpGen,
    2 -> (for { a <- colGen; k <- Gen.choose(1, 4); ls <- Gen.listOfN(k, lit(a.dataType)) }
      yield In(a, ls)),
    1 -> (for { a <- colGen; vs <- Gen.listOfN(12, value(a.dataType)) }
      yield InSet(a, vs.toSet)),
    2 -> colGen.flatMap(a => Gen.oneOf(IsNull(a), IsNotNull(a))),
    // order-preserving casts on the column side (the analyzer's widening)
    2 -> Gen.oneOf(
      value(LongType).map(v => GreaterThan(Cast(attr("c_int"), LongType), Literal(v, LongType))),
      value(LongType).map(v => EqualTo(Cast(attr("c_int"), LongType), Literal(v, LongType))),
      value(TimestampType).map(v => LessThanOrEqual(
        Cast(attr("c_date"), TimestampType, Some("UTC")), Literal(v, TimestampType))),
      value(DoubleType).map(v => GreaterThanOrEqual(
        Cast(attr("c_long"), DoubleType), Literal(v, DoubleType))),
      value(LongType).map(v => EqualNullSafe(Cast(attr("c_int"), LongType), Literal(v, LongType))),
      Gen.const(EqualNullSafe(Cast(attr("c_int"), LongType), Literal(null, LongType))),
      Gen.const(EqualNullSafe(Literal(null, TimestampType),
        Cast(attr("c_date"), TimestampType, Some("UTC"))))),
    // shapes the kernel cannot read
    1 -> Gen.oneOf(
      cmpGen.map(Not(_)),
      value(LongType).map(v => EqualTo(Add(attr("c_long"), Literal(1L)), Literal(v, LongType))),
      Gen.const(EqualTo(attr("c_long"), Cast(attr("c_int"), LongType))),
      Gen.const(GreaterThan(Length(attr("c_str")), Literal(1))),
      Gen.oneOf(Literal(true), Literal(false), Literal(null, BooleanType))))

  private def predGen(depth: Int): Gen[Expression] =
    if (depth == 0) leafGen
    else Gen.frequency(
      3 -> leafGen,
      1 -> Gen.zip(predGen(depth - 1), predGen(depth - 1)).map { case (l, r) => And(l, r) },
      1 -> Gen.zip(predGen(depth - 1), predGen(depth - 1)).map { case (l, r) => Or(l, r) })

  // ---------------------------------------------- stats, per format

  private def ord(dt: DataType): Ordering[Any] = TypeUtils.getInterpretedOrdering(dt)
  private def nonNull(rows: Seq[Array[Any]], c: String): Seq[Any] =
    rows.map(_(idx(c))).filter(_ != null)
  private def nulls(rows: Seq[Array[Any]], c: String): Long =
    rows.count(_(idx(c)) == null).toLong
  private def minMax(vs: Seq[Any], o: Ordering[Any]): Option[(Any, Any)] =
    if (vs.isEmpty) None else Some((vs.min(o), vs.max(o)))

  /** graft: Spark's min/max aggregates rendered by `statEncode` (a
    * string cast; epoch micros for timestamps), for the stats-eligible
    * columns. */
  private def graftFacts(rows: Seq[Array[Any]]): FileFacts = {
    val stats = schema.fields.filter(f => ManifestTable.statsEligible(f.dataType)).map { f =>
      def render(v: Any): String = f.dataType match {
        case TimestampType => v.toString
        case dt => Cast(Literal(v, dt), StringType).eval().toString
      }
      val mm = minMax(nonNull(rows, f.name), ord(f.dataType))
      f.name -> ManifestTable.ColStat(mm.map(x => render(x._1)), mm.map(x => render(x._2)),
        Some(nulls(rows, f.name)), Some(rows.size.toLong))
    }.toMap
    new ManifestTable.GraftStatsFacts(schema)(stats.get)
  }

  /** Delta: `c_int` is the partition column (one value per file); the
    * rest ride the stats JSON — timestamps at millisecond precision,
    * NaN/infinite float bounds omitted (they are not JSON). */
  private def deltaFile(rows: Seq[Array[Any]]): Seq[Array[Any]] =
    rows.map { r => val c = r.clone(); c(idx("c_int")) = rows.head(idx("c_int")); c }

  private def deltaFacts(rows: Seq[Array[Any]]): FileFacts = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    def render(v: Any, dt: DataType): Option[String] = dt match {
      case LongType | IntegerType | BooleanType => Some(v.toString)
      case DateType => Some("\"" + java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong) + "\"")
      case TimestampType => Some("\"" + fmt.format(java.time.Instant.EPOCH.plus(
        v.asInstanceOf[Long], java.time.temporal.ChronoUnit.MICROS)) + "\"")
      case StringType => Some("\"" + v + "\"")
      case _: DecimalType => Some(v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString)
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) None else Some(d.toString)
    }
    val cols = schema.fields.filterNot(_.name == "c_int")
    def side(pick: ((Any, Any)) => Any) = cols.flatMap { f =>
      minMax(nonNull(rows, f.name), ord(f.dataType))
        .flatMap(mm => render(pick(mm), f.dataType)).map(r => s""""${f.name}":$r""")
    }.mkString("{", ",", "}")
    val stats = s"""{"numRecords":${rows.size},"minValues":${side(_._1)},""" +
      s""""maxValues":${side(_._2)},"nullCount":""" +
      cols.map(f => s""""${f.name}":${nulls(rows, f.name)}""").mkString("{", ",", "}") + "}"
    val pv = rows.headOption.flatMap(r => Option(r(idx("c_int")))).map(_.toString)
    new DeltaLake.AddFacts(schema, Seq("c_int"), "UTC")(
      DeltaLake.AddEntry("f.parquet", Map("c_int" -> pv), None, Some(stats), Some(1L), Some(0L)))
  }

  /** Iceberg: identity(c_int), day(c_ts), bucket[3](c_long) and
    * truncate[1](c_str) partitions (each file holds one partition
    * tuple); bounds exclude NaN and order doubles by `Double.compare`
    * (-0.0 < 0.0), the way Iceberg's Java writers do; `nan_value_counts`
    * present on some files only. */
  private val icebergFields = Seq(
    IcebergTable.PartitionField("c_int", idx("c_int") + 1, "identity"),
    IcebergTable.PartitionField("c_ts_day", idx("c_ts") + 1, "day"),
    IcebergTable.PartitionField("c_long_bucket", idx("c_long") + 1, "bucket[3]"),
    IcebergTable.PartitionField("c_str_trunc", idx("c_str") + 1, "truncate[1]"))

  private def icebergFile(rows: Seq[Array[Any]]): Seq[Array[Any]] = {
    def first(c: String) = rows.map(_(idx(c))).find(_ != null)
    val day0 = first("c_ts").map(v => (v.asInstanceOf[Long] - tsBase) / MicrosPerDay)
    val bucket0 = first("c_long").flatMap(IcebergTransforms.bucket(_, LongType, 3))
    val trunc0 = first("c_str").flatMap(IcebergTransforms.truncate(_, StringType, 1))
    rows.map { r =>
      val c = r.clone()
      c(idx("c_int")) = rows.head(idx("c_int"))
      Option(c(idx("c_ts"))).foreach { v =>
        c(idx("c_ts")) = tsBase + day0.get * MicrosPerDay + (v.asInstanceOf[Long] - tsBase) % MicrosPerDay
      }
      Option(c(idx("c_long"))).foreach { v =>
        if (IcebergTransforms.bucket(v, LongType, 3) != bucket0) c(idx("c_long")) = first("c_long").get
      }
      Option(c(idx("c_str"))).foreach { v =>
        if (IcebergTransforms.truncate(v, StringType, 1) != trunc0) c(idx("c_str")) = first("c_str").get
      }
      c
    }
  }

  private def icebergFacts(rows: Seq[Array[Any]], withNanCounts: Boolean): FileFacts = {
    def le(n: Int)(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN); f(b); b.array()
    }
    def bytes(v: Any, dt: DataType): Option[Array[Byte]] = dt match {
      case LongType | TimestampType => Some(le(8)(_.putLong(v.asInstanceOf[Long])))
      case IntegerType | DateType => Some(le(4)(_.putInt(v.asInstanceOf[Int])))
      case DoubleType => Some(le(8)(_.putDouble(v.asInstanceOf[Double])))
      case StringType => Some(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case BooleanType => Some(Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0))
      case _ => None
    }
    val javaOrder: Ordering[Any] = (a: Any, b: Any) =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    val bounds = schema.fields.toSeq.flatMap { f =>
      val vs = nonNull(rows, f.name).filterNot {
        case d: java.lang.Double => d.isNaN
        case _ => false
      }
      minMax(vs, if (f.dataType == DoubleType) javaOrder else ord(f.dataType)).map {
        case (mn, mx) => (idx(f.name) + 1, bytes(mn, f.dataType), bytes(mx, f.dataType))
      }
    }
    val id = (c: String) => idx(c) + 1
    val nans = rows.count(r => r(idx("c_dbl")) match {
      case d: java.lang.Double => d.isNaN
      case _ => false
    }).toLong
    def first(c: String) = rows.map(_(idx(c))).find(_ != null)
    val partition = Seq(
      "c_int" -> first("c_int").filter(_ => rows.head(idx("c_int")) != null),
      "c_ts_day" -> first("c_ts").flatMap(IcebergTransforms.temporal(_, TimestampType, "day")),
      "c_long_bucket" -> first("c_long").flatMap(IcebergTransforms.bucket(_, LongType, 3)),
      "c_str_trunc" -> first("c_str").flatMap(IcebergTransforms.truncate(_, StringType, 1))
    ).collect { case (k, Some(v)) => k -> v }.toMap
    val entry = IcebergTable.DataFileEntry("f.parquet", "PARQUET", rows.size.toLong, 1L, 1L,
      partition,
      bounds.flatMap { case (i, lo, _) => lo.map(i -> _) }.toMap,
      bounds.flatMap { case (i, _, hi) => hi.map(i -> _) }.toMap,
      schema.fields.map(f => id(f.name) -> nulls(rows, f.name)).toMap,
      schema.fields.map(f => id(f.name) -> rows.size.toLong).toMap,
      if (withNanCounts) Map(id("c_dbl") -> nans) else Map.empty)
    new IcebergEntryFacts(schema, icebergFields)(entry)
  }

  // ------------------------------------------------------- the property

  private def rowFilterKeepsAny(rows: Seq[Array[Any]], pred: Expression): Boolean = {
    val p = Predicate.createInterpreted(BindReferences.bindReference(pred, attrs))
    p.initialize(0)
    rows.exists(r => p.eval(InternalRow.fromSeq(r.toSeq)))
  }

  private def checkSound(name: String, shape: Seq[Array[Any]] => Seq[Array[Any]],
      facts: Seq[Array[Any]] => FileFacts): Unit = {
    var dropped = 0
    val prop = Prop.forAll(fileGen.map(shape), predGen(3)) { (rows, pred) =>
      val keep = SkippingKernel(Seq(pred)).mayMatch(facts(rows))
      if (!keep) dropped += 1
      keep || !rowFilterKeepsAny(rows, pred)
    }
    val result = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(3000).withInitialSeed(Seed(20261017L)).withWorkers(1), prop)
    assert(result.passed, s"$name adapter: ${result.status}")
    // not vacuous: the kernel really drops files through this adapter
    assert(dropped >= 300, s"$name adapter dropped only $dropped of ${result.succeeded} files")
  }

  test("property: a file the kernel drops holds no row the filter keeps (graft stats)") {
    checkSound("graft", identity, graftFacts)
  }

  test("property: a file the kernel drops holds no row the filter keeps (Delta stats)") {
    checkSound("delta", rows => if (rows.isEmpty) rows else deltaFile(rows), deltaFacts)
  }

  test("property: a file the kernel drops holds no row the filter keeps (Iceberg manifests)") {
    checkSound("iceberg", rows => if (rows.isEmpty) rows else icebergFile(rows),
      rows => icebergFacts(rows, withNanCounts = rows.size % 2 == 0))
  }
}
