package graft.sources

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryComparison, BoundReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or, PlanExpression, Predicate, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** One column's facts in one file, values in Catalyst's internal form
  * (`UTF8String`, epoch-day `Int`, epoch-micros `Long`, `Decimal`, …).
  * `min`/`max` bound every non-null value of the column under Spark's
  * own ordering (so a float max must account for NaN, which Spark sorts
  * greatest); None = unknown. */
final case class ColBounds(min: Option[Any], max: Option[Any],
    nulls: Option[Long], rows: Option[Long]) {
  /** Known to hold no non-null value (an all-null or empty file). */
  def allNull: Boolean = nulls.isDefined && nulls == rows
}

object ColBounds {
  val Unknown: ColBounds = ColBounds(None, None, None, None)
}

/** One data file as a format adapter presents it to the [[SkippingKernel]]. */
trait FileFacts {
  def bounds(col: String): ColBounds
  /** Facts beyond min/max — hash buckets, prefix partitions, Bloom
    * sidecars: false only when they prove no row holds `col = v`
    * (`v` in the column's own type). */
  def mayEqual(col: String, v: Any): Boolean = true
}

/** The one file-skipping decision for graft, Delta and Iceberg: given a
  * resolved Catalyst predicate, may a file whose per-column facts are
  * [[FileFacts]] hold a row for which it is TRUE? False only on proof.
  *
  * The predicate is normalized once, at construction, into a small
  * tree of readable leaves — `col op v` for `= < <= > >=`, `<=>`, `IN`
  * and `InSet`, `IS [NOT] NULL`, joined by AND/OR — with constants
  * folded; every other shape reads as "may match" (an AND keeps its
  * readable side, an OR needs both). Comparisons run under
  * `TypeUtils.getInterpretedOrdering`, the row filter's own semantics
  * (`-0.0 = 0.0`, NaN greatest), and an order-preserving cast on the
  * column side (integral widening, date to timestamp, …) is applied to
  * the bounds. Serializable plain Scala: the same instance prunes entry
  * lists on the driver and checkpoint rows inside executors. */
final class SkippingKernel private (root: Option[SkippingKernel.Node]) extends Serializable {
  /** False when no leaf is readable: every file may match. */
  def canPrune: Boolean = root.isDefined
  /** The columns whose facts a decision can consult. */
  def columns: Set[String] = root.map(SkippingKernel.columnsOf).getOrElse(Set.empty)
  def mayMatch(f: FileFacts): Boolean = root.forall(_.may(f))
}

object SkippingKernel extends PredicateHelper {

  /** The kernel for the conjunction of `filters`. Non-deterministic and
    * subquery-carrying conjuncts are ignored (evaluated once per file
    * they could drop files the row filter would keep). */
  def apply(filters: Seq[Expression]): SkippingKernel =
    new SkippingKernel(filters.flatMap(conjuncts).filter(usable).map(fold).flatMap(translate)
      .reduceOption[Node](AndN))

  /** An API predicate resolved once against a table schema, constants
    * folded — the form every pruning site consumes. Fails as the row
    * filter would on an unknown column. */
  def resolve(spark: SparkSession, pred: Column, schema: StructType): Expression =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema).filter(pred)
      .queryExecution.analyzed.collectFirst { case f: Filter => fold(f.condition) }
      .getOrElse(throw new IllegalStateException(s"predicate $pred did not analyze to a filter"))

  def usable(e: Expression): Boolean =
    e.deterministic && e.find(_.isInstanceOf[PlanExpression[_]]).isEmpty

  def conjuncts(e: Expression): Seq[Expression] = splitConjunctivePredicates(e)

  private def fold(e: Expression): Expression = e.transformUp {
    case x if x.foldable && !x.isInstanceOf[Literal] =>
      try Literal(x.eval(), x.dataType) catch { case scala.util.control.NonFatal(_) => x }
  }

  // ------------------------------------------------ partition tuples

  /** The items whose partition tuple satisfies `pred`, which must
    * reference partition columns only: `pred` runs through Catalyst's
    * interpreted predicate over the typed tuple (values cast from their
    * strings to `partSchema`'s types), once per DISTINCT tuple. NULL
    * counts as no match, exactly as the row filter. */
  def partitionMatches[T](items: Seq[T], tupleOf: T => Seq[Option[String]],
      partSchema: StructType, pred: Expression, tz: String): Seq[T] = {
    val bound = pred.transform {
      case a: AttributeReference => BoundReference(fieldIndex(partSchema, a.name),
        a.dataType, a.nullable)
    }
    val p = Predicate.createInterpreted(bound)
    p.initialize(0)
    val verdict = scala.collection.mutable.HashMap.empty[Seq[Option[String]], Boolean]
    items.filter { it =>
      val t = tupleOf(it)
      verdict.getOrElseUpdate(t, p.eval(partitionRow(t, partSchema, tz)))
    }
  }

  /** The conjuncts of `filters` a partition-tuple evaluation may act on:
    * deterministic, subquery-free, partition columns only. */
  def partitionConjuncts(filters: Seq[Expression], partCols: Seq[String]): Option[Expression] =
    filters.flatMap(conjuncts).filter { c =>
      usable(c) && c.references.nonEmpty &&
        c.references.forall(a => partCols.exists(_.equalsIgnoreCase(a.name)))
    }.reduceOption(And)

  /** A partition tuple as the typed row a file scan hands its reader. */
  def partitionRow(vals: Seq[Option[String]], partSchema: StructType, tz: String): InternalRow =
    InternalRow.fromSeq(vals.zip(partSchema.fields).map {
      case (None, _) => null
      case (Some(s), f) => Cast(Literal(s), f.dataType, Option(tz)).eval(null)
    })

  private def fieldIndex(s: StructType, name: String): Int = {
    val i = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
    require(i >= 0, s"predicate column $name is not a partition column " +
      s"(partitioned by ${s.fieldNames.mkString(",")})")
    i
  }

  // ------------------------------------------------ the predicate form

  private[sources] sealed trait Node extends Serializable { def may(f: FileFacts): Boolean }

  private final case class AndN(l: Node, r: Node) extends Node {
    def may(f: FileFacts): Boolean = l.may(f) && r.may(f)
  }
  private final case class OrN(l: Node, r: Node) extends Node {
    def may(f: FileFacts): Boolean = l.may(f) || r.may(f)
  }
  /** A constant false or NULL predicate: no row matches. */
  private case object Never extends Node {
    def may(f: FileFacts): Boolean = false
  }
  private final case class NullTest(col: String, isNull: Boolean) extends Node {
    def may(f: FileFacts): Boolean = {
      val b = f.bounds(col)
      if (isNull) !b.nulls.contains(0L) else !b.allNull
    }
  }

  private def columnsOf(n: Node): Set[String] = n match {
    case AndN(l, r) => columnsOf(l) ++ columnsOf(r)
    case OrN(l, r) => columnsOf(l) ++ columnsOf(r)
    case NullTest(c, _) => Set(c)
    case c: Cmp => Set(c.col)
    case Never => Set.empty
  }

  private sealed trait Op extends Serializable
  private case object Eq extends Op
  private case object Lt extends Op
  private case object Le extends Op
  private case object Gt extends Op
  private case object Ge extends Op

  /** `conv(col) op v`; for [[Eq]], true when any of `vals` may equal.
    * `conv` is an order-preserving cast over `BoundReference(0)`, so
    * it maps the column's bounds to bounds of the compared values. */
  private final case class Cmp(col: String, conv: Option[Cast], dt: DataType,
      op: Op, vals: Seq[Any]) extends Node {
    @transient private lazy val ord: Ordering[Any] = TypeUtils.getInterpretedOrdering(dt)

    private def converted(v: Option[Any]): Option[Any] = conv match {
      case None => v
      case Some(c) => v.flatMap(x => Option(c.eval(InternalRow(x))))
    }

    def may(f: FileFacts): Boolean = {
      val b = f.bounds(col)
      if (b.allNull) return false
      try {
        val mn = converted(b.min)
        val mx = converted(b.max)
        op match {
          case Eq => vals.exists { v =>
            mn.forall(ord.lteq(_, v)) && mx.forall(ord.gteq(_, v)) && mayEqual(f, v)
          }
          case Lt => mn.forall(ord.lt(_, vals.head))
          case Le => mn.forall(ord.lteq(_, vals.head))
          case Gt => mx.forall(ord.gt(_, vals.head))
          case Ge => mx.forall(ord.gteq(_, vals.head))
        }
      } catch { case scala.util.control.NonFatal(_) => true } // undecodable: keep
    }

    /** The equality facts speak of the column's own values. An integral
      * widening maps `v` back exactly (a `v` out of the column's range
      * equals no row, so any verdict on it is sound); other conversions
      * can merge values (long to double), so they skip the facts. */
    private def mayEqual(f: FileFacts, v: Any): Boolean = conv match {
      case None => f.mayEqual(col, v)
      case Some(c) if integral(c.child.dataType) && integral(dt) =>
        f.mayEqual(col, Cast(Literal(v, dt), c.child.dataType).eval())
      case _ => true
    }
  }

  private def orderable(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType | BooleanType => true
    case s: StringType => s.collationId == StringType.collationId // UTF8_BINARY
    case _ => false
  }

  /** Casts that never reorder values, so the cast bounds of a file bound
    * the cast values of its rows. */
  private def monotone(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if integral(a) && integral(b) => a.defaultSize <= b.defaultSize
    case (a, _: DecimalType | FloatType | DoubleType) if integral(a) => true
    case (_: DecimalType, _: DecimalType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (DateType, TimestampType | TimestampNTZType) => true
    case _ => false
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The column a leaf compares, with its order-preserving conversion. */
  private def column(e: Expression): Option[(String, Option[Cast])] = e match {
    case a: AttributeReference if orderable(a.dataType) => Some((a.name, None))
    case c @ Cast(a: AttributeReference, to, _, _)
        if orderable(a.dataType) && orderable(to) && monotone(a.dataType, to) =>
      Some((a.name, Some(c.copy(child = BoundReference(0, a.dataType, true)))))
    case _ => None
  }

  private def leaf(colSide: Expression, op: Op, vs: Seq[Any], dt: DataType): Option[Node] =
    column(colSide).map { case (name, conv) =>
      val nonNull = vs.filter(_ != null)
      if (nonNull.isEmpty) Never else Cmp(name, conv, dt, op, nonNull)
    }

  private def flip(op: Op): Op = op match {
    case Lt => Gt; case Le => Ge; case Gt => Lt; case Ge => Le; case Eq => Eq
  }

  /** `x <=> NULL` as a test on the column: only when `x` is NULL exactly
    * when the column is — the column itself, or a cast that cannot turn
    * a value into NULL. */
  private def nullTest(x: Expression): Option[Node] = x match {
    case a: AttributeReference => Some(NullTest(a.name, isNull = true))
    case Cast(a: AttributeReference, to, _, _) if Cast.canUpCast(a.dataType, to) =>
      Some(NullTest(a.name, isNull = true))
    case _ => None
  }

  private def translate(e: Expression): Option[Node] = e match {
    case And(l, r) => (translate(l), translate(r)) match {
      case (Some(a), Some(b)) => Some(AndN(a, b))
      case (a, b) => a.orElse(b)
    }
    case Or(l, r) => for { a <- translate(l); b <- translate(r) } yield OrN(a, b)
    case Literal(v, BooleanType) if v != true => Some(Never)
    case IsNull(a: AttributeReference) => Some(NullTest(a.name, isNull = true))
    case IsNotNull(a: AttributeReference) => Some(NullTest(a.name, isNull = false))
    case EqualNullSafe(x, Literal(null, _)) => nullTest(x)
    case EqualNullSafe(Literal(null, _), x) => nullTest(x)
    case c: BinaryComparison =>
      val op = c match {
        case _: EqualTo | _: EqualNullSafe => Some(Eq)
        case _: LessThan => Some(Lt)
        case _: LessThanOrEqual => Some(Le)
        case _: GreaterThan => Some(Gt)
        case _: GreaterThanOrEqual => Some(Ge)
        case _ => None
      }
      op.flatMap { o =>
        (c.left, c.right) match {
          case (x, Literal(v, dt)) => leaf(x, o, Seq(v), dt)
          case (Literal(v, dt), x) => leaf(x, flip(o), Seq(v), dt)
          case _ => None
        }
      }
    case In(x, list) if list.forall(_.isInstanceOf[Literal]) =>
      leaf(x, Eq, list.map(_.asInstanceOf[Literal].value), x.dataType)
    case InSet(x, hset) => leaf(x, Eq, hset.toSeq, x.dataType)
    case _ => None
  }
}
