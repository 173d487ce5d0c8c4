package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg's [[SkippingKernel]] adapter: one [[IcebergTable.DataFileEntry]]
  * as [[FileFacts]] — SERIALIZABLE, so the kernel that prunes
  * driver-side in [[IcebergFileIndex]] runs ON EXECUTORS for the
  * distributed manifest prune ([[IcebergTable.pruneDataManifests]]).
  * Facts consulted, all manifest-declared:
  *
  *   - identity-transform partition values and the synthetic `__seq`
  *     (exact: min = max);
  *   - `lower_bounds`/`upper_bounds` (Appendix D, decoded for the
  *     orderable primitives; uuid-sourced columns never prune — their
  *     bounds are raw UUID bytes). The spec keeps NaN out of bounds
  *     while Spark sorts NaN greatest (`x > c` matches NaN rows), so a
  *     float/double upper bound counts only when `nan_value_counts`
  *     says the file holds no NaN;
  *   - `null_value_counts` with `record_count`;
  *   - `year`/`month`/`day`/`hour` partition ordinals, as the value
  *     range each declares ([[IcebergTransforms.temporalRange]]) — which
  *     also serves tables whose manifests carry no bounds on the source
  *     column;
  *   - `bucket[N]`/`truncate[W]` partition values as equality facts
  *     (the prune min/max cannot provide on hashed keys).
  *
  * Anything undecodable is unknown: the file may match. */
final class IcebergEntryFacts(schema: StructType,
    partitionFields: Seq[IcebergTable.PartitionField]) extends Serializable {

  import IcebergTable.{DataFileEntry, FieldIdKey}

  /** Top-level column name → Iceberg field id (stats key). */
  private val idOf: Map[String, Int] = schema.fields.flatMap { f =>
    if (f.metadata.contains(FieldIdKey)) Some(f.name -> f.metadata.getLong(FieldIdKey).toInt)
    else None
  }.toMap
  private val typeOf: Map[String, DataType] =
    schema.fields.map(f => f.name -> f.dataType).toMap

  private val uuidCols: Set[String] = schema.fields.collect {
    case f if f.metadata.contains(IcebergTable.UuidKey) => f.name
  }.toSet
  private val nameOfId: Map[Int, String] = idOf.map(_.swap)

  /** Source column name → the spec field carrying its IDENTITY value. */
  private[sources] val identityFieldOf: Map[String, String] = partitionFields
    .filter(_.transform == "identity")
    .flatMap(pf => nameOfId.get(pf.sourceId).map(_ -> pf.name)).toMap

  /** Source column name → (spec field, N) for `bucket[N]` transforms. */
  private val bucketFieldOf: Map[String, (String, Int)] = partitionFields
    .flatMap(pf => IcebergTransforms.bucketWidth(pf.transform)
      .flatMap(n => nameOfId.get(pf.sourceId).map(_ -> (pf.name, n)))).toMap

  /** Source column name → (spec field, W) for `truncate[W]` transforms. */
  private val truncFieldOf: Map[String, (String, Int)] = partitionFields
    .flatMap(pf => IcebergTransforms.truncateWidth(pf.transform)
      .flatMap(w => nameOfId.get(pf.sourceId).map(_ -> (pf.name, w)))).toMap

  /** Source column name → (spec field, unit) for temporal transforms
    * (Spark/Flink's DEFAULT event-table partitioning). */
  private val temporalFieldOf: Map[String, (String, String)] = partitionFields
    .flatMap(pf => IcebergTransforms.temporalUnit(pf.transform)
      .flatMap(u => nameOfId.get(pf.sourceId).map(_ -> (pf.name, u)))).toMap

  /** A manifest or partition value in Catalyst's internal form. */
  private def internal(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (n: java.lang.Number, IntegerType | DateType) => Some(n.intValue)
    case (n: java.lang.Number, LongType | TimestampType | TimestampNTZType) => Some(n.longValue)
    case (n: java.lang.Number, ShortType) => Some(n.shortValue)
    case (n: java.lang.Number, ByteType) => Some(n.byteValue)
    case (n: java.lang.Number, FloatType) => Some(n.floatValue)
    case (n: java.lang.Number, DoubleType) => Some(n.doubleValue)
    case (s: String, _: StringType) => Some(UTF8String.fromString(s))
    case (b: java.lang.Boolean, BooleanType) => Some(b.booleanValue)
    case _ => None
  }

  /** (min, max) from an identity partition value or the manifest
    * bounds, narrowed by a temporal partition ordinal. */
  private def minMax(e: DataFileEntry, name: String, dt: DataType): (Option[Any], Option[Any]) = {
    val (mn, mx) =
      if (uuidCols.contains(name)) (None, None)
      else identityFieldOf.get(name).flatMap(e.partition.get).flatMap(internal(_, dt)) match {
        case Some(v) => (Some(v), Some(v))
        case None => idOf.get(name) match {
          case None => (None, None)
          case Some(id) =>
            def decoded(b: Map[Int, Array[Byte]]) =
              b.get(id).flatMap(IcebergTable.decodeBound(_, dt)).flatMap(internal(_, dt))
            val nanFree = dt match {
              case FloatType | DoubleType => e.nanCounts.get(id).contains(0L)
              case _ => true
            }
            (decoded(e.lower), if (nanFree) decoded(e.upper) else None)
        }
      }
    temporalFieldOf.get(name).flatMap { case (pf, unit) =>
      e.partition.get(pf).collect { case t: java.lang.Number => t.intValue }
        .flatMap(IcebergTransforms.temporalRange(_, dt, unit))
    } match {
      case None => (mn, mx)
      case Some((lo, hi)) =>
        def num(x: Any): Long = x.asInstanceOf[Number].longValue
        def typed(x: Long): Any = if (dt == DateType) x.toInt else x
        (Some(mn.filter(num(_) >= lo).getOrElse(typed(lo))),
          Some(mx.filter(num(_) <= hi).getOrElse(typed(hi))))
    }
  }

  def apply(e: DataFileEntry): FileFacts = new FileFacts {
    private val rows = if (e.recordCount >= 0) Some(e.recordCount) else None

    def bounds(name: String): ColBounds =
      if (name == IcebergTable.SeqColName) {
        // the synthetic data-sequence column is exact per file — the
        // equality-delete interval branches prune to their own files
        val s = Some(e.seq)
        ColBounds(s, s, Some(0L), rows)
      } else typeOf.get(name) match {
        case None => ColBounds.Unknown
        case Some(dt) =>
          val (mn, mx) = minMax(e, name, dt)
          ColBounds(mn, mx, idOf.get(name).flatMap(e.nullCounts.get), rows)
      }

    override def mayEqual(name: String, value: Any): Boolean = {
      if (uuidCols.contains(name)) return true // uuid hashes over raw bytes, not the string form
      val byBucket = bucketFieldOf.get(name) match {
        case None => true
        case Some((pfName, n)) =>
          (e.partition.get(pfName), IcebergTransforms.bucket(value, typeOf(name), n)) match {
            case (Some(declared: java.lang.Number), Some(expected)) =>
              declared.intValue == expected
            case _ => true
          }
      }
      val byTrunc = truncFieldOf.get(name) match {
        case None => true
        case Some((pfName, w)) =>
          (e.partition.get(pfName), IcebergTransforms.truncate(value, typeOf(name), w)) match {
            case (Some(declared: java.lang.Number), Some(expected: Long)) =>
              declared.longValue == expected
            case (Some(declared: String), Some(expected: String)) => declared == expected
            case _ => true
          }
      }
      byBucket && byTrunc
    }
  }
}
