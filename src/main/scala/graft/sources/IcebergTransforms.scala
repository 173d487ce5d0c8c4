package graft.sources

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg partition-transform evaluation for PRUNING (spec Appendix B):
  * `bucket[N]` hashes a value with 32-bit Murmur3 (x86, seed 0) over the
  * spec's byte serialization — ints and dates promote to LONG
  * little-endian 8 bytes (so `bucket(34 : int) = bucket(34 : long)` by
  * construction), timestamps hash their micros, strings their UTF-8
  * bytes — then takes `(hash & Int.MaxValue) % N`. An equality filter on
  * a bucket-partitioned source column prunes to the one matching bucket
  * ordinal before any file opens.
  *
  * The spec publishes reference vectors (int 34 → 2017239379, string
  * "iceberg" → 1210000089, …); `IcebergSpec` pins this implementation
  * against them. Types the spec does not bucket (float/double/boolean)
  * return None — no pruning, never wrong. */
object IcebergTransforms {

  /** 32-bit Murmur3 (x86 variant, seed 0) — the public algorithm the
    * spec names, implemented directly so no library quirk (Scala's
    * MurmurHash3 finalizes differently) can skew ordinals. */
  def murmur3x86(data: Array[Byte], seed: Int = 0): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h = seed
    val len = data.length
    var i = 0
    while (i + 4 <= len) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 4
    }
    var k = 0
    val rem = len - i
    if (rem == 3) k ^= (data(i + 2) & 0xff) << 16
    if (rem >= 2) k ^= (data(i + 1) & 0xff) << 8
    if (rem >= 1) {
      k ^= data(i) & 0xff
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k
    }
    h ^= len
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^= h >>> 16
    h
  }

  private def longLe(l: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()

  /** The spec's bucket-hash of a value in Catalyst-internal form
    * (dates = days Int, timestamps = micros Long, strings =
    * UTF8String); None = not bucketable (no pruning). */
  def bucketHash(value: Any, dt: DataType): Option[Int] = dt match {
    case IntegerType | LongType | DateType | TimestampType | TimestampNTZType =>
      value match {
        case n: java.lang.Number => Some(murmur3x86(longLe(n.longValue)))
        case _ => None
      }
    case StringType => value match {
      case u: UTF8String => Some(murmur3x86(u.getBytes))
      case s: String => Some(murmur3x86(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    }
    case BinaryType => value match {
      case b: Array[Byte] => Some(murmur3x86(b))
      case _ => None
    }
    case _ => None
  }

  /** The bucket ordinal `bucket[n]` assigns to `value`. */
  def bucket(value: Any, dt: DataType, n: Int): Option[Int] =
    bucketHash(value, dt).map(h => (h & Int.MaxValue) % n)

  private val BucketTransform = """bucket\[(\d+)\]""".r

  /** Parse `bucket[N]` → N. */
  def bucketWidth(transform: String): Option[Int] = transform match {
    case BucketTransform(n) => Some(n.toInt)
    case _ => None
  }

  private val TruncateTransform = """truncate\[(\d+)\]""".r

  /** Parse `truncate[W]` → W. */
  def truncateWidth(transform: String): Option[Int] = transform match {
    case TruncateTransform(w) => Some(w.toInt)
    case _ => None
  }

  /** Parse a temporal transform name — `year`/`month`/`day`/`hour`. */
  def temporalUnit(transform: String): Option[String] = transform match {
    case "year" | "month" | "day" | "hour" => Some(transform)
    case _ => None
  }

  private val MicrosPerHour = 3_600_000_000L
  private val MicrosPerDay = 86_400_000_000L

  /** The spec's temporal transform ORDINAL of a value in
    * Catalyst-internal form (dates = epoch days Int, timestamps = epoch
    * micros Long — micros are UTC for timestamptz and wall-clock for
    * timestamp, which is exactly what the spec transforms, so no
    * session-timezone conversion may touch this): `year` = years from
    * 1970, `month` = months from 1970-01, `day` = days from 1970-01-01,
    * `hour` = hours from the epoch (timestamps only — the spec does not
    * define hour on date). Pre-epoch values floor DOWN (floorDiv), per
    * spec. None = not applicable (no pruning, never wrong).
    *
    * Temporal transforms are ORDER-PRESERVING (unlike bucket), so a
    * declared ordinal bounds its file's values ([[temporalRange]]). */
  def temporal(value: Any, dt: DataType, unit: String): Option[Int] = {
    val days: Option[Long] = dt match {
      case DateType => value match {
        case n: java.lang.Number => Some(n.longValue)
        case _ => None
      }
      case TimestampType | TimestampNTZType => value match {
        case n: java.lang.Number => Some(java.lang.Math.floorDiv(n.longValue, MicrosPerDay))
        case _ => None
      }
      case _ => None
    }
    unit match {
      case "day" => days.map(_.toInt)
      case "year" | "month" => days.map { d =>
        val ld = java.time.LocalDate.ofEpochDay(d)
        if (unit == "year") ld.getYear - 1970
        else (ld.getYear - 1970) * 12 + ld.getMonthValue - 1
      }
      case "hour" => dt match {
        case TimestampType | TimestampNTZType => value match {
          case n: java.lang.Number =>
            Some(java.lang.Math.floorDiv(n.longValue, MicrosPerHour).toInt)
          case _ => None
        }
        case _ => None // hour(date) is not in the spec
      }
      case _ => None
    }
  }

  /** Inverse of [[temporal]]: the inclusive range of internal values
    * (epoch days for dates, epoch micros for timestamps) whose `unit`
    * ordinal is `t` — what a file's declared temporal partition value
    * says about its rows. None where [[temporal]] is undefined. */
  def temporalRange(t: Int, dt: DataType, unit: String): Option[(Long, Long)] =
    scala.util.Try {
      val epoch = java.time.LocalDate.ofEpochDay(0)
      val days: Option[(Long, Long)] = unit match {
        case "day" => Some((t.toLong, t.toLong))
        case "month" => Some((epoch.plusMonths(t).toEpochDay, epoch.plusMonths(t + 1L).toEpochDay - 1))
        case "year" => Some((epoch.plusYears(t).toEpochDay, epoch.plusYears(t + 1L).toEpochDay - 1))
        case _ => None
      }
      dt match {
        case DateType => days
        case TimestampType | TimestampNTZType =>
          if (unit == "hour") Some((t * MicrosPerHour, (t + 1L) * MicrosPerHour - 1))
          else days.map { case (a, b) => (a * MicrosPerDay, (b + 1) * MicrosPerDay - 1) }
        case _ => None
      }
    }.toOption.flatten

  /** The spec's `truncate[W]` of a value in Catalyst-internal form:
    * integers floor to the containing W-wide interval's start
    * (`v - (v mod W)` with floored mod, so negatives truncate DOWN),
    * strings keep their first W code points. None = not truncatable
    * here (no pruning). */
  def truncate(value: Any, dt: DataType, w: Int): Option[Any] = dt match {
    case IntegerType | LongType => value match {
      case n: java.lang.Number =>
        val l = n.longValue
        Some(l - java.lang.Math.floorMod(l, w.toLong))
      case _ => None
    }
    case StringType => value match {
      case u: UTF8String => Some(u.substring(0, w).toString)
      case s: String => Some(s.codePoints().limit(w.toLong).collect(
        () => new java.lang.StringBuilder(),
        (b: java.lang.StringBuilder, cp: Int) => b.appendCodePoint(cp),
        (a: java.lang.StringBuilder, b: java.lang.StringBuilder) => a.append(b)).toString)
      case _ => None
    }
    case _ => None
  }
}
