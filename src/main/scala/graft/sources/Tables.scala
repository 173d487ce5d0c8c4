package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed row models for the tables where compile-time safety pays off. */
object Models {
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.sql.Timestamp, o_orderpriority: String)
  final case class Document(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
}

/** Loaders for the benchmark tables under a scale-factor directory.
  *
  * Plain parquet reads — schema comes from the files so Catalyst can prune
  * columns and push filters into the scan. At cluster scale these would be
  * catalog tables partitioned/bucketed by their natural keys; the query code
  * is agnostic to that.
  *
  * Spark infers a parquet schema with a one-task job on every read, so an
  * instance infers each table's schema once, on its first read, and hands
  * it to every later read. Every call still returns a fresh relation, so
  * self-joins keep distinct attribute ids. A table rewritten under a live
  * instance with a different schema needs a new instance.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]

  private def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemas.computeIfAbsent(name, _ => spark.read.parquet(path).schema))
      .parquet(path)
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Typed views (Dataset[T]) for operators that want case-class rows. */
  def customerDs: org.apache.spark.sql.Dataset[Models.Customer] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Models.Customer]
    customer.as[Models.Customer]
  }
  def ordersDs: org.apache.spark.sql.Dataset[Models.Order] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Models.Order]
    orders.as[Models.Order]
  }
  def documentsDs: org.apache.spark.sql.Dataset[Models.Document] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Models.Document]
    documents.as[Models.Document]
  }

  /** `events.ts` normalized to session-TZ TIMESTAMP regardless of how the
    * parquet writer flavored it — downstream operators call
    * `unix_millis`/`unix_micros`, which reject TIMESTAMP_NTZ.
    *
    * Writer flavors seen from the generator across rounds:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    [[graft.GraftSession]] and the driver mains) it surfaces as a long
    *    nanos-since-epoch → convert with flooring integer division (double
    *    division loses µs precision on ~2^60 ns values, 53-bit mantissa),
    *    matching DuckDB's ns → µs truncation.
    *  - TIMESTAMP(isAdjustedToUTC=0): surfaces as TIMESTAMP_NTZ → cast to
    *    TIMESTAMP. Value-identical under the UTC session TZ, and identical
    *    to what DuckDB reads, so every oracle is unchanged. */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
