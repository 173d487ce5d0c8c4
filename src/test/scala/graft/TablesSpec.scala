package graft

import java.util.concurrent.atomic.AtomicLong

import graft.operators.Profiler
import graft.sources.Tables
import org.apache.spark.GraftSparkBridge.waitListenerBusEmpty
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

class TablesSpec extends SparkSpec {

  test("typed Dataset accessors round-trip case classes") {
    val t = Tables(spark, sf0001)
    val c = t.customerDs.head()
    assert(c.c_custkey >= 0 && c.c_mktsegment.nonEmpty)
    val topSpender = t.ordersDs.collect().maxBy(_.o_totalprice)
    assert(topSpender.o_totalprice > 0)
    assert(t.documentsDs.filter((d: graft.sources.Models.Document) => d.n_chars > 0).count() > 0)
  }

  test("an instance infers each table's schema once; every read is a fresh relation") {
    val t = Tables(spark, sf0001)
    val first = t.documents
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    waitListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val second = try {
      val d = t.documents
      waitListenerBusEmpty(spark.sparkContext)
      d
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0L, "the second read inferred the schema again")
    assert(second.schema === first.schema)
    assert(second.collect().toSet === spark.read.parquet(s"$sf0001/documents.parquet").collect().toSet)
    // distinct attribute ids: a self-join resolves without ambiguity
    val self = first.as("x").join(second.as("y"), col("x.doc_id") === col("y.doc_id"))
    assert(self.count() === first.count())
  }

  test("approx profile variant (HLL distinct) is close to exact") {
    val t = Tables(spark, sf0001)
    val exact = Profiler.profile(t.orders).collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Long]("n_distinct")).toMap
    val approx = Profiler.profile(t.orders, approx = true).collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Long]("n_distinct")).toMap
    exact.foreach { case (c, n) =>
      assert(math.abs(approx(c) - n) <= math.max(2L, (n * 0.1).toLong), s"column $c: $n vs ${approx(c)}")
    }
  }

  test("file-based streaming ingestion: readStream over parquet events") {
    // the streaming file source wants a directory of files
    val dir = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf0001/events.parquet"), dir.resolve("part-0.parquet"))
    val src = spark.read.parquet(s"$sf0001/events.parquet")
    val stream = spark.readStream.schema(src.schema).parquet(dir.toString)
    assert(stream.isStreaming)
    val q = stream.groupBy("event_type").count()
      .writeStream.format("memory").queryName("filestream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("filestream").count() == 5) // five event types
    } finally q.stop()
  }
}
