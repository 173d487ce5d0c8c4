package graft

import graft.operators.{Dedup, Etl, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Spark's codegen cache holds 100 classes by default, fewer than one
  * curation pass generates (`Dedup.survivors` alone needs more), so at
  * that size every pass recompiles nearly all its classes with Janino.
  * [[GraftSession]] sizes the cache to hold the working set. A repeated
  * pass then recompiles only whole-stage classes whose name changed: the
  * name carries the stage id AQE assigns, and that numbering can differ
  * between runs of one plan (0 to 16 such classes per warm pass here,
  * against ~140 when the cache evicts). The compile counter is JVM-wide;
  * test suites run one at a time in one forked JVM, so nothing else
  * compiles while this suite reads it. */
class CodegenCacheSpec extends SparkSpec {

  /** The curation pass's shape: the three gates joined, survivorship
    * over near-dup clusters, BPE packing. */
  private def curatePass(): Unit = {
    val t = Tables(spark, sf0001)
    val keep = TextAnalysis.qualityScore(t).filter(col("passed")).select("doc_id")
      .join(TextAnalysis.urlFilter(t).filter(col("reason") === "keep").select("doc_id"), "doc_id")
      .join(TextAnalysis.langId(t).filter(col("pred_lang") === "en").select("doc_id"), "doc_id")
    Bench.materialize(t.documents.join(keep, "doc_id"))
    Bench.materialize(Dedup.survivors(t))
    Bench.materialize(Etl.packSequencesBpe(t))
  }

  test("graft sessions size the codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a repeated curation pass reuses its compiled classes") {
    val compiles = (1 to 3).map { _ =>
      val c0 = ScaleProbe.compileCount
      curatePass()
      ScaleProbe.compileCount - c0
    }
    assert(compiles.last < 40L, s"compiles per pass: ${compiles.mkString(", ")}")
  }
}
