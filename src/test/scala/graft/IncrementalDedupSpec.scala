package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The incremental (snapshot-over-corpus) dedup operator: a persisted
  * signature index, one batch joined against it, survivors appended
  * exactly-once. The board oracle pins the numbers; this spec pins the
  * CONTRACTS the oracle can't see: which ARM caught a dup (exact hash
  * vs LSH bands), shingle-less coverage, determinism across runs, and
  * that candidate generation is blocked on equality keys (batch-sized
  * cost), never a cross product. */
class IncrementalDedupSpec extends SparkSpec {

  /** A dedup-only sf dir — documents.parquet is all the operator reads. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("incrdedup").toString
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(dir: String): Map[Long, (Long, Long)] =
    SparkEntry.queries("dedup_incremental")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  // distinct filler texts long enough to shingle (>= 3 tokens)
  private def filler(i: Long): String =
    s"unique document body number $i with several distinct words alpha$i beta$i gamma$i"

  test("verbatim re-crawls drop; shingle-less exact copies drop via the text-hash arm; " +
    "new docs land exactly once") {
    // ids follow the operator's fixture split: corpus = %4 != 0,
    // batch = %4 == 0, seeded re-crawls = corpus docs with %20 == 1
    // re-appearing under id + 1000000
    val corpus = Seq(
      1L -> "alpha beta", // %20==1 AND too short to shingle: only the exact arm can catch its re-crawl
      21L -> filler(21), // %20==1, normal length: both arms catch it
      2L -> filler(2), 3L -> filler(3), 5L -> filler(5), 7L -> filler(7))
    val batch = Seq(4L -> filler(4), 8L -> filler(8), // fresh content: must survive
      12L -> filler(8)) // within-batch verbatim dup of 8: greedy-by-id drop
    val dir = docsDir(corpus ++ batch)
    val res = run(dir)
    assert(res.keySet === Set(4L, 8L, 12L, 1000001L, 1000021L))
    // seeded re-crawls: dropped (n_in_index 0), dup_of = the corpus source
    assert(res(1000001L) === (1L, 0L), "shingle-less exact re-crawl must drop via the hash arm")
    assert(res(1000021L) === (21L, 0L))
    // fresh docs: survive with EXACTLY one index row — the operator
    // replays its own append, so a broken txn mark would read 2 here
    assert(res(4L) === (-1L, 1L))
    assert(res(8L) === (-1L, 1L))
    // within-batch duplicate: dropped against the smaller surviving id
    assert(res(12L) === (8L, 0L))
  }

  test("deterministic across independent runs (fresh scratch table each time)") {
    val dir = docsDir(Seq(1L -> filler(1), 3L -> filler(3), 4L -> filler(4),
      21L -> filler(21), 8L -> filler(8)))
    assert(run(dir) === run(dir))
  }

  test("candidate generation is equality-blocked: no cartesian, no nested-loop join") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val sigs = Dedup.sigsAllOver(docs)
    val buckets = Dedup.bandBucketsOf(sigs)
    val cand = buckets.as("x").join(buckets.as("y"),
      col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") > col("y.doc_id"))
    val plan = cand.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded candidate join must block on (band, bucket):\n$plan")
    // the exact arm blocks on the two text hashes the same way
    val exact = sigs.as("x").join(sigs.as("y"),
      col("x.th0") === col("y.th0") && col("x.th1") === col("y.th1") &&
        col("x.doc_id") > col("y.doc_id"))
    val ePlan = exact.queryExecution.sparkPlan.toString
    assert(!ePlan.contains("CartesianProduct") && !ePlan.contains("BroadcastNestedLoopJoin"),
      s"exact-hash candidate join must block on (th0, th1):\n$ePlan")
  }

  test("index rows: one per doc, exact hashes never null, signatures null only when shingle-less") {
    import graft.operators.Dedup
    val dir = docsDir(Seq(1L -> "alpha beta", 2L -> filler(2)))
    val sigs = Dedup.sigsAllOver(spark.read.parquet(s"$dir/documents.parquet"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(sigs.size === 2)
    assert(!sigs(1L).isNullAt(1) && !sigs(1L).isNullAt(2), "th0/th1 must be non-null")
    assert(sigs(1L).isNullAt(3), "a 2-token doc has no 3-shingles: null signature")
    assert(!sigs(2L).isNullAt(3), "a shingled doc carries its signature")
  }

  test("banded index probe opens a batch-tracked SUBSET of index files (r16)") {
    import graft.operators.Dedup
    import graft.sources.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("incrprune").toString + "/t"
    // 200 shingled corpus docs spread rows across the 64 pbkt partitions
    val corpus = (1L to 200L).map(i => i -> filler(i)).toDF("doc_id", "text")
    ManifestTable.append(spark, root,
      Dedup.bandedIndexOf(Dedup.sigsAllOver(corpus), Dedup.IndexPbkts)
        .repartition(col("pbkt")).sortWithinPartitions("bucket"),
      partitionBy = Seq("pbkt"))
    val allFiles = ManifestTable.readCandidates(spark, root, lit(true)).size
    // a ONE-doc batch probes at most 9 buckets -> at most 9 pbkt partitions
    val batchSigs = Dedup.sigsAllOver(Seq(9999L -> filler(1)).toDF("doc_id", "text"))
    val probe = Dedup.bandedIndexOf(batchSigs, Dedup.IndexPbkts)
    val keys = probe.select("pbkt", "bucket").distinct().collect()
    val pred = col("pbkt").isin(keys.map(_.getLong(0)).distinct.toIndexedSeq: _*) &&
      col("bucket").isin(keys.map(_.getLong(1)).distinct.toIndexedSeq: _*)
    val opened = ManifestTable.readCandidates(spark, root, pred).size
    assert(opened <= 9 && opened < allFiles,
      s"probe must open batch-tracked files, opened $opened of $allFiles")
    // and the pruned read still finds the re-crawl: the seeded text of
    // doc 1 matches doc 9999's probes through the skipping read
    val cands =
      Dedup.candidateDupsIndexed(spark, root, batchSigs, Dedup.IndexPbkts).collect()
    assert(cands.map(r => (r.getLong(0), r.getLong(1))).contains((9999L, 1L)),
      "pruned probe must still surface the true match")
  }

  test("stream_dedup_incremental: PRIOR-WINS across batches — a batch-1 doc with a " +
    "SMALLER id than its batch-0 collider still drops (greedy-by-id would invert it)") {
    // corpus (doc_id % 4 != 0) = {3: textX, 7: textY}; batch (% 4 == 0)
    // = {4: textY verbatim}. Batch 0 has no collisions, so the index
    // holds both. Doc 4 collides with index doc 7 — under the
    // cross-batch PRIOR-WINS rule 4 drops even though 4 < 7; a global
    // greedy-by-id replay would keep 4 and never even re-judge 7.
    // (No % 20 == 1 ids, so no seeded re-crawls muddy the fixture.)
    val dir = docsDir(Seq(3L -> filler(3), 7L -> filler(7), 4L -> filler(7)))
    val got = SparkEntry.queries("stream_dedup_incremental")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(3L -> 1, 7L -> 1, 4L -> 0),
      s"prior-wins must drop the smaller-id newcomer, got $got")
  }

  test("incrementalWriter (streaming foreachBatch face): bootstrap, steady state, " +
    "deterministic replay with the same survivor delivery") {
    import graft.operators.Dedup
    import graft.sources.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("incrw").toString + "/t"
    val survived = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val w = Dedup.incrementalWriter(root, appId = "spec",
      onSurvivors = (df, bid) =>
        survived += ((bid, df.select("doc_id").collect().map(_.getLong(0)).toSet)))
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // batch 0 bootstraps the index; 11 verbatim-duplicates 10 within the
    // batch (greedy-by-id); 12 is shingle-less
    // r16: the index persists BANDED probe rows — 8 LSH + 1 exact-arm
    // row per shingled doc, just the exact row for shingle-less docs;
    // doc coverage = distinct doc_id, replay-proof = exact-arm rows
    def docsInIndex() = ManifestTable.read(spark, root)
      .select("doc_id").distinct().count()
    def exactRows() = ManifestTable.read(spark, root)
      .filter(col("band") === -1).count()
    w(docs(10L -> filler(10), 11L -> filler(10), 12L -> "alpha beta"), 0L)
    assert(survived.last === ((0L, Set(10L, 12L))))
    assert(docsInIndex() === 2 && exactRows() === 2)
    // the banded layout is hive-partitioned by pbkt (probe locality)
    assert(new java.io.File(s"$root/data").listFiles().exists(_.getName.startsWith("pbkt=")),
      "the index table must carry the pbkt hive layout")
    // batch 1: re-crawl of 10 (near + exact arms) and of the
    // shingle-less 12 (exact arm ONLY) both drop; the fresh doc survives
    w(docs(20L -> filler(10), 21L -> "alpha beta", 22L -> filler(22)), 1L)
    assert(survived.last === ((1L, Set(22L))))
    assert(docsInIndex() === 3 && exactRows() === 3)
    // REPLAY batch 1: the index already holds 22's own rows, which
    // match only themselves (id-excluded) — verdicts recompute identically,
    // the txn mark no-ops the append, the same survivors are delivered
    w(docs(20L -> filler(10), 21L -> "alpha beta", 22L -> filler(22)), 1L)
    assert(docsInIndex() === 3 && exactRows() === 3,
      "a replayed batch must not grow the index")
    assert(survived.last === ((1L, Set(22L))),
      "a replayed batch must deliver the same survivors")
  }
}
