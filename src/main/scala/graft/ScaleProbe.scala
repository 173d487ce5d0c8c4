package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: runs the shuffle-heavy operators (dedup suite, TPC-H q3/q9,
  * TF-IDF) against a synthetically scaled-up copy of sf0.1 and accounts for
  * the resources that decide cluster behavior — shuffle bytes, spill, peak
  * execution memory — via a `SparkListener` over task metrics.
  *
  * The scaled dataset models the 100-TB shape: FACTS GROW, DIMS DON'T.
  * `lineitem`/`orders` are unioned `SPARK_GRAFT_SCALE` times with shifted
  * order keys (join integrity preserved); `documents` copies get a distinct
  * ` ~c<i>` text suffix so each source doc becomes a near-duplicate cluster
  * (stressing the pairwise-candidate path instead of the trivial exact-dup
  * collapse); `embeddings` copies keep their vectors (10-deep ANN buckets);
  * dimension tables are carried over unchanged.
  *
  * Runs with `spark.sql.shuffle.partitions=200` — the cluster-like setting,
  * NOT the local bench's 32 — so per-partition sizes and AQE coalescing
  * behave as they would on a real fleet.
  *
  * Usage: `sbt "runMain graft.ScaleProbe"`; env knobs
  * `SPARK_GRAFT_SCALE` (default 10), `SPARK_GRAFT_SCALE_DIR`
  * (default /tmp/graft_scale<N>), `SPARK_GRAFT_CPUS` (default 32).
  * Writes the per-operator table to SCALE.md.
  */
object ScaleProbe {

  /** The task-metrics listener: counts jobs started, stages completed and
    * tasks ended, and sums task run time, GC, shuffle read/write, spill
    * and input rows (peak execution memory is the max per task) between
    * `reset()` and a read. Events arrive on the listener bus
    * asynchronously: drain it with `GraftSparkBridge.waitListenerBusEmpty`
    * before reading, or queued task-end events are missed.
    *
    * [[compiles]] reads the codegen classes Janino compiled since
    * `reset()` (or construction), from Spark's own `CodegenMetrics`
    * counter. That counter is JVM-wide, not per listener: it counts every
    * session's compiles in this JVM. A warm pass that still compiles
    * missed the codegen cache: an eviction, or a class whose name or code
    * differs per run (whole-stage classes carry AQE's stage id).
    */
  final class Acc extends SparkListener {
    val jobs, stages, tasks, runMs, gcMs, shufRead, shufWrite, spillMem, spillDisk,
      inRows, peakMem = new AtomicLong
    private val compiles0 = new AtomicLong(compileCount)
    def compiles: Long = compileCount - compiles0.get
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        inRows.addAndGet(m.inputMetrics.recordsRead)
        peakMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }
    def reset(): Unit = {
      Seq(jobs, stages, tasks, runMs, gcMs, shufRead, shufWrite,
        spillMem, spillDisk, inRows, peakMem).foreach(_.set(0))
      compiles0.set(compileCount)
    }
  }

  /** Codegen classes (whole-stage and expression) compiled in this JVM
    * so far. */
  def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val KeyStride = 1L << 40 // far above any sf key; copies never collide

  private def buildScaled(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val fs = new java.io.File(dst)
    if (new java.io.File(fs, "_SCALE_OK").exists()) return
    fs.mkdirs()
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    def replicate(df: DataFrame, edit: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => edit(df, i)).reduce(_ unionAll _)

    // facts: shift order keys per copy; cust/part/supp keys unchanged → dims stay valid
    write(replicate(read("lineitem"), (d, i) => d.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyStride))), "lineitem")
    write(replicate(read("orders"), (d, i) => d.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyStride))), "orders")
    // documents: distinct suffix per copy → near-dup clusters, not exact dups
    write(replicate(read("documents"), (d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * KeyStride))
        .withColumn("text", if (i == 0) col("text") else concat(col("text"), lit(s" ~c$i")))
        .withColumn("n_chars", length(col("text")).cast("long"))), "documents")
    write(replicate(read("embeddings"), (d, i) => d.withColumn("vec_id", col("vec_id") + lit(i * KeyStride))), "embeddings")
    // events: fresh ids AND a fresh user space per copy — the sessionization /
    // window family must see copies× more parallel per-user timelines, not
    // copies× longer ones (events.ts is raw TIMESTAMP(NANOS) int64 here —
    // Tables.events converts, so only ids need shifting)
    write(replicate(read("events"), (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * KeyStride))
        .withColumn("user_id", col("user_id") + lit(i * KeyStride))), "events")
    // dims carried over unscaled
    Seq("region", "nation", "customer", "supplier", "part").foreach(t => write(read(t), t))
    new java.io.FileOutputStream(new java.io.File(fs, "_SCALE_OK")).close()
  }

  private val DefaultProbeQueries = Seq(
    "q3_shipping_priority", "q9_product_profit", "profile_lineitem",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_ngram_ppjoin",
    "dedup_ngram_ppjoin_hi",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding",
    "dedup_clusters", "dedup_clusters_star",
    "dedup_contamination", "dedup_contamination_bloom",
    "text_tfidf", "q_topk_native",
    "q_sessionization_batch", "stream_session_counts", "etl_upsert_latest",
    "etl_pack_sequences", "etl_scd2_user_state", "etl_zorder_key",
    "q_trailing_window",
    // round-5 additions: the shuffle-heavy new shapes — triple self-join
    // (q21), fact-wide left join + double agg (q13), multi-dim star (q8),
    // HAVING semi-join (q18), LSH-bucketed k-NN join, posting-list LM join
    "q8_market_share", "q13_cust_distribution", "q18_large_volume",
    "q21_waiting_suppliers", "sim_knn_join", "text_lm_score",
    // round-10 additions: anchor-grouped substring spans, token-exact BPE
    "dedup_substring", "text_bpe_tokens",
    // round-11 additions: banded dHash self-join, two-leg pair
    // contamination, row-local CLIP-score gate, multimodal packing window
    "mm_dhash_neardup", "mm_pair_contamination", "mm_pair_alignment",
    "mm_modality_tokens",
    // round-15 additions: row-local URL/HTML/model/byte-BPE gates (flat
    // by construction — the probe proves no shuffle growth) and the
    // snapshot-over-corpus incremental dedup (batch-tracking cost: its
    // candidate joins block on LSH bands + exact hashes of the BATCH)
    "dedup_url", "text_html_extract", "text_model_filter",
    "text_bpe_bytes", "dedup_incremental", "text_bpe_pretok",
    "text_bpe_gpt2", "text_bpe_encode", "text_lm_bigram",
    "text_ppl_buckets", "text_ppl_sample", "text_url_filter", "text_lm_ref",
    "text_pipeline_funnel", "text_lm_trigram")

  /** A/B: the custom bounded-heap [[graft.plans.TopKPerKey]] operator vs
    * the window-rank formulation of the identical query, on the scaled
    * fact table. Returns (heapSec, windowSec). */
  private def topkAB(spark: SparkSession, dir: String): (Double, Double) = {
    import org.apache.spark.sql.expressions.Window
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      Bench.materialize(df)
      (System.nanoTime() - t0) / 1e9
    }
    val heap = graft.plans.TopKPerKey(orders, Seq("o_orderpriority"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 10)
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    // the baseline KEEPS the rank column: with it dropped, TopKRewriteRule
    // would rewrite this side onto the heap too and the A/B would compare
    // the operator to itself
    val win = orders.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
    (time(heap), time(win))
  }

  /** A/B: prefix-filtered PPJoin vs the posting-list join for the SAME
    * exact-Jaccard output at the production threshold τ=0.7 — the regime
    * prefix filtering exists for (prefix ≈ 30%% of each set; at the low
    * τ=0.2 the posting form is the measured winner). Returns
    * (ppjoinSec, postingSec). */
  private def ppjoinAB(spark: SparkSession, dir: String): (Double, Double) = {
    val t = graft.sources.Tables(spark, dir)
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      Bench.materialize(df)
      (System.nanoTime() - t0) / 1e9
    }
    val tau = 0.7 // JaccardHiTau — the dedup_ngram_ppjoin_hi threshold
    (time(graft.operators.Dedup.ngramPpjoinAt(t, tau)),
      time(graft.operators.Dedup.ngramJaccardAt(t, tau)))
  }

  private def gb(b: Long): String = f"${b / 1e9}%.2f"

  def main(args: Array[String]): Unit = {
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", s"/tmp/graft_scale$copies")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-scale-probe", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 200) // cluster-like, not local-tuned
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    buildScaled(spark, src, dst, copies)

    // SPARK_GRAFT_PROBE=q1,q2 probes a subset (prints only; SCALE.md is
    // rewritten exclusively by full-list runs so the table stays complete)
    val subset = sys.env.get("SPARK_GRAFT_PROBE").map(_.split(',').map(_.trim).toSeq)
    val probeQueries = subset.getOrElse(DefaultProbeQueries)

    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)

    val rows = probeQueries.map { name =>
      val fn = SparkEntry.queries(name)
      acc.reset()
      val t0 = System.nanoTime()
      Bench.materialize(fn(spark, dst))
      val sec = (System.nanoTime() - t0) / 1e9
      // deterministic drain — a fixed sleep undercounts on a loaded bus
      org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext)
      // SNAPSHOT the metrics before the row count below re-executes the
      // query — otherwise every byte/spill column would sum two passes
      val (inR, sw, sr, sm, sd, pk) = (acc.inRows.get, acc.shufWrite.get,
        acc.shufRead.get, acc.spillMem.get, acc.spillDisk.get, acc.peakMem.get)
      val outRows = fn(spark, dst).count()
      // drain count()'s task events before the next reset
      org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext)
      val r = f"| $name | $inR%,d | $outRows%,d | $sec%.1f | ${gb(sw)} | ${gb(sr)} | ${gb(sm)} | ${gb(sd)} | ${pk / (1 << 20)} |"
      println(r)
      r
    }

    val doc = new StringBuilder
    doc ++= s"""# SCALE — shuffle/spill accounting at ${copies}× sf0.1
               |
               |Generated by `sbt "runMain graft.ScaleProbe"` (see its scaladoc for the
               |scaled-dataset construction: facts ×$copies with shifted keys, documents as
               |$copies-member near-dup clusters, dims unscaled). `local[$cpus]`,
               |`spark.sql.shuffle.partitions=200` (cluster-like), AQE on. Metrics are
               |task-metric sums per query: one cold pass, noop-format write (full plan
               |evaluation). `peak_mem` is the max per-task execution memory — the number
               |that must fit an executor's share at scale.
               |
               || query | input_rows | output_rows | sec | shuffle_write_GB | shuffle_read_GB | spill_mem_GB | spill_disk_GB | peak_task_mem_MB |
               ||---|---|---|---|---|---|---|---|---|
               |""".stripMargin
    rows.foreach(r => doc ++= r + "\n")
    // the A/B costs two scaled-orders materializations: always on full
    // runs, opt-in (SPARK_GRAFT_AB=1) when probing a subset for speed
    val abLine = if (subset.isEmpty || sys.env.get("SPARK_GRAFT_AB").contains("1")) {
      val (heapSec, winSec) = topkAB(spark, dst)
      val (ppSec, postSec) = ppjoinAB(spark, dst)
      val l = f"""
                 |Top-k-per-key A/B on the scaled `orders` (k=10 per priority):
                 |custom bounded-heap `TopKPerKey` $heapSec%.1f s vs window-rank
                 |formulation $winSec%.1f s (${winSec / heapSec}%.1fx).
                 |
                 |Exact-Jaccard A/B at the production threshold τ=0.7 (same output,
                 |two physical plans): prefix-filtered PPJoin $ppSec%.1f s vs
                 |posting-list join $postSec%.1f s (${postSec / ppSec}%.2fx).
                 |""".stripMargin
      println(l)
      l
    } else ""
    if (subset.isEmpty) {
      doc ++= abLine
      // regenerating the tables must not clobber the hand-written analysis:
      // carry any existing "## Findings" section over verbatim
      val old = new java.io.File("SCALE.md")
      if (old.exists()) {
        val prev = scala.io.Source.fromFile(old, "UTF-8").mkString
        val i = prev.indexOf("## Findings")
        if (i >= 0) doc ++= "\n" + prev.substring(i)
      }
      val out = new java.io.PrintWriter("SCALE.md", "UTF-8")
      try out.print(doc.toString) finally out.close()
      println(s"wrote SCALE.md (${rows.size} operators, ${copies}x $src)")
    } else println(s"subset probe (${rows.size} operators) — SCALE.md left untouched")
    spark.stop()
  }
}
