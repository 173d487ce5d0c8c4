package graftbench

import java.io.File

import graft.functions.TextOps
import graft.operators.{Dedup, Etl, TextAnalysis}
import graft.sources.{ManifestTable, Tables}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** LLM training-data curation of a corpus that arrives in shards (a
  * crawl's daily drops). A pass curates one shard: quality, URL and
  * language gates, near-dup clustering with quality survivorship,
  * token-exact BPE packing of the survivors and one append to the curated
  * table. Each shard has its own planted exact and near-duplicate
  * clusters and junk. The warmup curates shard 0; the timed phase runs
  * whole passes over the next shards, at least [[Main.MinUnits]], until
  * `--seconds` has passed. */
object Curate extends Workload {
  /** Shards generated: the warmup's and more than a run reaches. */
  val Shards = 5
  /** Documents per shard. A pass is mostly per-job cost (about 60 Spark
    * jobs), so its time hardly moves with the shard's size; the four
    * passes of a run (the warmup's and three timed) curate 10 000
    * documents, twice the testdata's sf0.1 corpus (5 000). */
  val ShardDocs = 2500
  val ClusterSize = 10
  /** Clusters per shard: a tenth of a shard's documents are copies. */
  val ExactClusters = 12
  val NearClusters = 12
  /** Token edits per near-duplicate copy. */
  val Edits = 3
  /** Shares of documents each gate drops: chosen so every gate does work.
    * The testdata corpus cannot calibrate them: its language labels are
    * not reflected in its text, and its URLs are a fixture of doc ids. */
  val JunkShare = 0.04
  val ForeignShare = 0.04
  val BlockedUrlShare = 0.04
  val Sources = Seq("web", "books", "wiki", "news")
  val Stopwords: Seq[String] = TextOps.QualityStopwords
  /** `TextAnalysis.langId`'s English marker words. An English text here
    * holds no other language's markers, so the language gate keeps it
    * exactly when it holds one of these. */
  val EnglishMarkers = Set("the", "and", "of", "to", "a")
  val Spanish = Seq("el", "la", "de", "que", "y", "los", "en", "por")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** One generated shard and what a correct pipeline keeps from it; the
    * clusters hold the members the gates keep. */
  final case class Shard(docs: Seq[Doc], exact: Seq[Seq[Long]], near: Seq[Seq[Long]],
      gatedIds: Set[Long], expectedSurvivors: Long)

  /** Shard directories with their generated truth. */
  final case class State(dir: File, shards: Seq[(String, Shard)], bytes: Long,
      warm: Option[PassOut] = None)

  /** Doc ids encode the URL gate's fixture: `TextAnalysis.urlFilter` keeps
    * exactly the ids divisible by 6. */
  def generate(seed: Long): Seq[Shard] = {
    val r = new java.util.SplittableRandom(seed)
    val syll = Seq("ka", "lo", "mi", "ra", "te", "su", "ven", "dor", "pa", "li", "no", "ber",
      "gu", "sha", "ti", "mon", "qua", "re", "fi", "zel")
    val vocab = (0 until 4000).map(_ => (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.size))).mkString).distinct
    def words(n: Int, markers: Seq[String]) = (0 until n).map(_ =>
      if (r.nextDouble() < 0.25) markers(r.nextInt(markers.size)) else vocab(r.nextInt(vocab.size)))
    def english(n: Int) = words(n, Stopwords).toArray
    var k = 0L
    def nextId(keep: Boolean) = { k += 1; k * 6 + (if (keep) 0 else 1 + r.nextInt(5)) }
    (0 until Shards).map(_ => shard(r, vocab, english, words, nextId))
  }

  private def shard(r: java.util.SplittableRandom, vocab: Seq[String],
      english: Int => Array[String], words: (Int, Seq[String]) => Seq[String],
      nextId: Boolean => Long): Shard = {
    val docs = mutable.ArrayBuffer.empty[Doc]
    val gated = mutable.Set.empty[Long]
    def add(text: String, lang: String, keep: Boolean, passes: Boolean): Long = {
      val id = nextId(keep)
      docs += Doc(id, text, lang, Sources(r.nextInt(Sources.size)))
      if (keep && passes) gated += id
      id
    }
    val exact = (0 until ExactClusters).map { _ =>
      val text = english(80 + r.nextInt(60)).mkString(" ")
      (0 until ClusterSize).map(_ => add(text, "en", keep = true, passes = passesGates(text)))
    }
    val near = (0 until NearClusters).map { _ =>
      val base = english(80 + r.nextInt(60))
      (0 until ClusterSize).map { _ =>
        val t = base.clone()
        (0 until Edits).foreach(_ => t(r.nextInt(t.length)) = vocab(r.nextInt(vocab.size)))
        val text = t.mkString(" ")
        add(text, "en", keep = true, passes = passesGates(text))
      }
    }
    while (docs.size < ShardDocs) {
      val x = r.nextDouble()
      if (x < JunkShare)
        add((0 until 30).map(_ => f"#${r.nextInt(100000)}%05d$$").mkString(" "), "en",
          keep = true, passes = false)
      else if (x < JunkShare + ForeignShare)
        add(words(80 + r.nextInt(60), Spanish).mkString(" "), "es", keep = true, passes = false)
      else if (x < JunkShare + ForeignShare + BlockedUrlShare)
        add(english(80 + r.nextInt(60)).mkString(" "), "en", keep = false, passes = false)
      else {
        val text = english(60 + r.nextInt(80)).mkString(" ")
        add(text, "en", keep = true, passes = passesGates(text))
      }
    }
    // the clusters as the gates leave them: a copy the gates drop never
    // reaches dedup
    def kept(cls: Seq[Seq[Long]]) = cls.map(_.filter(gated)).filter(_.nonEmpty)
    val (exactKept, nearKept) = (kept(exact), kept(near))
    val dropped = (exactKept ++ nearKept).map(_.size - 1).sum
    Shard(docs.toSeq, exactKept, nearKept, gated.toSet, gated.size.toLong - dropped)
  }

  /** Whether the quality and language gates keep an English text: the
    * quality composite of `TextOps.qualityScoreFrom`, rounded to 4
    * places, reaches 0.5, and the text holds an English marker. */
  private def passesGates(text: String): Boolean = {
    val toks = text.split(" ")
    val n = toks.length.toDouble
    val stop = toks.count(Stopwords.contains) / n
    val alpha = text.count(c => c >= 'a' && c <= 'z').toDouble / text.length
    val score = BigDecimal(math.min(1.0, n / 100.0) * 0.3 + stop * 0.3 + alpha * 0.4)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    score >= 0.5 && toks.exists(EnglishMarkers)
  }

  private def write(ctx: Ctx, docs: Seq[Doc], dir: String): Unit = {
    import ctx.spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(ctx.cores).write.parquet(s"$dir/documents.parquet")
  }

  def setup(ctx: Ctx, dir: File): State = {
    val shards = ctx.span("bench", "generate")(generate(ctx.seed)).zipWithIndex.map {
      case (sh, i) =>
        val d = new File(dir, s"shard-$i").getAbsolutePath
        write(ctx, sh.docs, d)
        d -> sh
    }
    State(dir, shards, shards.map(s => Main.treeBytes(new File(s._1))).sum)
  }

  /** Curates shard 0 on a cold JVM, so the timed passes run compiled
    * code; the timed passes append to the table it creates. */
  def warmup(ctx: Ctx, st: State): State = {
    val w = pass(ctx, st.shards.head._1, new File(st.dir, "pass-0"), curatedRoot(st))
    st.copy(warm = Some(w))
  }

  private def curatedRoot(st: State) = new File(st.dir, "curated").getAbsolutePath

  final case class PassOut(ms: Double, cpuMs: Double, gatesMs: Double, dedupMs: Double,
      packMs: Double, appendMs: Double, gated: Long, survivors: Seq[Long], tokens: Long,
      gatedDir: String)

  /** Curates one shard into the curated table at `curatedRoot`. */
  def pass(ctx: Ctx, shardDir: String, out: File, curatedRoot: String): PassOut = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuMs()
    val gatedDir = new File(out, "gated").getAbsolutePath
    val survDir = new File(out, "survivors").getAbsolutePath
    val t = Tables(spark, shardDir)
    val (gated, gatesMs) = Main.timeMs(ctx.span("operators", "gates") {
      val keep = TextAnalysis.qualityScore(t).filter(col("passed")).select("doc_id")
        .join(TextAnalysis.urlFilter(t).filter(col("reason") === "keep").select("doc_id"), "doc_id")
        .join(TextAnalysis.langId(t).filter(col("pred_lang") === "en").select("doc_id"), "doc_id")
      t.documents.join(keep, "doc_id").write.parquet(s"$gatedDir/documents.parquet")
      spark.read.parquet(s"$gatedDir/documents.parquet").count()
    })
    val g = Tables(spark, gatedDir)
    val (survivors, dedupMs) = Main.timeMs(ctx.span("operators", "dedup") {
      val ids = Dedup.survivors(g).select("survivor_id").collect().map(_.getLong(0)).toSeq
      g.documents.filter(col("doc_id").isInCollection(ids))
        .write.parquet(s"$survDir/documents.parquet")
      ids
    })
    val (packed, packMs) = Main.timeMs(ctx.span("operators", "pack") {
      val p = Etl.packSequencesBpe(Tables(spark, survDir)).persist()
      p.count()
      p
    })
    val (_, appendMs) = Main.timeMs(ctx.span("sources.commit", "curated.append")(
      ManifestTable.append(spark, curatedRoot, packed)))
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = Main.cpuMs() - cpu0
    val tokens = if (ctx.tracer.enabled) packed.agg(sum("n_tokens")).head().getLong(0) else 0L
    packed.unpersist()
    PassOut(ms, cpuMs, gatesMs, dedupMs, packMs, appendMs, gated, survivors, tokens, gatedDir)
  }

  def run(ctx: Ctx, st: State): Outcome = {
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[PassOut]
    ctx.span("bench", "timed") {
      while (1 + passes.size < st.shards.size &&
          (passes.size < Main.MinUnits || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
        val i = 1 + passes.size
        passes += pass(ctx, st.shards(i)._1, new File(st.dir, s"pass-$i"), curatedRoot(st))
      }
    }
    val all = st.warm.toSeq ++ passes
    val shards = st.shards.take(all.size).map(_._2)
    val checks = all.zip(shards).zipWithIndex.flatMap { case ((p, sh), i) =>
      val kept = p.survivors.toSet
      Seq(
        s"shard $i: gates keep the generator's passing docs (${sh.gatedIds.size})" ->
          (p.gated == sh.gatedIds.size),
        // equal texts score equally, so the lowest doc id survives
        s"shard $i: every exact-duplicate cluster keeps its lowest doc id, only" ->
          sh.exact.forall(cl => cl.filter(kept) == Seq(cl.min)),
        s"shard $i: every near-duplicate cluster keeps exactly one survivor" ->
          sh.near.forall(cl => cl.count(kept) == 1),
        s"shard $i: survivors = gated docs minus dropped copies (${sh.expectedSurvivors})" ->
          (kept.size == sh.expectedSurvivors))
    } :+ ("curated table holds one row per survivor" ->
      (ManifestTable.read(ctx.spark, curatedRoot(st)).count() == all.map(_.survivors.size).sum))
    val traced = ctx.tracer.enabled
    val pairs =
      if (!traced) 0L
      else ctx.span("bench", "dedup.pairs")(
        Dedup.ngramJaccard(Tables(ctx.spark, passes.last.gatedDir)).count())
    def passP50(f: PassOut => Double) = Stats.median(passes.map(f))
    val layer = Map(
      "operators.gates_s" -> passP50(_.gatesMs) / 1e3,
      "operators.dedup_s" -> passP50(_.dedupMs) / 1e3,
      "operators.pack_s" -> passP50(_.packMs) / 1e3,
      "operators.dedup.pairs" -> pairs.toDouble,
      "operators.dedup.survivors" -> passes.last.survivors.size.toDouble,
      "functions.bpe.tokens" -> passes.last.tokens.toDouble,
      "functions.bpe.tokens_per_s" -> passP50(p => p.tokens / (p.packMs / 1e3)),
      "sources.commit.calls" -> passes.size.toDouble,
      "sources.commit.ms_p50" -> passP50(_.appendMs),
      "sources.commit.ms_p90" -> Stats.quantile(passes.map(_.appendMs), 0.9))
    // the survivor set of a seed must repeat from run to run: compare.py
    // compares this fingerprint across the runs of one seed
    val fingerprint = java.security.MessageDigest.getInstance("SHA-256")
      .digest(all.flatMap(_.survivors).sorted.mkString(",").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    Outcome(
      Map("throughput_per_s" -> Stats.median(passes.map(p => ShardDocs / (p.ms / 1e3))),
        "latency_ms_p50" -> passP50(_.ms),
        "latency_ms_p90" -> Stats.quantile(passes.map(_.ms), 0.9),
        "cpu_ms_per_op" -> passP50(_.cpuMs),
        "stored_bytes_per_input_byte" -> Main.treeBytes(new File(curatedRoot(st))).toDouble /
          st.shards.take(all.size).map(s => Main.treeBytes(new File(s._1))).sum),
      layer, ops = passes.size.toLong, opsFailed = 0L, checks,
      Map("shards" -> all.size, "timed_passes" -> passes.size,
        "docs" -> shards.map(_.docs.size).sum,
        "corpus_bytes" -> st.bytes, "cluster_size" -> ClusterSize,
        "exact_clusters_per_shard" -> ExactClusters, "near_clusters_per_shard" -> NearClusters,
        "near_dup_edits" -> Edits, "junk_share" -> JunkShare, "foreign_share" -> ForeignShare,
        "blocked_url_share" -> BlockedUrlShare, "gated_docs" -> shards.map(_.gatedIds.size).sum,
        "survivors" -> all.map(_.survivors.size).sum, "survivor_fingerprint" -> fingerprint))
  }
}
