package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A compiled byte-pair-encoding merges table: symbols start as single
  * characters and adjacent pairs merge in RANK ORDER, each pass
  * replacing leftmost non-overlapping occurrences — the standard BPE
  * inference algorithm (Sennrich et al. 2016), in the formulation that
  * an engine-portable oracle can replay exactly.
  *
  * The constructor enforces TOPOLOGICAL validity: every merge
  * constituent is a single character or the product of an EARLIER
  * merge. Real learned BPE tables have this property by construction
  * (a symbol exists only once its producing merge ran), and it is what
  * makes "apply merges in rank order, replacing all occurrences" equal
  * to the textbook "repeatedly merge the lowest-rank pair present":
  * merging creates new pairs only AROUND the new product symbol, and
  * any merge consuming that product outranks the merge that created it
  * — so a pass over rank i can never be invalidated by a later pass.
  */
final class BpeTable(val merges: Seq[(String, String)]) extends Serializable {
  {
    val products = scala.collection.mutable.Set.empty[String]
    merges.foreach { case (a, b) =>
      def ok(s: String) = s.codePointCount(0, s.length) == 1 || products.contains(s)
      require(ok(a) && ok(b),
        s"merge ($a, $b) is not topologically valid: each side must be a " +
          "single character or the product of an earlier merge")
      products += (a + b)
    }
  }

  private val lefts = merges.map(_._1).toArray
  private val rights = merges.map(_._2).toArray

  /** (symbol buffer, live length) after all merges. */
  private def run(s: String): (Array[String], Int) = {
    val syms = new Array[String](s.codePointCount(0, s.length))
    var i = 0; var k = 0
    while (i < s.length) {
      val n = Character.charCount(s.codePointAt(i))
      syms(k) = s.substring(i, i + n); k += 1; i += n
    }
    var len = k
    var m = 0
    while (m < lefts.length) {
      val a = lefts(m); val b = rights(m); val ab = a + b
      var r = 0; var w = 0
      while (r < len) {
        if (r + 1 < len && syms(r) == a && syms(r + 1) == b) {
          syms(w) = ab; r += 2
        } else { syms(w) = syms(r); r += 1 }
        w += 1
      }
      len = w
      m += 1
    }
    (syms, len)
  }

  /** The token (symbol) sequence of a pre-normalized symbol stream. */
  def encode(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty
    val (syms, len) = run(s)
    java.util.Arrays.copyOfRange(syms, 0, len)
  }

  /** Token count — the number a training loader budgets by. */
  def countTokens(s: String): Int =
    if (s.isEmpty) 0 else run(s)._2

  /** Token count under REGEX PRE-TOKENIZATION (the GPT-2 convention):
    * the pattern's matches tile the text into pre-tokens and each
    * encodes independently, so no merge ever crosses a pre-token
    * boundary. Characters outside any match would be dropped — the
    * shipped [[Bpe.PretokPattern]] has an arm for every char class, so
    * coverage is total by construction. */
  def countTokensPretok(s: String, p: java.util.regex.Pattern): Int = {
    if (s.isEmpty) return 0
    val m = p.matcher(s)
    var total = 0
    while (m.find()) total += countTokens(m.group())
    total
  }

  /** [[countTokensPretok]] composed with BYTE-level encoding — the full
    * GPT-2 shape: the regex tiles the RAW text (char classes must see
    * real code points, not byte halves), then each pre-token's UTF-8
    * bytes re-read as ISO-8859-1 encode under a byte-space merges
    * table. */
  def countTokensPretokBytes(s: String, p: java.util.regex.Pattern): Int = {
    if (s.isEmpty) return 0
    val m = p.matcher(s)
    var total = 0
    while (m.find()) total += countTokens(new String(
      m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1))
    total
  }

  /** [[encode]] under regex pre-tokenization: the concatenation of each
    * pre-token's independent encoding (counts = [[countTokensPretok]]
    * by construction). */
  def encodePretok(s: String, p: java.util.regex.Pattern): Array[String] = {
    if (s.isEmpty) return Array.empty
    val m = p.matcher(s)
    val b = Array.newBuilder[String]
    while (m.find()) b ++= encode(m.group())
    b.result()
  }

  /** [[encodePretok]] with the byte-level re-read per pre-token — the
    * token sequence [[countTokensPretokBytes]] counts. Symbols are
    * ISO-8859-1 strings (one char per byte). */
  def encodePretokBytes(s: String, p: java.util.regex.Pattern): Array[String] = {
    if (s.isEmpty) return Array.empty
    val m = p.matcher(s)
    val b = Array.newBuilder[String]
    while (m.find()) b ++= encode(new String(
      m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1))
    b.result()
  }
}

/** BPE tokenization over document text, with an exact DuckDB mirror —
  * the TOKEN-EXACT replacement for the est-BPE `ceil(n_chars/4)`
  * convention the mixing/packing operators default to. The merges table
  * here is a fixed demo vocabulary (32k-entry production tables load
  * the same way — [[BpeTable]] takes any topologically-ordered list);
  * what the oracle pins is the ALGORITHM, bit-for-bit.
  *
  * Scale: tokenization is a per-row codegen'd expression
  * ([[graft.plans.BpeTokenCount]]) — no shuffle, no UDF boundary, the
  * merges table broadcast once inside the codegen references. Cost is
  * O(merges × chars) per row with zero allocation per pass.
  */
object Bpe {

  /** Word-boundary marker substituted for spaces before the char split.
    * No default merge consumes it, so merges stay word-local — the
    * GPT-2-style pre-tokenization boundary. */
  val Boundary = "_"

  /** Demo merges, topologically ordered (every constituent is a single
    * char or an earlier product) — biased toward the fixture corpus's
    * vocabulary so merged words and sub-word tails both occur. */
  val DefaultMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "a" -> "n", "i" -> "n", "e" -> "r", "o" -> "n", "r" -> "e",
    "a" -> "t", "s" -> "t", "o" -> "r", "a" -> "r", "l" -> "e", "o" -> "w",
    "th" -> "e", "an" -> "d", "v" -> "a", "va" -> "l", "u" -> "e",
    "d" -> "at", "dat" -> "a", "j" -> "o", "jo" -> "in", "s" -> "c",
    "sc" -> "an", "t" -> "a", "ta" -> "b", "tab" -> "le")

  private[graft] lazy val defaultTable = new BpeTable(DefaultMerges)

  /** Exact BPE token count of `text` (normalized, spaces → `_`). */
  def tokenCount(text: Column): Column = tokenCount(text, DefaultMerges)

  /** [[tokenCount]] under an arbitrary merges table (e.g. a trained
    * one) — the same codegen expression, different vocabulary. */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    val stream = translate(TextOps.normText(text), " ", Boundary)
    GraftSqlBridge.column(
      graft.plans.BpeTokenCount(GraftSqlBridge.expression(stream), merges))
  }

  /** TRAIN a merges table from a corpus (Sennrich et al. 2016, the
    * learning side): the ONE corpus-scale operation is a word-count
    * groupBy (map-side combined, top-`maxVocab` by count); training
    * then runs on the collected weighted vocabulary — the same bounded
    * k-row collect discipline as `AnnTraining`'s codebooks — merging
    * the most frequent adjacent symbol pair per round with
    * deterministic tie-breaks (count desc, then lexicographic pair),
    * applying each merge leftmost non-overlapping exactly as the
    * encoder does. The result is topologically valid by construction
    * (a pair's sides are current symbols, i.e. chars or earlier
    * products) and loads into the same [[BpeTable]] the codegen
    * expression ships. Stops early when no pair repeats. */
  def train(documents: org.apache.spark.sql.DataFrame, nMerges: Int,
      maxVocab: Int = 4096): BpeTable = {
    val words = documents
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab: Array[(Array[String], Long)] = words.map { case (w, n) =>
      val syms = new Array[String](w.codePointCount(0, w.length))
      var i = 0; var k = 0
      while (i < w.length) {
        val cc = Character.charCount(w.codePointAt(i))
        syms(k) = w.substring(i, i + cc); k += 1; i += cc
      }
      (syms, n)
    }
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i + 1 < syms.length) {
          val key = (syms(i), syms(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + n
          i += 1
        }
      }
      val repeated = counts.filter(_._2 >= 2)
      if (repeated.isEmpty) done = true
      else {
        val best = repeated.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        val (a, b) = best; val ab = a + b
        vocab = vocab.map { case (syms, n) =>
          val out = Array.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += ab; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), n)
        }
        m += 1
      }
    }
    new BpeTable(merges.result())
  }

  /** [[train]] WITHOUT the vocabulary cap — exact Sennrich training at
    * any corpus size: the weighted word vocabulary stays a DISTRIBUTED
    * dataset, and each round's adjacent-pair histogram is an
    * aggregation ON EXECUTORS; the driver ever holds one small
    * candidate slate per round, never the vocabulary. (The capped
    * [[train]] truncates the tail of the word-count distribution; when
    * rare words carry decisive pair mass — frequent sub-strings spread
    * across many rare surface forms, the norm in web corpora — the cap
    * changes learned merges. `BpeSpec` pins a corpus where it does.)
    *
    * Cost: one pair-count aggregation job per merge ROUND, where a
    * round applies a whole BATCH of mutually non-interfering merges
    * (see [[selectMergeBatch]] — provably the pairs the sequential
    * algorithm would pick next in exactly that order), so a production
    * vocabulary costs far fewer Spark jobs than merges. Merge
    * application is a per-round typed map replaying the batch in rank
    * order; the cached round state is swapped each iteration so
    * lineage and storage stay O(1) in rounds. Tie-breaks match
    * [[train]] exactly — candidate ORDERING happens on the driver
    * under the same Scala `(-n, a, b)` key (Java String UTF-16
    * comparison), never under a DataFrame sort whose UTF8String byte
    * order disagrees for supplementary-plane symbols — so the two
    * paths agree merge-for-merge whenever the cap does not bind. */
  def trainFull(documents: org.apache.spark.sql.DataFrame, nMerges: Int): BpeTable =
    trainFullWords(documents
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= ""), nMerges)

  /** [[trainFull]] over a PRE-TOKENIZED word relation (one `w` string
    * column, one row per word occurrence) — the byte-level trainer
    * feeds ISO-8859-1 byte streams here, where re-running the
    * char-level normalizer would case-fold bytes ≥ 0x80 and corrupt
    * the stream. All routing/caps/floors apply unchanged. */
  def trainFullWords(words: org.apache.spark.sql.DataFrame, nMerges: Int): BpeTable = {
    val spark = words.sparkSession
    def intConf(key: String, dflt: Int): Int =
      spark.conf.getOption(key).map(_.toInt).getOrElse(dflt)
    val cap = intConf(LocalVocabCapConf, LocalVocabCapDefault)
    val charsCap = intConf(LocalCharsCapConf, LocalCharsCapDefault)
    val floor = spark.conf.getOption(MinWordCountConf).map(_.toLong).getOrElse(1L)
    val topN = intConf(MaxWordsConf, 0)
    require(cap >= 0, s"$LocalVocabCapConf must be >= 0, got $cap")
    require(floor >= 1, s"$MinWordCountConf must be >= 1, got $floor")
    require(topN >= 0, s"$MaxWordsConf must be >= 0, got $topN")
    // the ONE corpus-scale job either way is this word-count aggregate;
    // limit(cap+1) detects over-cap vocabularies in the same job that
    // would otherwise be the complete collect. The OPT-IN frequency
    // floor (count >= f) applies before routing, to both routes — the
    // standard production truncation (learn_bpe --min-frequency,
    // SentencePiece) and the documented approximation: merges equal
    // exact training ON THE FLOORED TABLE, not on the raw corpus.
    val counted0 = words
      .groupBy("w").agg(count(lit(1)).as("n"))
    val counted = (if (floor > 1) counted0.filter(col("n") >= floor) else counted0)
      .persist()
    try {
      // the route probe is ONE scalar aggregate over limit(cap+1) —
      // never a collect of strings we might throw away; it yields the
      // row count AND the char mass together (whenever n <= cap the
      // limit did not bind, so the char sum is exact — the r14 review
      // folded what had been a second scheduled job into this probe);
      // the persisted aggregate is then reused by whichever route runs,
      // so the corpus-scale job is paid exactly once either way
      val lim = if (cap >= Int.MaxValue) Int.MaxValue else cap + 1
      val probe = counted.limit(lim)
        .agg(count(lit(1)).as("n"), sum(length(col("w"))).as("chars")).head()
      val n = probe.getLong(0)
      val chars = if (probe.isNullAt(1)) 0L else probe.getLong(1)
      def local(rows: Array[org.apache.spark.sql.Row]): BpeTable =
        new BpeTable(trainLocalIncremental(
          rows.map(r => (splitChars(r.getString(0)), r.getLong(1))), nMerges))
      if (n <= cap) {
        // the word COUNT alone is a poor memory proxy (the incremental
        // trainer's pair→occurrences multimap scales with total symbol
        // mass, not row count — the r13 ADVICE finding): the byte gate
        // is total CHARS across the distinct words
        if (chars <= charsCap) local(counted.collect())
        else trainFullBatchedFromCounts(counted, nMerges, candidateK = 512)._1
      } else if (topN > 0) {
        // OPT-IN top-N truncation for web-scale vocabularies (billions
        // of distinct words would otherwise mean the one-job-per-round
        // distributed loop — hours): keep the N heaviest words under a
        // DETERMINISTIC total order (count desc, word asc) and train
        // locally on them. Approximate by declaration: the merge drift
        // vs exact is in SCALE.md, "BPE vocab-scale training".
        // The truncated table must pass the SAME char gate the local
        // route enforces (N heavy long words could otherwise still
        // exceed the driver heap the gate exists to bound) — one tiny
        // aggregate over the topN rows, then the distributed trainer
        // takes over ON THE TRUNCATED TABLE when the gate fails, so
        // the learned merges match the local route either way.
        val trunc = counted.orderBy(col("n").desc, col("w").asc).limit(topN)
        val tc = trunc.agg(sum(length(col("w")))).head()
        val truncChars = if (tc.isNullAt(0)) 0L else tc.getLong(0)
        if (truncChars <= charsCap) local(trunc.collect())
        else trainFullBatchedFromCounts(trunc, nMerges, candidateK = 512)._1
      } else trainFullBatchedFromCounts(counted, nMerges, candidateK = 512)._1
    } finally counted.unpersist()
  }

  /** Vocabularies of at most this many DISTINCT words — AND at most
    * [[LocalCharsCapConf]] total characters across them, the actual
    * memory proxy — train driver-locally inside [[trainFull]]
    * (override with `spark.graft.bpe.localVocabCap` /
    * `spark.graft.bpe.localCharsCap`): the weighted word table is the
    * bounded product of the corpus-scale aggregate, and the
    * incremental trainer then pays microseconds per merge instead of
    * one Spark job per ROUND, the way production tokenizer trainers
    * (HF tokenizers, learn_bpe) work. The char cap bounds the
    * trainer's dominant structure — the pair→occurrences multimap,
    * ~100 bytes per symbol — to low single-digit GB of driver heap at
    * the default 16M chars. Beyond either cap, the provably-batched
    * distributed loop takes over; both paths are exact, so the route
    * never changes the learned merges.
    *
    * Web-scale corpora (billions of distinct words) opt into bounded
    * training with `spark.graft.bpe.minWordCount` (frequency floor,
    * applied to BOTH routes) and/or `spark.graft.bpe.maxWords` (top-N
    * truncation of an over-cap vocabulary, routed local) — exactness
    * then holds relative to the truncated table; drift vs the full
    * exact trainer is measured in SCALE.md ("BPE vocab-scale
    * training"). */
  private[graft] val LocalVocabCapConf = "spark.graft.bpe.localVocabCap"
  private val LocalVocabCapDefault = 4_000_000
  private[graft] val LocalCharsCapConf = "spark.graft.bpe.localCharsCap"
  private val LocalCharsCapDefault = 16_000_000
  private[graft] val MinWordCountConf = "spark.graft.bpe.minWordCount"
  private[graft] val MaxWordsConf = "spark.graft.bpe.maxWords"

  private def splitChars(w: String): Array[String] = {
    val syms = new Array[String](w.codePointCount(0, w.length))
    var i = 0; var k = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      syms(k) = w.substring(i, i + cc); k += 1; i += cc
    }
    syms
  }

  /** The INCREMENTAL exact trainer over a driver-resident weighted
    * vocabulary (Sennrich's learn_bpe / HF-tokenizers shape): pair
    * counts and a pair→word-index occurrence map update only for the
    * words the applied merge touches, and the next best pair pops from
    * a lazy-deletion heap under [[train]]'s exact `(-count, a, b)`
    * order (a popped entry is honored only if its count is CURRENT and
    * ≥ 2 — stale entries from superseded counts discard on pop, and
    * every count change pushes a fresh entry). Merge-for-merge
    * identical to [[train]] by construction — same rule, same
    * tie-break, leftmost non-overlapping application — at near-linear
    * total cost in merged symbol mass instead of O(vocab) per merge. */
  private[graft] def trainLocalIncremental(words: Array[(Array[String], Long)],
      nMerges: Int): Seq[(String, String)] = {
    val syms: Array[Array[String]] = words.map(_._1)
    val weight: Array[Long] = words.map(_._2)
    def pairsOf(s: Array[String]): scala.collection.mutable.HashMap[(String, String), Int] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Int]
      var i = 0
      while (i + 1 < s.length) {
        val k = (s(i), s(i + 1))
        m(k) = m.getOrElse(k, 0) + 1
        i += 1
      }
      m
    }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occurs = scala.collection.mutable.HashMap.empty[(String, String),
      scala.collection.mutable.Set[Int]]
    var idx = 0
    while (idx < syms.length) {
      pairsOf(syms(idx)).foreach { case (k, c) =>
        counts(k) = counts.getOrElse(k, 0L) + c.toLong * weight(idx)
        occurs.getOrElseUpdate(k, scala.collection.mutable.Set.empty) += idx
      }
      idx += 1
    }
    // max-heap whose maximum is train()'s minBy((-n, a, b)) winner:
    // largest count, then lexicographically smallest a, then b
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val ca = y._2.compareTo(x._2)
          if (ca != 0) ca else y._3.compareTo(x._3)
        }
      }
    }
    val pq = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((a, b), n) => if (n >= 2) pq.enqueue((n, a, b)) }
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < nMerges && !done) {
      var best: (String, String) = null
      while (best == null && pq.nonEmpty) {
        val (n, a, b) = pq.dequeue()
        if (n >= 2 && counts.getOrElse((a, b), 0L) == n) best = (a, b)
      }
      if (best == null) done = true
      else {
        merges += best
        val (a, b) = best; val ab = a + b
        val touched = occurs.getOrElse(best, scala.collection.mutable.Set.empty).toArray
        java.util.Arrays.sort(touched) // determinism of heap pushes only; counts are order-free
        touched.foreach { wi =>
          val old = syms(wi)
          val oldPairs = pairsOf(old)
          val out = Array.newBuilder[String]
          var i = 0
          while (i < old.length) {
            if (i + 1 < old.length && old(i) == a && old(i + 1) == b) { out += ab; i += 2 }
            else { out += old(i); i += 1 }
          }
          val nw = out.result()
          syms(wi) = nw
          val newPairs = pairsOf(nw)
          val w = weight(wi)
          (oldPairs.keySet ++ newPairs.keySet).foreach { k =>
            val d = newPairs.getOrElse(k, 0) - oldPairs.getOrElse(k, 0)
            if (d != 0) {
              val nv = counts.getOrElse(k, 0L) + d.toLong * w
              if (nv <= 0L) counts.remove(k) else counts(k) = nv
              if (nv >= 2L) pq.enqueue((nv, k._1, k._2))
            }
            val inNew = newPairs.contains(k)
            if (inNew) occurs.getOrElseUpdate(k, scala.collection.mutable.Set.empty) += wi
            else occurs.get(k).foreach { s => s -= wi; if (s.isEmpty) occurs.remove(k) }
          }
        }
        m += 1
      }
    }
    merges.result()
  }

  /** Exact Scala-side rank key shared with [[train]]'s `minBy`: count
    * desc, then left symbol, then right (Java String order). */
  private val pairRank: Ordering[(String, String, Long)] =
    Ordering.by { case (a, b, n) => (-n, a, b) }

  /** [[trainFull]] exposing the ROUND count so specs can assert that
    * batching engaged (rounds < merges learned). `candidateK` bounds
    * the per-round driver collect. */
  private[graft] def trainFullBatched(documents: org.apache.spark.sql.DataFrame,
      nMerges: Int, candidateK: Int = 512): (BpeTable, Int) =
    trainFullBatchedFromCounts(documents
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n")), nMerges, candidateK)

  /** [[trainFullBatched]] over a PRE-AGGREGATED `(word, count)` frame —
    * what [[trainFull]]'s over-cap route hands through so the
    * corpus-scale word-count job is paid exactly once. */
  private def trainFullBatchedFromCounts(counted: org.apache.spark.sql.DataFrame,
      nMerges: Int, candidateK: Int): (BpeTable, Int) = {
    val spark = counted.sparkSession
    import spark.implicits._
    var cur: org.apache.spark.sql.Dataset[(Array[String], Long)] = counted
      .as[(String, Long)]
      .map { case (w, n) => (splitChars(w), n) }
      .persist()
    // the live symbol set (initial alphabet + every product so far):
    // product collisions with it gate batch growth, see selectMergeBatch
    val symbolSet = scala.collection.mutable.Set.empty[String]
    symbolSet ++= cur.flatMap(_._1.iterator).distinct().collect()
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var rounds = 0
    var done = false
    while (m < nMerges && !done) {
      val pairDs = cur.flatMap { case (syms, n) =>
        (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1), n))
      }.toDF("a", "b", "n")
        .groupBy("a", "b").agg(sum("n").as("cnt"))
        .filter(col("cnt") >= 2)
        .as[(String, String, Long)]
      // top-K by COUNT ONLY (set membership is collation-free); the
      // exact rank order is imposed on the driver under pairRank
      val collected = pairDs.orderBy(col("cnt").desc).limit(candidateK).collect()
      if (collected.isEmpty) done = true
      else {
        val sawBoundary = collected.length == candidateK
        val minCnt = collected.iterator.map(_._3).min
        // rows tied at the boundary count may be arbitrarily in/out of
        // the limit — drop the whole tied stratum so the slate is a
        // complete, deterministic count-prefix of the global histogram
        val eligible = collected.filter(c => !sawBoundary || c._3 > minCnt)
          .sorted(pairRank)
        val batch: Seq[(String, String)] =
          if (eligible.isEmpty) {
            // every collected row ties at one count: the batch rule
            // can't see the full tied cohort, so take the exact global
            // argmin under the SAME Scala ordering, distributively
            val best = pairDs.reduce((x, y) => if (pairRank.lteq(x, y)) x else y)
            Seq((best._1, best._2))
          } else selectMergeBatch(eligible, symbolSet, nMerges - m)
        merges ++= batch
        batch.foreach { case (a, b) => symbolSet += (a + b) }
        val batchArr = batch.toArray
        val next = cur.map { case (syms0, n) =>
          // replay the batch in rank order — identical to the
          // sequential algorithm applying each merge in its own pass
          var syms = syms0
          var len = syms.length
          var bi = 0
          while (bi < batchArr.length) {
            val (a, b) = batchArr(bi); val ab = a + b
            var r = 0; var w = 0
            while (r < len) {
              if (r + 1 < len && syms(r) == a && syms(r + 1) == b) {
                syms(w) = ab; r += 2
              } else { syms(w) = syms(r); r += 1 }
              w += 1
            }
            len = w
            bi += 1
          }
          (java.util.Arrays.copyOfRange(syms, 0, len), n)
        }.localCheckpoint(true) // cut lineage: O(1) plan depth across rounds
        cur.unpersist()
        cur = next
        m += batch.length
        rounds += 1
      }
    }
    cur.unpersist()
    (new BpeTable(merges.result()), rounds)
  }

  /** The longest batch of merges PROVABLY equal to what the sequential
    * algorithm picks next, from `eligible` (a complete count-prefix of
    * the pair histogram, sorted under [[pairRank]]).
    *
    * Accept candidates in rank order while each shares NO symbol with
    * the sides or products of those already accepted. Why this equals
    * sequential: applying an accepted merge leaves every
    * symbol-disjoint pair's count unchanged, and any pair it CREATES
    * — `(x, ab)` or `(ab, y)` — occurs only where an `(x, a)` / `(b,
    * y)` occurrence did, so a created pair's count is bounded by some
    * symbol-SHARING pair's count. Accepted pairs form a gap-free rank
    * prefix, so every sharing pair ranks after the last accepted one
    * (count ≤). Three guards close the remaining holes:
    *
    *   - STOP at the first interfering candidate, and DROP trailing
    *     accepted pairs TIED with the best count that any remaining
    *     pair sharing a symbol still holds — on a tie a created pair
    *     could outrank an accepted one lexicographically;
    *   - STOP after accepting a pair whose product already exists as
    *     a live symbol OR was already produced/used by an earlier
    *     accepted pair: occurrences the merge creates INCREASE counts
    *     of pairs over that symbol — pre-existing ones, or ones a
    *     SIBLING accepted merge also creates (two accepted pairs with
    *     the same product, e.g. (a,bc) and (ab,c) both making "abc",
    *     jointly create pairs whose SUMMED count can outrank a later
    *     accepted pair) — voiding the bound for later picks; the
    *     accepted pair itself is still exact (its own count was
    *     compared before any of its creations existed);
    *   - candidates below the collect boundary are invisible, but the
    *     boundary stratum was dropped, so every invisible count is
    *     STRICTLY below every accepted count — no tie can hide there. */
  private[graft] def selectMergeBatch(eligible: Array[(String, String, Long)],
      symbolSet: scala.collection.Set[String], maxN: Int): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var stop = false
    var i = 0
    while (!stop && i < eligible.length && acc.length < maxN) {
      val (a, b, n) = eligible(i)
      if (used.contains(a) || used.contains(b)) stop = true
      else {
        val prod = a + b
        // checked BEFORE this pair's own entries land in `used`: a
        // product that is a live symbol, an earlier accepted pair's
        // side, or an earlier accepted pair's product all void the
        // created-pair bound for anything accepted after this one
        val productCollides = symbolSet.contains(prod) || used.contains(prod)
        acc += ((a, b, n))
        used += a; used += b; used += prod
        if (productCollides) stop = true
      }
      i += 1
    }
    // the tie guard: best remaining count among pairs sharing a symbol
    // with anything accepted (conservative — computed against the full
    // used set; a larger h only shrinks the batch, never breaks it)
    val accSet = acc.map(t => (t._1, t._2)).toSet
    var h = -1L
    var j = 0
    while (j < eligible.length) {
      val (a, b, n) = eligible(j)
      if (!accSet.contains((a, b)) && (used.contains(a) || used.contains(b)) && n > h) h = n
      j += 1
    }
    while (acc.length > 1 && acc.last._3 == h) acc.remove(acc.length - 1)
    acc.toSeq.map(t => (t._1, t._2))
  }

  /** DuckDB mirror of [[tokenCount]]: every initial char is wrapped as
    * `|c|` (each symbol carrying its OWN delimiter pair, so one
    * `replace('|a||b|' → '|ab|')` per merge is exactly the leftmost
    * non-overlapping pass — adjacent matches share no characters), then
    * symbols are counted as half the delimiter count. Exact on corpora
    * whose text contains neither `|` nor `_` (the fixture corpus is
    * lowercase + space); the Spark expression has no such constraint. */
  def sqlTokenCount(expr: String,
      merges: Seq[(String, String)] = DefaultMerges): String = {
    val norm = TextOps.sqlNormText(expr)
    val stream = s"replace($norm, ' ', '$Boundary')"
    var acc = s"'|' || array_to_string(string_split($stream, ''), '||') || '|'"
    merges.foreach { case (a, b) =>
      acc = s"replace($acc, '|$a||$b|', '|${a + b}|')"
    }
    s"CASE WHEN length($norm) = 0 THEN 0 ELSE " +
      s"CAST((length($acc) - length(replace($acc, '|', ''))) / 2 AS BIGINT) END"
  }

  // ---- regex pre-tokenization (r15) ----------------------------------------

  /** GPT-2-style pre-tokenizer pattern, RE2-SAFE: contractions, then
    * space-prefixed letter runs, digit runs, punctuation runs, then
    * whitespace runs. One deliberate divergence from the exact GPT-2
    * pattern: its trailing-space rule `\s+(?!\S)` is a lookahead RE2
    * (and thus DuckDB) cannot express, so whitespace runs here group
    * WHOLE — on multi-space gaps the last space groups with the gap
    * instead of the following word. Every char class has an arm, so the
    * matches tile the text completely (nothing is silently dropped —
    * pinned in `BpeSpec`). Java and RE2 agree on this pattern:
    * leftmost-first alternation both, `\p{L}`/`\p{N}` Unicode classes
    * both; `\s` differs only on vertical tab (Java includes \x0B, RE2
    * does not) — absent from the fixtures and noted here. */
  val PretokPattern: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** Demo merges for the pre-tokenization A/B: [[DefaultMerges]] plus
    * one merge that CROSSES a letter/digit class boundary ("ue"+"4" —
    * topologically valid: "ue" is an earlier product). Plain mode fires
    * it inside words like "value42"; pre-tokenized mode never can (the
    * boundary splits "value"|"42") — exactly the behavioral difference
    * the convention exists to impose. */
  val PretokDemoMerges: Seq[(String, String)] = DefaultMerges :+ ("ue" -> "4")

  /** Exact BPE token count under GPT-2-style REGEX PRE-TOKENIZATION:
    * the pattern's matches tile the RAW text (no case folding — the
    * GPT-2 convention; plain [[tokenCount]] normalizes, this does not)
    * and each pre-token encodes independently, so merges never cross
    * class boundaries. Same codegen expression, pretok flag set. */
  def tokenCountPretok(text: Column,
      merges: Seq[(String, String)] = PretokDemoMerges): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.plans.BpeTokenCount(
      GraftSqlBridge.expression(text), merges, pretok = Some(PretokPattern)))
  }

  /** DuckDB mirror of [[tokenCountPretok]]: `regexp_extract_all` (RE2,
    * same leftmost-first alternation) tiles the text into pre-tokens,
    * a lambda replays the merge chain per pre-token exactly like
    * [[sqlTokenCount]]'s `|c|`-delimited replay, and `list_sum` adds
    * them up. Exact on corpora whose text contains no `|`. */
  def sqlTokenCountPretok(expr: String,
      merges: Seq[(String, String)] = PretokDemoMerges): String = {
    val sqlPat = PretokPattern.replace("'", "''")
    var acc = "'|' || array_to_string(string_split(p, ''), '||') || '|'"
    merges.foreach { case (a, b) =>
      acc = s"replace($acc, '|$a||$b|', '|${a + b}|')"
    }
    val perTok = s"CAST((length($acc) - length(replace($acc, '|', ''))) / 2 AS BIGINT)"
    // the COALESCE exists for the EMPTY-match-list case (list_sum([]) is
    // NULL); a NULL input must stay NULL like the null-intolerant Spark
    // expression, so guard it separately
    s"CASE WHEN $expr IS NULL THEN NULL ELSE CAST(COALESCE(list_sum(list_transform(" +
      s"regexp_extract_all($expr, '$sqlPat'), p -> $perTok)), 0) AS BIGINT) END"
  }

  // ---- encode (token sequences, not just counts) ----------------------------

  /** The token SEQUENCE of `text` (normalized, spaces → `_`) — what
    * sequence packing and vocabulary-index lookup consume;
    * [[tokenCount]] stays the cheaper face when only budgets matter.
    * Same codegen discipline ([[graft.plans.BpeEncode]]). */
  def encodeTokens(text: Column,
      merges: Seq[(String, String)] = DefaultMerges): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    val stream = translate(TextOps.normText(text), " ", Boundary)
    GraftSqlBridge.column(
      graft.plans.BpeEncode(GraftSqlBridge.expression(stream), merges))
  }

  /** [[encodeTokens]] under GPT-2-style regex pre-tokenization (the
    * sequence [[tokenCountPretok]] counts). */
  def encodeTokensPretok(text: Column,
      merges: Seq[(String, String)] = PretokDemoMerges): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.plans.BpeEncode(
      GraftSqlBridge.expression(text), merges, pretok = Some(PretokPattern)))
  }

  /** [[encodeTokens]] under the composed GPT-2 shape — pre-tokenize on
    * text, byte-level BPE per pre-token (the sequence
    * [[tokenCountGpt2]] counts; symbols are ISO-8859-1 byte strings). */
  def encodeTokensGpt2(text: Column,
      merges: Seq[(String, String)] = Gpt2DemoMerges): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.plans.BpeEncode(
      GraftSqlBridge.expression(text), merges,
      pretok = Some(PretokPattern), pretokBytes = true))
  }

  /** DuckDB mirror of [[encodeTokens]]: the same `|c|`-delimited merge
    * replay as [[sqlTokenCount]], read back as a token LIST (trim the
    * outer delimiters, split on the inner pairs). Exact on corpora
    * whose text contains neither `|` nor `_`. */
  def sqlEncodeTokens(expr: String,
      merges: Seq[(String, String)] = DefaultMerges): String = {
    val norm = TextOps.sqlNormText(expr)
    val stream = s"replace($norm, ' ', '$Boundary')"
    var acc = s"'|' || array_to_string(string_split($stream, ''), '||') || '|'"
    merges.foreach { case (a, b) =>
      acc = s"replace($acc, '|$a||$b|', '|${a + b}|')"
    }
    s"CASE WHEN length($norm) = 0 THEN CAST([] AS VARCHAR[]) " +
      s"ELSE string_split(trim($acc, '|'), '||') END"
  }

  // ---- merges-table artifacts ----------------------------------------------

  /** Persist a trained merges table as a (rank, left, right) parquet
    * artifact — the ship-once form a production pipeline trains in one
    * job and tokenizes with in every later one ([[loadMerges]] is the
    * other half). Overwrite semantics: re-training REPLACES the
    * artifact, the production convention for versioned-by-path
    * tokenizers. Driver-light: a merges table is vocab-sized by
    * construction. */
  def saveMerges(spark: org.apache.spark.sql.SparkSession, table: BpeTable,
      path: String): Unit = {
    import spark.implicits._
    table.merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merges artifact: parquet or CSV (header `rank,left,right`)
    * rows → a [[BpeTable]], rank-ordered. The table constructor
    * re-validates topological order, so a tampered or shuffled
    * artifact fails LOUD instead of tokenizing differently from the
    * trainer that produced it. Bounded driver collect BY CONTRACT
    * (vocab-sized: 32k merges is kilobytes). */
  def loadMerges(spark: org.apache.spark.sql.SparkSession, path: String): BpeTable = {
    val raw =
      if (path.endsWith(".csv")) spark.read.option("header", "true").csv(path)
      else spark.read.parquet(path)
    val rows = raw.select(col("rank").cast("int"), col("left"), col("right"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    val ranks = rows.map(_._1)
    require(ranks.distinct.length == rows.length,
      s"merges artifact at $path repeats a rank")
    require(rows.nonEmpty && ranks.min == 0 && ranks.max == rows.length - 1,
      s"merges artifact at $path has gaps: ranks must be exactly 0..${rows.length - 1}")
    new BpeTable(rows.sortBy(_._1).map(t => (t._2, t._3)).toSeq)
  }

  // ---- GPT-2 published-artifact interop (r16) -------------------------------
  // The r15 verdict's #4: no spec pinned behavior against the PUBLISHED
  // GPT-2 artifact conventions. Zero-egress honesty: the real 50k-merge
  // vocab.json/merges.txt cannot be fetched here, so what ships is (a)
  // the EXACT published byte<->unicode bijection (the Ġ alphabet —
  // closing the "no Ġ remap" divergence: rendering is now a library
  // function, proven bijective), (b) loaders for the PUBLISHED file
  // formats (merges.txt rank lines, vocab.json token->id), expressed
  // back into this leg's latin1 byte alphabet so the existing codegen
  // paths run them unchanged, and (c) token-ID encoding against a
  // loaded vocab. Point the loaders at the published files and the
  // pipeline tokenizes with stock GPT-2 tables; the remaining
  // documented divergence is ONLY the RE2-safe trailing-space pretok
  // rule, pinned with exact divergent inputs in `Gpt2ArtifactSpec`.

  /** The published GPT-2 `bytes_to_unicode` bijection (Radford et al.
    * 2019, encoder.py): the 188 printable latin-1 bytes ['!','~'],
    * ['¡','¬'], ['®','ÿ'] map to themselves; the other 68 bytes map to
    * U+0100+n in byte order (space 0x20 → 'Ġ' U+0120, '\n' → 'Ċ'
    * U+010A — the familiar markers). Index = byte value. */
  val Gpt2ByteToChar: IndexedSeq[Char] = {
    val printable = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
    var shift = 0
    (0 until 256).map { b =>
      if (printable(b)) b.toChar
      else { val c = (256 + shift).toChar; shift += 1; c }
    }
  }

  private val Gpt2CharToByte: Map[Char, Int] =
    Gpt2ByteToChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** Render a token from this leg's latin1 byte alphabet into GPT-2's
    * printable alphabet (the form the published vocab.json uses). */
  def gpt2Render(tokenLatin1: String): String =
    tokenLatin1.map(c => Gpt2ByteToChar(c.toInt))

  /** Inverse of [[gpt2Render]] — published-alphabet token → latin1
    * bytes. Loud on characters outside the published alphabet. */
  def gpt2Unrender(tokenPrintable: String): String =
    tokenPrintable.map(c => Gpt2CharToByte.getOrElse(c, throw new IllegalArgumentException(
      s"'$tokenPrintable' carries '$c' (U+${c.toInt.toHexString}) — not in the GPT-2 " +
        "byte alphabet; not a published-format token")).toChar)

  /** Driver-side ordered line read through the Hadoop FS (artifact
    * files live wherever the table store does; Spark's distributed
    * text read would not preserve line order, which IS the rank). */
  private def readLines(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Load a merges table in the PUBLISHED GPT-2 `merges.txt` format —
    * optional `#version` header, then one "left right" pair per line,
    * rank = line order, symbols in the printable alphabet — expressed
    * back into this leg's latin1 byte alphabet. The [[BpeTable]]
    * constructor re-validates topological order, so a truncated or
    * shuffled file fails LOUD (real GPT-2 merges are topological by
    * construction). */
  def loadGpt2Merges(spark: org.apache.spark.sql.SparkSession,
      path: String): BpeTable = {
    // drop ONLY a first-line version header — a '# #' merge is a legal
    // printable-alphabet pair, and dropWhile would silently eat it and
    // shift every later rank (review-caught r16); the published
    // convention is one '#version' line at most
    val raw = readLines(spark, path)
    val lines = (raw match {
      case h +: rest if h.startsWith("#version") => rest
      case other => other
    }).filter(_.nonEmpty)
    val merges = lines.zipWithIndex.map { case (l, i) =>
      l.split(" ") match {
        case Array(a, b) => (gpt2Unrender(a), gpt2Unrender(b))
        case _ => throw new IllegalArgumentException(
          s"merges artifact at $path line ${i + 1}: '$l' is not 'left right'")
      }
    }
    new BpeTable(merges)
  }

  /** Load a vocabulary in the PUBLISHED GPT-2 `vocab.json` format
    * (printable-alphabet token → id), keyed by the latin1 byte form the
    * codegen encoder emits. Ids must be unique; driver-sized BY
    * CONTRACT (GPT-2's is 50257 entries). */
  def loadGpt2Vocab(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[String, Int] = {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(readLines(spark, path).mkString("\n"))
    val entries = json match {
      case JObject(fs) => fs.map {
        case (tok, JInt(id)) => gpt2Unrender(tok) -> id.toInt
        case (tok, v) => throw new IllegalArgumentException(
          s"vocab artifact at $path: '$tok' maps to non-integer $v")
      }
      case _ => throw new IllegalArgumentException(
        s"vocab artifact at $path is not a JSON object")
    }
    val m = entries.toMap
    require(m.size == entries.size, s"vocab artifact at $path repeats a token")
    require(m.values.toSet.size == m.size, s"vocab artifact at $path repeats an id")
    m
  }

  /** Token IDS under the composed GPT-2 shape against a loaded vocab:
    * [[encodeTokensGpt2]]'s latin1 token sequence mapped through the
    * vocab as a broadcast map literal. A token absent from the vocab
    * surfaces as −1 (loud by visibility: stock artifacts cover every
    * byte, so −1 means mismatched merges/vocab — spec-asserted). */
  def tokenIdsGpt2(text: Column, merges: Seq[(String, String)],
      vocab: Map[String, Int]): Column =
    transform(encodeTokensGpt2(text, merges),
      t => coalesce(element_at(typedLit(vocab), t), lit(-1)))

  // ---- the composed GPT-2 shape: pre-tokenize, then byte-level -------------

  /** Demo merges for the GPT-2-shape A/B: [[DefaultByteMerges]] plus
    * one merge crossing a letter/digit class boundary in byte space
    * ("Ã¤n"+"4" — topologically valid: "Ã¤n" is an earlier product).
    * Plain byte mode fires it inside "än42"; pre-tokenization splits
    * "än"|"42" and never can. */
  lazy val Gpt2DemoMerges: Seq[(String, String)] = // lazy: DefaultByteMerges declares below
    DefaultByteMerges :+ ("Ã¤n" -> "4")

  /** The FULL GPT-2 tokenizer shape: regex pre-tokenization over the
    * RAW text ([[PretokPattern]] — char classes see real code points),
    * then BYTE-level BPE per pre-token (each pre-token's UTF-8 bytes
    * re-read as ISO-8859-1, merges over byte pairs). Two deliberate,
    * documented divergences from stock GPT-2: the RE2-safe
    * trailing-space rule (see [[PretokPattern]]) and no Ġ byte-to-
    * printable remap (a bijective alphabet relabeling that cannot
    * change merge structure or counts when the merges table is
    * expressed in the same alphabet, as here). One codegen expression,
    * scan-stage cost. */
  def tokenCountGpt2(text: Column,
      merges: Seq[(String, String)] = Gpt2DemoMerges): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.plans.BpeTokenCount(
      GraftSqlBridge.expression(text), merges,
      pretok = Some(PretokPattern), pretokBytes = true))
  }

  /** DuckDB mirror of [[tokenCountGpt2]]: `regexp_extract_all` tiles
    * the raw text, and each pre-token replays the byte-space merge
    * chain over its hex-rendered UTF-8 encoding
    * ([[sqlTokenCountBytes]]'s replay inside [[sqlTokenCountPretok]]'s
    * lambda). */
  def sqlTokenCountGpt2(expr: String,
      merges: Seq[(String, String)] = Gpt2DemoMerges): String = {
    val sqlPat = PretokPattern.replace("'", "''")
    def hx(s: String) = s.map(c => f"${c.toInt}%02X").mkString
    var acc = s"""regexp_replace(hex(encode(p)), '(..)', '|\\1|', 'g')"""
    merges.foreach { case (a, b) =>
      acc = s"replace($acc, '|${hx(a)}||${hx(b)}|', '|${hx(a + b)}|')"
    }
    val perTok = s"CAST((length($acc) - length(replace($acc, '|', ''))) / 2 AS BIGINT)"
    // NULL input stays NULL (the Spark expression is null-intolerant);
    // COALESCE covers only the empty-match-list case
    s"CASE WHEN $expr IS NULL THEN NULL ELSE CAST(COALESCE(list_sum(list_transform(" +
      s"regexp_extract_all($expr, '$sqlPat'), p -> $perTok)), 0) AS BIGINT) END"
  }

  // ---- byte-level mode (r15) ----------------------------------------------

  /** The text's UTF-8 BYTES re-read as ISO-8859-1 — one char per byte,
    * code points 0–255 — after which byte-level BPE (the GPT-2/tiktoken
    * shape production models actually ship: a 256-value base alphabet,
    * merges over byte pairs) IS char-level BPE over this stream: the
    * [[BpeTable]] topological check, the codegen
    * [[graft.plans.BpeTokenCount]] expression, and both trainers apply
    * UNCHANGED. Spaces stay single 0x20-byte tokens (no `_` boundary
    * marker: byte merges learned by [[trainBytes]] are word-local
    * because training explodes words, so no learned merge can consume a
    * space; GPT-2's Ġ space-prefix is a pre-tokenizer convention this
    * mode deliberately does not adopt — documented divergence, pinned
    * in `BpeSpec`). Codegen'd builtins end to end (encode/decode). */
  def byteStream(text: Column): Column =
    decode(encode(TextOps.normText(text), "UTF-8"), "ISO-8859-1")

  /** Exact BYTE-level BPE token count of `text` under a byte-space
    * merges table (symbols are ISO-8859-1 chars = bytes). */
  def tokenCountBytes(text: Column,
      merges: Seq[(String, String)] = DefaultByteMerges): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(
      graft.plans.BpeTokenCount(GraftSqlBridge.expression(byteStream(text)), merges))
  }

  /** Byte-level training — [[trainFullWords]] over the byte-stream
    * projection of the corpus's words (tokenized FIRST, then re-read as
    * bytes: the char normalizer must never touch bytes ≥ 0x80). Exact,
    * and topologically valid in byte space by the same argument. */
  def trainBytes(documents: org.apache.spark.sql.DataFrame, nMerges: Int): BpeTable =
    trainFullWords(documents
      .select(explode(TextOps.tokens(col("text"))).as("w0"))
      .filter(col("w0") =!= "")
      .select(decode(encode(col("w0"), "UTF-8"), "ISO-8859-1").as("w")), nMerges)

  /** Demo BYTE merges, topologically ordered in byte space: the UTF-8
    * pair of 'ä' (0xC3 0xA4) fuses first, then chains with ASCII —
    * exercising exactly what the char-level table cannot express. */
  val DefaultByteMerges: Seq[(String, String)] = Seq(
    "Ã" -> "¤", // ä's two UTF-8 bytes
    "Ã¤" -> "n", // 'än' — a multi-byte-rooted chain
    "t" -> "h", "th" -> "e", "i" -> "n", "o" -> "n", "e" -> "r", "a" -> "t")

  /** DuckDB mirror of [[tokenCountBytes]]: the byte stream renders as
    * the UPPERCASE HEX of the UTF-8 encoding (2 hex chars = 1 byte =
    * 1 base symbol), and the merge chain replays over `|XX||YY|`
    * symbol-delimited hex exactly like [[sqlTokenCount]]'s char
    * replay. */
  def sqlTokenCountBytes(expr: String,
      merges: Seq[(String, String)] = DefaultByteMerges): String = {
    val norm = TextOps.sqlNormText(expr)
    def hx(s: String) = s.map(c => f"${c.toInt}%02X").mkString
    var acc = s"""regexp_replace(hex(encode($norm)), '(..)', '|\\1|', 'g')"""
    merges.foreach { case (a, b) =>
      acc = s"replace($acc, '|${hx(a)}||${hx(b)}|', '|${hx(a + b)}|')"
    }
    s"CASE WHEN length($norm) = 0 THEN 0 ELSE " +
      s"CAST((length($acc) - length(replace($acc, '|', ''))) / 2 AS BIGINT) END"
  }
}
