package graft.operators

import graft.QueryDef
import graft.functions.{Hashing, TextOps, VectorOps}
import graft.sources.{ManifestTable, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data curation: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: nothing here is O(n²) over the corpus. Candidate pairs
  * always come from an equality join on a blocking key (shared shingle,
  * LSH band bucket, SimHash chunk, sign bucket), so Spark plans an
  * ordinary shuffle-hash join whose cost tracks the true near-duplicate
  * density, not n². Ubiquitous shingles are df-capped (prefix-filtering
  * style) so no posting list explodes on stop-phrases. All hashing is
  * md5-derived ([[graft.functions.Hashing]]) — deterministic across
  * cluster re-runs and bit-equal in the DuckDB oracle.
  */
object Dedup {

  /** Max document frequency for a shingle to participate in candidate
    * generation (prefix filtering for the Jaccard join). */
  private val DfCap = 1000

  private val JaccardTau = 0.2

  /** Production near-dup threshold — the regime prefix filtering is FOR
    * (prefix ≈ 30% of each set instead of 81% at τ=0.2). Registered as
    * `dedup_ngram_ppjoin_hi` and A/B-measured in ScaleProbe. */
  private val JaccardHiTau = 0.7
  private val CosineTau = 0.35
  private val SimhashMaxHamming = 5
  private val MinhashPerms = 16 // 8 bands × 2 rows

  // ---- shared shingle relation ------------------------------------------

  /** Exact-duplicate groups: one representative (min id) per normalized
    * text, with the full sorted member list. Every text-derived pairwise
    * operator runs on representatives only and expands group members back
    * at the end — identical docs otherwise inflate every posting list by
    * their multiplicity and the intermediate pair count by its square,
    * which is exactly the corpus shape LLM dedup runs against. */
  private def textGroups(t: Tables): DataFrame =
    t.documents
      .groupBy(
        Hashing.md5Long(TextOps.normText(col("text"))).as("text_h0"),
        Hashing.md5Long(TextOps.normText(col("text")), 1).as("text_h1"))
      .agg(min(col("doc_id")).as("rep"), sort_array(collect_list(col("doc_id"))).as("members"))

  private def repDocs(t: Tables): DataFrame =
    t.documents.join(textGroups(t).select(col("rep").as("doc_id")), "doc_id")

  /** In-row generation of all C(n,2) ordered pairs from a sorted array
    * column — shared by posting-pair and within-group expansion. */
  private def pairExpr(arrayCol: String) = expr(
    s"""flatten(transform(sequence(0, size($arrayCol) - 2),
       |  i -> transform(sequence(i + 1, size($arrayCol) - 1),
       |         k -> named_struct('a', $arrayCol[i], 'b', $arrayCol[k]))))""".stripMargin)

  /** All intra-group pairs (a < b), for expanding group-internal results. */
  private def withinGroupPairs(groups: DataFrame): DataFrame =
    groups
      .filter(size(col("members")) >= 2)
      .select(col("rep"), explode(pairExpr("members")).as("p"))
      .select(col("rep"), col("p.a").as("a"), col("p.b").as("b"))

  /** Cross-group expansion of representative pairs to member pairs. */
  private def expandRepPairs(repPairs: DataFrame, groups: DataFrame, carry: Seq[String]): DataFrame =
    repPairs
      .join(groups.select(col("rep").as("ra"), col("members").as("ma")), "ra")
      .join(groups.select(col("rep").as("rb"), col("members").as("mb")), "rb")
      .select((carry.map(col) ++ Seq(col("mb"), explode(col("ma")).as("a"))): _*)
      .select((carry.map(col) :+ col("a") :+ explode(col("mb")).as("b")): _*)
      .select((Seq(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b")) ++ carry.map(col)): _*)

  /** (doc_id, sh) with sh the 60-bit hash of each distinct shingle — join
    * keys and shuffle rows stay 8 bytes instead of ~25-byte strings.
    * Computed over group representatives only. */
  private def shingleRel(t: Tables): DataFrame =
    repDocs(t)
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), explode(array_distinct(TextOps.shingles("toks"))).as("shingle"))
      .select(col("doc_id"), Hashing.md5Long(col("shingle")).as("sh"))

  private def sqlShingleCtes: String =
    s"""toks AS (SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks FROM documents),
       |sh AS (SELECT doc_id, ${Hashing.sqlMd5Long("shingle")} AS sh FROM
       |       (SELECT doc_id, unnest(list_distinct(${TextOps.sqlShingles("toks")})) AS shingle FROM toks))""".stripMargin

  // ---- exact ------------------------------------------------------------

  /** Exact dedup on normalized text: one survivor (min id) per group.
    * At scale: a single hash aggregation on two independent 60-bit text
    * hashes (120 collision bits — ~n²/2^121 false merges, negligible at
    * any corpus size) — group on the hashes, not the full text, so
    * shuffle rows stay narrow. */
  def exact(t: Tables): DataFrame =
    t.documents
      .groupBy(
        Hashing.md5Long(TextOps.normText(col("text"))).as("text_h0"),
        Hashing.md5Long(TextOps.normText(col("text")), 1).as("text_h1"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")

  private val exactSql =
    s"""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       |FROM documents
       |GROUP BY ${Hashing.sqlMd5Long(TextOps.sqlNormText("text"))},
       |         ${Hashing.sqlMd5Long(TextOps.sqlNormText("text"), 1)}
       |ORDER BY doc_id""".stripMargin

  // ---- n-gram Jaccard ----------------------------------------------------

  /** Word-3-gram Jaccard similarity join: pairs with J ≥ τ, where J is
    * computed over the df-capped shingle space — ubiquitous shingles
    * (boilerplate/licenses with df > DfCap) are excluded from BOTH the
    * intersection and the set sizes, on the engine and the oracle alike.
    * That is the operator's semantics, not an approximation of raw J:
    * near-dup detection wants resemblance on discriminative content. */
  def ngramJaccard(t: Tables): DataFrame = ngramJaccardPairs(t).orderBy("a", "b")

  /** Posting-form Jaccard at an arbitrary threshold — the ScaleProbe A/B
    * counterpart of [[ngramPpjoinAt]]. */
  private[graft] def ngramJaccardAt(t: Tables, tau: Double): DataFrame =
    ngramJaccardPairsAt(t, tau).orderBy("a", "b")

  private def ngramJaccardPairs(t: Tables): DataFrame = ngramJaccardPairsAt(t, JaccardTau)

  /** Unsorted pair relation (a, b, jaccard) — consumers that don't need
    * the presentation sort (e.g. [[clusters]]) use this directly. */
  private def ngramJaccardPairsAt(t: Tables, tau: Double): DataFrame = {
    // Posting-list formulation: ONE aggregation turns the shingle relation
    // into (shingle → sorted doc list, df); candidate pairs are generated
    // in-row from each capped posting (C(df,2) with df ≤ DfCap) instead of
    // a self-join, and doc shingle-set sizes re-derive from the same
    // aggregate — Catalyst's ReuseExchange runs the expensive
    // tokenize→shingle→hash scan once. No executor cache required.
    // df for the cap is MEMBER-level (each duplicate copy counts), matching
    // the oracle's naive HAVING count(*) — the rep-level posting carries
    // each group's member count so the two formulations stay equivalent on
    // duplicated corpora.
    val groupSizes = textGroups(t).select(col("rep").as("doc_id"), size(col("members")).as("gsz"))
    // no broadcast hints on per-document relations: at corpus scale they
    // exceed broadcast limits; the joins below are narrow shuffle joins
    // (AQE still broadcasts them when they fit)
    val postings = shingleRel(t)
      .join(groupSizes, "doc_id")
      .groupBy("sh")
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"), sum(col("gsz")).as("df"))
      .filter(col("df") <= DfCap)
    // The pair aggregate below is this plan's dominant cost (36 GB mem-spill
    // at 10× — ScaleProbe). Posting-list deduplication (collapse identical
    // doc-lists to one weighted row — clique-internal shingles all post the
    // same member list) was A/B-measured as the trim and LOST: 46 s → 66 s,
    // spill unchanged, peak task memory 331 MB → 1096 MB, because the pair
    // volume is dominated by mid-df CROSS-clique shingles whose lists are
    // all distinct (nothing collapses), while the array-keyed groupBy adds
    // a heavyweight aggregation. The spill is pair-volume-bound: Σ C(df,2)
    // over kept shingles is what any exact posting-form counter must emit,
    // DfCap bounds it, and it spills to disk sequentially rather than
    // OOMing — at τ this low the scale path is dedup_minhash_lsh (5.3 s /
    // zero spill at 10×), not exact counting.
    val inter = postings
      .filter(size(col("docs")) >= 2)
      .select(explode(pairExpr("docs")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = postings
      .select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val repPairs = inter
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), "b")
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("a").as("ra"), col("b").as("rb"), round(col("jaccard"), 4).as("jaccard"))
    // expand representative pairs to member pairs; identical docs (same
    // group, provided the text shingles at all) are J = 1.0 by definition
    val groups = textGroups(t)
    val cross = expandRepPairs(repPairs, groups, Seq("jaccard"))
    val within = withinGroupPairs(groups)
      .join(sizes.select(col("doc_id").as("rep")), "rep") // rep must have shingles
      .select(col("a"), col("b"), lit(1.0).as("jaccard"))
    cross.union(within)
  }

  private def ngramJaccardSqlAt(tau: Double) =
    s"""WITH $sqlShingleCtes,
       |kept AS (SELECT sh.doc_id, sh.sh FROM sh
       |         JOIN (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $DfCap) keep
       |         USING (sh)),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
       |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |          FROM kept x JOIN kept y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |          GROUP BY x.doc_id, y.doc_id)
       |SELECT a, b, round(inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = a
       |JOIN sizes sb ON sb.doc_id = b
       |WHERE inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= $tau
       |ORDER BY a, b""".stripMargin

  private val ngramJaccardSql = ngramJaccardSqlAt(JaccardTau)

  // ---- exact substring spans (suffix-array family) -----------------------

  /** Anchor length in tokens for the REGISTERED `dedup_substring` board
    * query. Production corpus dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"; RefinedWeb; Dolma)
    * anchors at 50 tokens — the sf fixture documents average ~50 tokens
    * total, so the board query runs k = 5 to exercise both full-document
    * and partial spans; [[substringSpansAt]] takes any k. */
  private val SubstringK = 5

  /** EXACT substring dedup — the suffix-array family's operator
    * (Lee et al. 2022): every maximal token span whose k-token windows
    * each occur at ≥ 2 positions corpus-wide, reported per document as
    * `(doc_id, span_start, span_end, n_tokens)` in token coordinates
    * over the normalized text. A downstream pass can cut or mask these
    * spans; the span relation itself is the verifiable core.
    *
    * Spark shape (shingle-anchored, never corpus²):
    *   1. `(doc, pos, hash(k-gram))` — one row per token position,
    *      linear in corpus token count;
    *   2. duplicated anchors = ONE `groupBy(hash) HAVING count ≥ 2` —
    *      hash-partitioned, 8-byte keys, map-side partial counts;
    *   3. membership join back (equality on the hash, AQE-planned);
    *   4. per-document gaps-and-islands merge of overlapping anchor
    *      windows — windows partitioned BY doc_id, so no global sort
    *      and no driver state.
    * The suffix-array formulation buys better constants single-node;
    * this formulation is what parallelizes: both shuffles key on
    * uniformly-distributed hashes, and per-doc work is bounded by
    * document length. At k=50 the k× slice blowup of step 1 would be
    * replaced by a rolling (Rabin-Karp) hash expression — the 8-byte
    * anchor stream is the same either way. */
  def substringSpans(t: Tables): DataFrame = substringSpansAt(t, SubstringK)

  private[graft] def substringSpansAt(t: Tables, k: Int): DataFrame =
    substringSpansOver(t.documents, k)

  /** (doc_id, p, h) — one row per token position with the 60-bit hash
    * of the k-gram starting there. Linear in corpus token count. */
  private def substringAnchorRel(documents: DataFrame, k: Int): DataFrame =
    documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0, size(toks) - $k)")).as("p"))
      .select(col("doc_id"), col("p"),
        Hashing.md5Long(expr(s"array_join(slice(toks, p + 1, $k), ' ')")).as("h"))

  /** Per-doc gaps-and-islands merge of flagged anchor positions into
    * maximal spans — windows partition by doc_id, no global sort. */
  private def anchorsToSpans(anchors: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("p")
    anchors
      .withColumn("brk", when(col("p") - lag("p", 1).over(w) <= k, 0).otherwise(1))
      .withColumn("g", sum("brk").over(w))
      .groupBy(col("doc_id"), col("g"))
      .agg(min("p").as("s"), max("p").as("m"))
      .select(col("doc_id"),
        col("s").cast("long").as("span_start"),
        (col("m") + lit(k) - 1).cast("long").as("span_end"),
        (col("m") + lit(k) - col("s")).cast("long").as("n_tokens"))
      .orderBy("doc_id", "span_start")
  }

  private[graft] def substringSpansOver(documents: DataFrame, k: Int): DataFrame = {
    val pos = substringAnchorRel(documents, k)
    val dup = pos.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("h")
    anchorsToSpans(pos.join(dup, "h").select("doc_id", "p"), k)
  }

  /** KEEP-FIRST substring spans — Lee et al. 2022's actual removal rule:
    * of each duplicated k-gram's occurrences, the corpus-wide FIRST (by
    * (doc_id, position), compared as a STRUCT — no packed encoding, so
    * no document-length or id-range cap) survives; only later
    * occurrences are flagged for cutting, so exactly one copy of every
    * duplicated substring remains in the corpus. Same plan weight as
    * [[substringSpans]]: the duplicate-detection aggregate additionally
    * carries a min of the position struct — still one groupBy on the
    * 8-byte hash. */
  def substringKeepFirst(t: Tables): DataFrame =
    substringKeepFirstAt(t, SubstringK)

  private[graft] def substringKeepFirstAt(t: Tables, k: Int): DataFrame =
    substringKeepFirstOver(t.documents, k)

  private[graft] def substringKeepFirstOver(documents: DataFrame, k: Int): DataFrame = {
    val pos = substringAnchorRel(documents, k)
    val at = struct(col("doc_id"), col("p"))
    val firsts = pos.groupBy("h")
      .agg(count(lit(1)).as("df"), min(at).as("first"))
      .filter(col("df") >= 2)
      .select("h", "first")
    val anchors = pos.join(firsts, "h")
      .filter(at > col("first"))
      .select("doc_id", "p")
    anchorsToSpans(anchors, k)
  }

  private def substringKeepFirstSql(k: Int) = {
    val kg = s"array_to_string(toks[i:i+$k-1], ' ')"
    s"""WITH toks AS (SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks FROM documents),
       |pos0 AS (SELECT doc_id, unnest(range(1, len(toks) - $k + 2)) AS i, toks
       |         FROM toks WHERE len(toks) >= $k),
       |pos AS (SELECT doc_id, i - 1 AS p, ${Hashing.sqlMd5Long(kg)} AS h FROM pos0),
       |firsts AS (SELECT h, min(ROW(doc_id, p)) AS first
       |           FROM pos GROUP BY h HAVING count(*) >= 2),
       |anchors AS (SELECT doc_id, p FROM pos JOIN firsts USING (h)
       |            WHERE ROW(doc_id, p) > first),
       |flag AS (SELECT doc_id, p,
       |  CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $k
       |       THEN 0 ELSE 1 END AS brk FROM anchors),
       |grp AS (SELECT doc_id, p,
       |  sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM flag)
       |SELECT doc_id, min(p) AS span_start, max(p) + $k - 1 AS span_end,
       |  max(p) + $k - min(p) AS n_tokens
       |FROM grp GROUP BY doc_id, g
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** The CUT step completing exact substring dedup: remove every
    * flagged span's tokens from every document and reassemble —
    * reported as before/after token counts plus the md5 of the cleaned
    * text (narrow output at any corpus size; the cleaned corpus itself
    * is this same plan minus the hash). Aggressive variant (all
    * duplicated occurrences cut) — the conservative keep-first
    * refinement changes only the span relation, not this consumer.
    *
    * Plan: positions relation (linear in corpus tokens) left-anti
    * range-joined to the per-doc span list — spans broadcast per doc
    * via a doc-keyed equality join, the range predicate rides it, so
    * the join is an ordinary hash join whose per-row work is bounded by
    * the doc's span count; survivors reassemble with one per-doc
    * aggregate (sorted struct collect). */
  def substringCut(t: Tables): DataFrame = substringCutAt(t, SubstringK)

  private[graft] def substringCutAt(t: Tables, k: Int): DataFrame = {
    // r19 (guide §2.3/§8: move decisions, not payloads): the old plan
    // posexploded EVERY corpus token into a relation, range-anti-joined
    // it against the span list, and re-assembled each doc with a
    // sort_array(collect_list) aggregate — two shuffles carrying the
    // whole corpus's tokens. The spans are per-doc and few; collecting
    // THEM to a per-doc array (span-count-sized shuffle) and cutting
    // row-locally keeps the tokens inside their scan rows end to end —
    // the only corpus-scale shuffles left are the span detection's own.
    val spansPerDoc = substringSpansOver(t.documents, k)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))))
        .as("spans"))
    // the spans are disjoint and, sorted, ascending (gaps-and-islands
    // output), so the survivors are exactly the GAPS between them: one
    // slice() per gap — per-doc work tracks the SPAN count, not the
    // token count — concatenated in order (no re-sort). A per-token
    // exists() filter was A/B'd and lost (~0.4 s: interpreted lambda
    // per token).
    val keptExpr = expr(
      """CASE WHEN size(spans) = 0 THEN toks ELSE
        |  flatten(transform(sequence(0, size(spans)), i ->
        |    slice(toks,
        |      CAST((CASE WHEN i = 0 THEN 0 ELSE spans[i-1].e + 1 END) + 1 AS INT),
        |      CAST((CASE WHEN i = size(spans) THEN size(toks)
        |            ELSE spans[i].s END)
        |        - (CASE WHEN i = 0 THEN 0 ELSE spans[i-1].e + 1 END) AS INT))))
        |END""".stripMargin)
    t.documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .join(spansPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("spans"), expr("array()")).as("spans"))
      .withColumn("kept", keptExpr)
      // a doc whose every token was cut emits no row (the exploded
      // formulation's semantics: no surviving token rows, no group)
      .filter(size(col("kept")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        md5(expr("array_join(kept, ' ')")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  private def substringCutSql(k: Int) =
    s"""WITH spans AS (${substringSql(k).replace("ORDER BY doc_id, span_start", "")}),
       |toks AS (SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks FROM documents),
       |pos AS (SELECT doc_id, len(toks) AS n_before, unnest(toks) AS tok,
       |               unnest(range(len(toks))) AS p FROM toks),
       |kept AS (SELECT pos.* FROM pos
       |         WHERE NOT EXISTS (SELECT 1 FROM spans s
       |           WHERE s.doc_id = pos.doc_id
       |             AND pos.p >= s.span_start AND pos.p <= s.span_end))
       |SELECT doc_id, n_before, count(*) AS n_after,
       |  md5(string_agg(tok, ' ' ORDER BY p)) AS cleaned_md5
       |FROM kept GROUP BY doc_id, n_before
       |ORDER BY doc_id""".stripMargin

  private def substringSql(k: Int) = {
    val kg = s"array_to_string(toks[i:i+$k-1], ' ')"
    s"""WITH toks AS (SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks FROM documents),
       |pos0 AS (SELECT doc_id, unnest(range(1, len(toks) - $k + 2)) AS i, toks
       |         FROM toks WHERE len(toks) >= $k),
       |pos AS (SELECT doc_id, i - 1 AS p, ${Hashing.sqlMd5Long(kg)} AS h FROM pos0),
       |dup AS (SELECT h FROM pos GROUP BY h HAVING count(*) >= 2),
       |anchors AS (SELECT doc_id, p FROM pos JOIN dup USING (h)),
       |flag AS (SELECT doc_id, p,
       |  CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= $k
       |       THEN 0 ELSE 1 END AS brk FROM anchors),
       |grp AS (SELECT doc_id, p,
       |  sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM flag)
       |SELECT doc_id, min(p) AS span_start, max(p) + $k - 1 AS span_end,
       |  max(p) + $k - min(p) AS n_tokens
       |FROM grp GROUP BY doc_id, g
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** Exact n-gram Jaccard via prefix-filtered self-join (All-Pairs /
    * PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08) — the
    * SAME output as [[ngramJaccard]] (one oracle serves both) — the
    * complementary physical plan for the same logical operator.
    *
    * MEASURED guidance (ScaleProbe, 10× sf0.1 clique corpus): at the low
    * τ=0.2 configured here the prefix is n−⌈τn⌉+1 ≈ 81% of each set, so
    * candidates barely shrink and the array-carrying verify join spills
    * more than the posting form's pair aggregate (151 s / 245 GB spill
    * vs 52 s / 66 GB) — prefer [[ngramJaccard]] at τ ≤ ~0.3. At the
    * production threshold τ=0.7 the crossover is MEASURED, not assumed
    * (ScaleProbe A/B, same output from both plans): prefix-filtered
    * PPJoin 39.4 s vs posting form 64.4 s (1.63×), with the registered
    * `dedup_ngram_ppjoin_hi` run spilling 9× less than its τ=0.2
    * counterpart (10.5 vs 91.7 GB) — the prefix is ≈ 30% of the set,
    * candidate volume shrinks quadratically, and the verify join touches
    * only the surviving sliver.
    *
    * Candidate generation: order each doc's (df-capped) shingles rarest-
    * first by (df, sh); index only the PREFIX of length n − ⌈τ·n⌉ + 1.
    * Prefix-filtering principle: if J(x,y) ≥ τ then o ≥ τ·|x| and the
    * first shared shingle in the global order lies inside BOTH prefixes —
    * so the prefix equality self-join misses no true pair. A length
    * filter (min(n) ≥ τ·max(n), implied by J ≥ τ) prunes further at the
    * join. Verification is map-side exact: carry both shingle arrays,
    * `array_intersect`, no pair-level aggregation at all — the only
    * pair-level shuffle is the candidate `distinct()`. */
  def ngramPpjoin(t: Tables): DataFrame = ngramPpjoinAt(t, JaccardTau)

  /** [[ngramPpjoin]] at the production threshold [[JaccardHiTau]]. */
  def ngramPpjoinHi(t: Tables): DataFrame = ngramPpjoinAt(t, JaccardHiTau)

  private[graft] def ngramPpjoinAt(t: Tables, tau: Double): DataFrame = {
    val groupSizes = textGroups(t).select(col("rep").as("doc_id"), size(col("members")).as("gsz"))
    val sh = shingleRel(t).join(groupSizes, "doc_id")
    val dfRel = sh.groupBy("sh").agg(sum(col("gsz")).as("df")).filter(col("df") <= DfCap)
    val kept = sh.join(dfRel, "sh")
    // per-doc shingle array, rarest-first; plen = n - ceil(tau*n) + 1.
    // r20: the SMALLER side of a pair only needs the INDEXING prefix
    // n − ⌈2τ/(1+τ)·n⌉ + 1 (Bayardo et al. WWW'07 — with x ≤ y in the
    // size order, minoverlap = τ/(1+τ)(n_x+n_y) ≥ 2τ/(1+τ)·n_x, so the
    // pair's first shared shingle sits within that shorter probe prefix
    // of x AND within y's full plen prefix). The 1e-9 slack before the
    // ceil only ever LENGTHENS the prefix (admits candidates) when
    // 2τ/(1+τ)·n lands on an exact integer in float arithmetic.
    val docArr = kept.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("arr"))
      .select(col("doc_id"), expr("transform(arr, e -> e.sh)").as("shs"), size(col("arr")).as("n"))
      .withColumn("plen", col("n") - ceil(lit(tau) * col("n")).cast("int") + lit(1))
      .withColumn("plen_s", least(col("plen"),
        col("n") - ceil(lit(2 * tau / (1 + tau)) * col("n") - lit(1e-9)).cast("int") + lit(1)))
    // prefix rows carry their 1-based POSITION in the rarest-first order
    // (r19): the PPJoin positional filter (Xiao et al. WWW'08 §3.2)
    // upper-bounds a matched pair's possible overlap by what remains
    // after the match — 1 + min(n_x − p_x, n_y − p_y) — and J ≥ τ needs
    // overlap ≥ τ/(1+τ)·(n_x+n_y), so rows whose bound falls short are
    // pruned BEFORE the candidate aggregate and the array-carrying
    // verify join. Lossless: the pair's FIRST shared shingle in the
    // global order lies in both prefixes with all o common shingles at
    // later-or-equal positions, so that row's bound ≥ o ≥ the
    // threshold; the 1e-9 slack only ever ADMITS borderline pairs
    // (exact verification still decides), never drops one.
    val prefix = docArr
      .select(col("doc_id"), col("n"), col("plen_s"),
        posexplode(slice(col("shs"), lit(1), col("plen"))))
      .select(col("doc_id"), col("n"), col("plen_s"),
        (col("pos") + 1).as("p"), col("col").as("sh"))
    // probe side: the indexing-prefix subset; pairs orient smaller set
    // (ties by id) on the probe side, so each unordered pair is
    // generated exactly once
    val probe = prefix.filter(col("p") <= col("plen_s"))
      .select(col("doc_id"), col("n"), col("p"), col("sh"))
    val index = prefix.select(col("doc_id"), col("n"), col("p"), col("sh"))
    val minOverlap = lit(tau / (1 + tau)) * (col("x.n") + col("y.n")) - lit(1e-9)
    val matched = probe.as("x").join(index.as("y"),
        col("x.sh") === col("y.sh") &&
          (col("x.n") < col("y.n") ||
            (col("x.n") === col("y.n") && col("x.doc_id") < col("y.doc_id"))) &&
          col("x.n") >= lit(tau) * col("y.n") &&
          (lit(1) + least(col("x.n") - col("x.p"), col("y.n") - col("y.p"))).cast("double")
            >= minOverlap)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
    val cand = matched.distinct()
    val repPairs = cand
      .join(docArr.select(col("doc_id").as("a"), col("shs").as("sa"), col("n").as("na")), "a")
      .join(docArr.select(col("doc_id").as("b"), col("shs").as("sb"), col("n").as("nb")), "b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("a").as("ra"), col("b").as("rb"), round(col("jaccard"), 4).as("jaccard"))
    val groups = textGroups(t)
    val cross = expandRepPairs(repPairs, groups, Seq("jaccard"))
    val within = withinGroupPairs(groups)
      .join(docArr.select(col("doc_id").as("rep")), "rep")
      .select(col("a"), col("b"), lit(1.0).as("jaccard"))
    cross.union(within).orderBy("a", "b")
  }

  // ---- benchmark decontamination -----------------------------------------

  /** Stand-in benchmark split: the reference corpus to decontaminate
    * against. In production this is the held-out eval set; here two
    * stable `source` partitions of the documents table. */
  private val BenchSources = Seq("src0", "src1")

  /** Min distinct shared shingles for a contamination flag. */
  private val MinShared = 5

  /** Train/benchmark decontamination: corpus docs sharing ≥ [[MinShared]]
    * distinct (df-capped) word-3-gram shingles with any benchmark doc —
    * the overlap audit run before training on scraped data (n-gram
    * overlap is the standard contamination test). Blocked on the shingle
    * hash like every dedup operator: cost tracks true overlap, never
    * |corpus| × |benchmark|; the df cap keeps boilerplate shingles from
    * manufacturing pairs. */
  def contamination(t: Tables): DataFrame = {
    val sh = t.documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(TextOps.shingles("toks"))).as("shingle"))
      .select(col("doc_id"), col("source"), Hashing.md5Long(col("shingle")).as("sh"))
    val dfRel = sh.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= DfCap)
    val kept = sh.join(dfRel.select("sh"), "sh")
    val bench = kept.filter(col("source").isin(BenchSources: _*))
      .select(col("sh"), col("doc_id").as("bench_id"))
    val corpus = kept.filter(!col("source").isin(BenchSources: _*))
      .select(col("sh"), col("doc_id"))
    corpus.join(bench, "sh")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("doc_id", "bench_id")
  }

  private val contaminationSql = {
    val benchList = BenchSources.map(s => s"'$s'").mkString("(", ",", ")")
    s"""WITH t AS (SELECT doc_id, source, ${TextOps.sqlTokens("text")} AS toks FROM documents),
       |sh0 AS (SELECT doc_id, source, ${Hashing.sqlMd5Long("shingle")} AS sh FROM
       |        (SELECT doc_id, source, unnest(list_distinct(${TextOps.sqlShingles("toks")})) AS shingle
       |         FROM t)),
       |kept AS (SELECT sh0.* FROM sh0
       |         JOIN (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= $DfCap) k USING (sh))
       |SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
       |FROM kept c JOIN kept b ON c.sh = b.sh
       |WHERE c.source NOT IN $benchList AND b.source IN $benchList
       |GROUP BY 1, 2 HAVING count(*) >= $MinShared
       |ORDER BY 1, 2""".stripMargin
  }

  /** [[contamination]] with a broadcast Bloom prefilter on the corpus side
    * — the shape that survives a 100-TB corpus. The benchmark split is
    * small by nature, so its distinct shingle hashes fit a driver-built
    * Bloom sketch (~1.2 MB/million keys at 1% fpp); the corpus's shingle
    * rows probe it via [[graft.plans.BloomMightContain]] (codegen, one bit
    * test per row) BEFORE any join, so the corpus-side shuffle carries
    * only the ~fpp + true-overlap fraction instead of every shingle. The
    * df-cap aggregate still scans everything (one map-combining hash agg
    * — linear, and required for semantics identical to the exact
    * operator), and the join on survivors is exact, so Bloom false
    * positives drop out and the result matches [[contamination]] row for
    * row — same oracle. */
  def contaminationBloom(t: Tables): DataFrame = {
    val sh = t.documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(TextOps.shingles("toks"))).as("shingle"))
      .select(col("doc_id"), col("source"), Hashing.md5Long(col("shingle")).as("sh"))
    val bench = sh.filter(col("source").isin(BenchSources: _*))
    // size the sketch from a column-pruned doc count (NOT a second pass
    // over the shingle pipeline): distinct shingles per doc ≤ tokens ≈
    // chars/5, and overestimating just pads the (tiny) bit array
    val benchDocs = t.documents
      .filter(col("source").isin(BenchSources: _*))
      .select(coalesce(sum(greatest(col("n_chars"), lit(64L))), lit(0L))).head().getLong(0)
    val bloom = graft.plans.BloomMightContain.build(
      bench.select("sh").distinct(), "sh",
      expectedItems = math.max(benchDocs / 5, 1000L), fpp = 0.01)
    val dfRel = sh.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= DfCap)
    val keptBench = bench.join(dfRel.select("sh"), "sh")
      .select(col("sh"), col("doc_id").as("bench_id"))
    val keptCorpus = sh.filter(!col("source").isin(BenchSources: _*))
      // pre-shuffle prune; size-aware transport (literal vs broadcast)
      .where(graft.plans.BloomMightContain(col("sh"), bloom, t.spark))
      .join(dfRel.select("sh"), "sh")
      .select(col("sh"), col("doc_id"))
    keptCorpus.join(keptBench, "sh")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
      .orderBy("doc_id", "bench_id")
  }

  // ---- MinHash + LSH -----------------------------------------------------

  /** Universal-hash constants for the minhash permutation family:
    * perm_i(h) = (A_i·(h mod P) + B_i) mod P over prime P < 2^30, so the
    * product stays < 2^60 — portable to any engine with 64-bit ints and
    * 16× cheaper than hashing every shingle 16 times. */
  private val P = 1073741789L
  private def permA(i: Int): Long = 1234567L + 2L * i
  private def permB(i: Int): Long = 7654321L + 31L * i

  /** MinHash signatures (Broder, "On the resemblance and containment of
    * documents", SEQUENCES'97; universal-hash family over the md5 shingle
    * hash) + banded LSH: candidate pairs sharing ≥1 of 8 bands (2 rows
    * each).
    * The signature computation is one aggregation over the exploded
    * shingle relation; the band join is an equality join on (band,
    * bucket). */
  /** One-aggregation minhash signatures over the shingle relation. */
  private[operators] def minhashSigs(sh: DataFrame): DataFrame = {
    val minAggs = (0 until MinhashPerms).map(i =>
      min((lit(permA(i)) * (col("sh") % P) + permB(i)) % P).as(s"h$i"))
    sh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
  }

  /** (doc_id, band, bucket) rows of a signature frame — the LSH blocking
    * relation every banded join (self-join pairs, incremental
    * batch-vs-index) blocks on. Docs without signatures (no shingles —
    * null components) emit no rows: they cannot near-dup-match. */
  private[graft] def bandBucketsOf(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until MinhashPerms / 2).map { b =>
      struct(lit(b).as("band"),
        Hashing.md5Long(concat_ws(",", col(s"h${2 * b}"), col(s"h${2 * b + 1}")), 100 + b).as("bucket"))
    }
    sigs.filter(col("h0").isNotNull)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Banded-LSH candidate pairs (representatives, a < b, distinct). */
  private def lshRepPairs(sigs: DataFrame): DataFrame = {
    val buckets = bandBucketsOf(sigs)
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ra"), col("y.doc_id").as("rb"))
      .distinct()
  }

  def minhashLsh(t: Tables): DataFrame = {
    val sigs = minhashSigs(shingleRel(t))
    val repPairs = lshRepPairs(sigs)
    // identical docs share every band by construction → all within-group
    // pairs (for groups whose text shingles) are candidates
    val groups = textGroups(t)
    val cross = expandRepPairs(repPairs, groups, Seq.empty)
    val within = withinGroupPairs(groups)
      .join(sigs.select(col("doc_id").as("rep")), "rep")
      .select(col("a"), col("b"))
    cross.union(within).orderBy("a", "b")
  }

  // shared between the LSH and estimator-audit oracles — ONE definition
  // of the permutation min-agg columns and band-bucket rows
  private[operators] val sqlMinhashCols: String = (0 until MinhashPerms)
    .map(i => s"min((${permA(i)} * (sh % $P) + ${permB(i)}) % $P) AS h$i").mkString(",\n  ")
  private[operators] val sqlBandRows: String = (0 until MinhashPerms / 2).map { b =>
    s"SELECT doc_id, $b AS band, ${Hashing.sqlMd5Long(s"concat(h${2 * b}, ',', h${2 * b + 1})", 100 + b)} AS bucket FROM sigs"
  }.mkString("\nUNION ALL\n")

  private val minhashLshSql =
    s"""WITH $sqlShingleCtes,
       |sigs AS (SELECT doc_id,
       |  $sqlMinhashCols
       |  FROM sh GROUP BY doc_id),
       |buckets AS ($sqlBandRows)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |FROM buckets x JOIN buckets y
       |  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |ORDER BY a, b""".stripMargin

  /** Estimator-accuracy audit for the minhash family — the LSH analogue
    * of the IVF/PQ recall curves: for every LSH candidate pair (group
    * representatives), the signature-agreement estimate of Jaccard
    * (agreeing components / [[MinhashPerms]] — E[agreement] = J by
    * Broder's theorem) next to the TRUE shingle Jaccard and the absolute
    * error. The audit that sizes how many permutations a target error
    * needs before re-indexing a 100-TB corpus.
    *
    * Cost shape: the truth side computes exact Jaccard ONLY for docs
    * appearing in candidate pairs (semi-joined posting intersection),
    * never all-pairs. */
  def minhashEst(t: Tables): DataFrame = {
    val sh = shingleRel(t)
    // The 25-exchange logical plan here is NOT worth "fixing" with
    // persist(): sigs/repPairs/shp are each re-joined 3-4× downstream, but
    // physical ReuseExchange already dedupes the repeated subtrees, and
    // the r7 ScaleProbe A/B at 10× measured every persist variant SLOWER
    // (none 38.8 s, all three frames 43.6 s, sigs+repPairs only 49.6 s —
    // identical 345,400-row output): materializing a cache breaks the
    // pipelined scans feeding the self-joins and serializes frames whose
    // recomputation the exchange reuse had already made nearly free.
    val sigs = minhashSigs(sh)
    val repPairs = lshRepPairs(sigs)
    val agree = (0 until MinhashPerms)
      .map(i => when(col(s"xa.h$i") === col(s"xb.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = repPairs
      .join(sigs.as("xa"), col("ra") === col("xa.doc_id"))
      .join(sigs.as("xb"), col("rb") === col("xb.doc_id"))
      .select(col("ra"), col("rb"),
        round(agree.cast("double") / MinhashPerms, 4).as("est_jaccard"))
    val docsInPairs = repPairs.select(col("ra").as("doc_id"))
      .union(repPairs.select(col("rb"))).distinct()
    val shp = sh.join(docsInPairs, "doc_id")
    val sizes = shp.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // semi-join the posting pairs against the CANDIDATES before
    // aggregating — co-shingled pairs outside the LSH candidate set
    // (~98% at 10×) must never reach the intersection count
    val inter = shp.select(col("doc_id").as("ra"), col("sh"))
      .join(shp.select(col("doc_id").as("rb"), col("sh")), Seq("sh"))
      .filter(col("ra") < col("rb"))
      .join(repPairs, Seq("ra", "rb"), "left_semi")
      .groupBy("ra", "rb").agg(count(lit(1)).as("ixn"))
    val repResult = est
      .join(inter, Seq("ra", "rb"), "left").na.fill(0L, Seq("ixn"))
      .join(sizes.select(col("doc_id").as("ra"), col("sz").as("sza")), "ra")
      .join(sizes.select(col("doc_id").as("rb"), col("sz").as("szb")), "rb")
      .select(col("ra"), col("rb"), col("est_jaccard"),
        round(col("ixn").cast("double") / (col("sza") + col("szb") - col("ixn")), 4).as("true_jaccard"),
        round(abs(col("est_jaccard") - round(col("ixn").cast("double") / (col("sza") + col("szb") - col("ixn")), 4)), 4).as("abs_err"))
    // expand representatives to members (like every pairwise operator):
    // identical texts have identical signatures AND shingle sets, so
    // cross-group member pairs inherit the rep pair's numbers and
    // within-group pairs are exactly (est, true, err) = (1, 1, 0)
    val groups = textGroups(t)
    val cross = expandRepPairs(repResult, groups,
      Seq("est_jaccard", "true_jaccard", "abs_err"))
      .select(col("a"), col("b"), col("est_jaccard"), col("true_jaccard"), col("abs_err"))
    val within = withinGroupPairs(groups)
      .join(sigs.select(col("doc_id").as("rep")), "rep") // only shingled groups
      .select(col("a"), col("b"), lit(1.0d).as("est_jaccard"),
        lit(1.0d).as("true_jaccard"), lit(0.0d).as("abs_err"))
    cross.union(within).orderBy("a", "b")
  }

  // NOTE: unlike the Spark side (reps expanded to members), this oracle
  // runs over ALL documents — identical docs carry identical signatures
  // and shingle sets, so the two formulations agree row for row on
  // duplicated corpora too (the Spark expansion is the scale
  // optimization, the all-docs form is the semantic definition).
  private val minhashEstSql = {
    val agree = (0 until MinhashPerms)
      .map(i => s"CASE WHEN xa.h$i = xb.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $sqlShingleCtes,
       |sigs AS (SELECT doc_id,
       |  $sqlMinhashCols
       |  FROM sh GROUP BY doc_id),
       |buckets AS ($sqlBandRows),
       |pairs AS (SELECT DISTINCT x.doc_id AS ra, y.doc_id AS rb
       |          FROM buckets x JOIN buckets y
       |            ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
       |est AS (SELECT ra, rb, round(($agree) / ${MinhashPerms}.0, 4) AS est_jaccard
       |        FROM pairs JOIN sigs xa ON ra = xa.doc_id JOIN sigs xb ON rb = xb.doc_id),
       |docs AS (SELECT DISTINCT doc_id FROM (SELECT ra AS doc_id FROM pairs UNION ALL SELECT rb FROM pairs)),
       |shp AS (SELECT sh.* FROM sh JOIN docs USING (doc_id)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shp GROUP BY doc_id),
       |ixn AS (SELECT x.doc_id AS ra, y.doc_id AS rb, count(*) AS ixn
       |        FROM shp x JOIN shp y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |        JOIN pairs p ON p.ra = x.doc_id AND p.rb = y.doc_id
       |        GROUP BY 1, 2)
       |SELECT ra AS a, rb AS b, est_jaccard,
       |  round(coalesce(ixn, 0) / CAST(sa.sz + sb.sz - coalesce(ixn, 0) AS DOUBLE), 4) AS true_jaccard,
       |  round(abs(est_jaccard - round(coalesce(ixn, 0) / CAST(sa.sz + sb.sz - coalesce(ixn, 0) AS DOUBLE), 4)), 4) AS abs_err
       |FROM est
       |LEFT JOIN ixn USING (ra, rb)
       |JOIN sizes sa ON est.ra = sa.doc_id
       |JOIN sizes sb ON est.rb = sb.doc_id
       |ORDER BY a, b""".stripMargin
  }

  // ---- SimHash -----------------------------------------------------------

  /** 60-bit SimHash (Charikar, "Similarity estimation techniques from
    * rounding algorithms", STOC'02; token-count weighted) + hamming ≤ k
    * pairs. Blocking by
    * pigeonhole: 6 chunks of 10 bits — any pair within hamming 5 shares at
    * least one exact chunk, so candidates come from 6 equality joins (one
    * per chunk), never a cross join. */
  def simhash(t: Tables): DataFrame = {
    // Token counting happens within each row (one filter per distinct
    // token), so the first shuffle is already signature-shaped: the ×60
    // bit explode feeds a codegen'd hash aggregate keyed on (doc, bit).
    // (A fully map-side nested-HOF signature was tried and is ~100×
    // slower: deeply nested lambdas run interpreted, per element.)
    val tokCnt = repDocs(t)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", Hashing.md5Long(col("tok")))
    // 60 conditional sums in ONE aggregate over the (doc, token) relation —
    // no ×60 row explode (that shuffles 60× the token count); each bit's
    // weighted sum is a cheap codegen'd expression per input row, and the
    // bit-pack happens map-side on the aggregated row.
    val bitAggs = (0 until 60).map(j =>
      sum(col("cnt") * (expr(s"(h div ${1L << j}) % 2") * 2 - 1)).as(s"s$j"))
    val sigCol = (0 until 60)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val sigs = tokCnt
      .groupBy("doc_id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), sigCol.as("sig"))
    val chunks = sigs
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(5))).as("c"))
      .withColumn("chunk", expr("(sig div CAST(power(2, c * 10) AS BIGINT)) % 1024"))
    val repPairs = chunks.as("x")
      .join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ra"), col("y.doc_id").as("rb"),
        expr("bit_count(x.sig ^ y.sig)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimhashMaxHamming)
    // identical docs have identical signatures → hamming 0 within groups
    // (guarded on the rep actually having a signature, like the siblings —
    // a null/empty text produces no token rows and must emit no pairs)
    val groups = textGroups(t)
    val cross = expandRepPairs(repPairs, groups, Seq("hamming"))
    val within = withinGroupPairs(groups)
      .join(sigs.select(col("doc_id").as("rep")), "rep")
      .select(col("a"), col("b"), lit(0L).as("hamming"))
    cross.union(within).orderBy("a", "b")
  }

  private val simhashSql =
    s"""WITH tokcnt AS (
       |  SELECT doc_id, tok, count(*) AS cnt, ${Hashing.sqlMd5Long("tok")} AS h
       |  FROM (SELECT doc_id, unnest(${TextOps.sqlTokens("text")}) AS tok FROM documents)
       |  GROUP BY doc_id, tok),
       |bitsums AS (
       |  SELECT doc_id, j, sum(cnt * (((h // CAST(power(2, j) AS BIGINT)) % 2) * 2 - 1)) AS s
       |  FROM tokcnt, (SELECT unnest(range(0, 60)) AS j)
       |  GROUP BY doc_id, j),
       |sigs AS (
       |  SELECT doc_id, sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS sig
       |  FROM bitsums GROUP BY doc_id),
       |chunks AS (
       |  SELECT doc_id, sig, c, (sig // CAST(power(2, c * 10) AS BIGINT)) % 1024 AS chunk
       |  FROM sigs, (SELECT unnest(range(0, 6)) AS c))
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.sig, y.sig)) AS hamming
       |FROM chunks x JOIN chunks y
       |  ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sig, y.sig)) <= $SimhashMaxHamming
       |ORDER BY a, b""".stripMargin

  // ---- embedding cosine near-dup ----------------------------------------

  /** Embedding near-dup: candidate pairs share an 8-bit sign-LSH bucket,
    * verified by exact cosine ≥ τ. */
  def embeddingNearDup(t: Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding"), VectorOps.signBucket(col("embedding"), 8).as("bucket"))
    e.as("x")
      .join(e.as("y"), col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", VectorOps.cosineBest(t.spark)(col("x.embedding"), col("y.embedding")))
      .filter(col("cos") >= CosineTau)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("a", "b")
  }

  private val embeddingNearDupSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |  ${VectorOps.sqlSignBucket("embedding", 8)} AS bucket FROM embeddings)
       |SELECT x.vec_id AS a, y.vec_id AS b,
       |  round(list_cosine_similarity(x.embedding, y.embedding), 4) AS cos_sim
       |FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |WHERE list_cosine_similarity(x.embedding, y.embedding) >= $CosineTau
       |ORDER BY a, b""".stripMargin

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication = cluster the embedding space coarsely, then prune
    * near-identical members WITHIN each cluster — the pruning that
    * removes "the same content, differently worded", which no lexical
    * dedup catches. The coarse quantizer here is the per-label centroid
    * set (an IVF assignment, deterministic and oracle-mirrorable; at
    * scale, swap in the trained k-means codebook from
    * [[graft.operators.AnnTraining]]). A vector is DROPPED when a
    * lower-id member of its cluster is semantically identical
    * (cos ≥ τ); assignment ranks on round(cos, 4) with a label
    * tie-break so both engines rank identically.
    *
    * Scale: the centroid set is k tiny rows (broadcast); assignment is
    * map-side. Pairing is an equality self-join ON CLUSTER — candidate
    * volume tracks cluster sizes, never corpus² (the paper's clusters
    * are ~corpus/k; skewed clusters sub-bucket by sign-LSH exactly like
    * [[embeddingNearDup]]). */
  def semanticDedup(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = t.spark
    // per-label centroid vectors, components re-assembled in order
    val cents = t.embeddings
      .select(col("label").as("clabel"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("clabel", "pos").agg(avg(col("v").cast("double")).as("m"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cvec"))
    val assigned = t.embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents)) // k-row bound side: a bounds-join, not a blowup
      .withColumn("acos", round(VectorOps.cosineBest(spark)(col("embedding"), col("cvec")), 4))
    val w = Window.partitionBy("vec_id").orderBy(col("acos").desc, col("clabel").asc)
    val members = assigned
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("vec_id"), col("embedding"), col("clabel").as("cluster"))
    members.as("x")
      .join(members.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", VectorOps.cosineBest(spark)(col("x.embedding"), col("y.embedding")))
      .filter(col("cos") >= CosineTau)
      .select(col("y.cluster").as("cluster"), col("y.vec_id").as("dropped"))
      .distinct()
      .orderBy("cluster", "dropped")
  }

  private val semanticDedupSql =
    s"""WITH comp AS (
       |  SELECT label AS clabel, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
       |  FROM embeddings, (SELECT unnest(range(1, ${Similarity.EmbeddingDim + 1})) AS i)
       |  GROUP BY label, i),
       |cents AS (SELECT clabel, list(m ORDER BY pos) AS cvec FROM comp GROUP BY clabel),
       |assign AS (
       |  SELECT vec_id, embedding, clabel, row_number() OVER (
       |    PARTITION BY vec_id
       |    ORDER BY round(list_cosine_similarity(embedding, cvec), 4) DESC, clabel ASC) AS rnk
       |  FROM embeddings, cents),
       |m AS (SELECT vec_id, embedding, clabel AS cluster FROM assign WHERE rnk = 1)
       |SELECT DISTINCT y.cluster AS cluster, y.vec_id AS dropped
       |FROM m x JOIN m y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |WHERE list_cosine_similarity(x.embedding, y.embedding) >= $CosineTau
       |ORDER BY cluster, dropped""".stripMargin

  /** Read one long metric from an [[org.apache.spark.sql.Observation]]
    * attached to an action that just completed. Observed metrics are
    * delivered through an async listener, so poll briefly (the event is
    * normally milliseconds behind the action) before giving up — the
    * caller supplies a correctness-preserving fallback. */
  private def observedLong(obs: org.apache.spark.sql.Observation,
      key: String): Option[Long] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    try {
      val m = Await.result(
        Future(obs.get)(ExecutionContext.global), 10.seconds)
      m.get(key).collect {
        case n: java.lang.Long => n.longValue
        case n: java.lang.Integer => n.longValue
      }
    } catch { case _: java.util.concurrent.TimeoutException => None }
  }

  /** Near-duplicate clusters: connected components over the Jaccard pair
    * graph, labels = min doc_id per component. Distributed min-label
    * propagation: each iteration is one join + aggregate, lineage
    * truncated via localCheckpoint, loop until fixpoint — the pattern that
    * runs CC on billion-edge dedup graphs (iterations ≈ graph diameter,
    * which is tiny for near-dup clusters). Driver-side loop, executor-side
    * data — nothing is collected. */
  def clusters(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"))
    val pairs = ngramJaccardPairs(t).select(col("a"), col("b"))
    // undirected edges, both directions
    val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(eager = true)
    // the fixpoint loop only carries nodes that have edges — docs outside
    // the pair graph are their own cluster and join back at the end, so
    // loop state is proportional to near-duplicate density, not corpus size.
    // Labels start at least(doc, min neighbour): the state one propagation
    // round from lbl = doc_id reaches, without that round's jobs
    var labels = edges.groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("nb"))
      .select(col("doc_id"), least(col("doc_id"), col("nb")).as("lbl"))
      .localCheckpoint(eager = true)
    var changed = 1L
    var iter = 0
    // min-label propagation strictly shrinks labels, so it always reaches
    // a fixpoint (iterations ≤ longest path in the pair graph); the bound
    // is a runaway guard, and hitting it is an error — silently returning
    // unconverged labels would split components and diverge from the
    // transitive-closure oracle
    val MaxIters = 1000
    while (changed > 0 && iter < MaxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "a"), "a")
        .groupBy(col("b").as("doc_id"))
        .agg(min(col("lbl")).as("nlbl"))
      // the convergence count rides the checkpoint's own materialization
      // via observe() — the loop's wall clock is serial job latency, and
      // a separate count() action per iteration doubled it
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      val updated = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (col("nlbl").isNotNull && col("nlbl") < col("lbl")).as("chg"))
        .observe(obs, coalesce(sum(col("chg").cast("long")), lit(0L)).as("changed"))
        .localCheckpoint(eager = true)
      changed = observedLong(obs, "changed")
        // defensive: if the checkpoint action did not surface metrics,
        // fall back to the explicit count — correctness over latency
        .getOrElse(updated.filter(col("chg")).count())
      labels = updated.select(col("doc_id"), col("lbl"))
      iter += 1
    }
    require(changed == 0, s"connected components did not converge in $MaxIters iterations")
    val singletons = docs.join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("lbl"))
    labels.union(singletons)
      .select(col("doc_id"), col("lbl").as("cluster_rep")).orderBy("doc_id")
  }

  /** Connected components via alternating large-star/small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): O(log² n) rounds regardless of component diameter,
    * vs [[clusters]]' diameter-bound label propagation. The variant to
    * pick when near-dup chains run long (boilerplate cascades, templated
    * spam, crawl session chains) — a 10⁶-long chain costs label
    * propagation 10⁶ iterations and this ~40 rounds.
    *
    * Each round: large-star attaches every neighbor v > u to
    * min(Γ(u) ∪ u); small-star attaches the v ≤ u side. Both are one
    * aggregate + one join over the current edge set; edges stay
    * canonically ordered (a < b). A fixpoint must be a min-rooted star
    * forest (a star rooted off-minimum is rewired by the next small-star),
    * so labels read directly off the final edges. Convergence test is an
    * order-independent edge-set fingerprint (count + bit_xor of xxhash64)
    * — one cheap aggregate, no except() anti-joins. */
  def clustersStar(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"))
    def sym(e: DataFrame) = e.union(e.select(col("b").as("a"), col("a").as("b")))
    def minNbr(s: DataFrame) = s.groupBy(col("a").as("u"))
      .agg(min(col("b")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    def starRound(edges: DataFrame): DataFrame = {
      val s1 = sym(edges)
      val large = s1.join(minNbr(s1), col("a") === col("u"))
        .where(col("b") > col("a") && col("b") =!= col("m"))
        .select(col("m").as("a"), col("b"))
        .distinct()
      val s2 = sym(large)
      val m2 = minNbr(s2)
      s2.join(m2, col("a") === col("u"))
        .where(col("b") <= col("a"))
        .select(col("m").as("a"), col("b"))
        .union(m2.select(col("m").as("a"), col("u").as("b")))
        .where(col("a") =!= col("b"))
        .distinct()
    }
    // the order-independent edge-set fingerprint (count + bit_xor of the
    // row hash) rides each checkpoint's own materialization via
    // observe() — a separate aggregate action per round doubled the
    // loop's serial job latency
    val fpExprs = Seq(
      count(lit(1)).as("n"),
      coalesce(bit_xor(Hashing.md5Long(concat_ws(":", col("a"), col("b")))), lit(0L)).as("x"))
    def checkpointWithFp(e: DataFrame, tag: String): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation(s"star_fp_$tag")
      val ck = e.observe(obs, fpExprs.head, fpExprs.tail: _*).localCheckpoint(eager = true)
      val fp = (observedLong(obs, "n"), observedLong(obs, "x")) match {
        case (Some(n), Some(x)) => (n, x)
        case _ => // fallback: recompute over the (cached) checkpoint
          val r = ck.agg(fpExprs.head, fpExprs.tail: _*).head()
          (r.getLong(0), r.getLong(1))
      }
      (ck, fp)
    }
    var (edges, fp) = checkpointWithFp(
      ngramJaccardPairs(t).select(col("a"), col("b")).distinct(), "init")
    var converged = false
    var round = 0
    val MaxRounds = 50 // ≫ the O(log² n) bound for any feasible n
    while (!converged && round < MaxRounds) {
      val (next, nfp) = checkpointWithFp(starRound(edges), s"r$round")
      converged = nfp == fp
      edges = next
      fp = nfp
      round += 1
    }
    require(converged, s"star contraction did not converge in $MaxRounds rounds")
    val labels = edges.select(col("b").as("doc_id"), col("a").as("lbl"))
      .union(edges.select(col("a").as("doc_id"), col("a").as("lbl")).distinct())
    val singletons = docs.join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("lbl"))
    labels.union(singletons)
      .select(col("doc_id"), col("lbl").as("cluster_rep")).orderBy("doc_id")
  }

  /** Quality-aware survivor selection — the KEEP step a curation pipeline
    * runs after clustering: per near-dup cluster, keep the member with the
    * best [[TextAnalysis.qualityScore]] (ties → lowest doc_id, so the
    * choice is deterministic and oracle-mirrorable). Emits one row per
    * cluster: representative label, the surviving doc, its quality, and
    * the member count — the n_members > 1 rows are exactly the clusters
    * where dedup changed the corpus.
    *
    * Scale shape: reuses [[clusters]]' connected components (loop state ∝
    * near-dup density), then one doc_id-keyed join against the quality
    * frame and one aggregation keyed on the cluster label. The argmax is
    * a struct max — a map-side-combining aggregate, no window sort over
    * the corpus. */
  def survivors(t: Tables): DataFrame = {
    val q = TextAnalysis.qualityScore(t).select(col("doc_id"), col("quality_score"))
    clusters(t).join(q, "doc_id")
      .groupBy(col("cluster_rep"))
      .agg(
        count(lit(1)).as("n_members"),
        // lexicographic struct max = highest quality, then lowest doc_id
        max(struct(col("quality_score").as("q"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("cluster_rep"), (-col("best.negid")).as("survivor_id"),
        col("best.q").as("survivor_quality"), col("n_members"))
      .orderBy("cluster_rep")
  }

  private val clustersSql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a, b FROM ($ngramJaccardSql)
       |),
       |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
       |reach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.b
       |)
       |SELECT doc_id, min(lbl) AS cluster_rep FROM reach GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  private val survivorsSql =
    s"""WITH labels AS (SELECT doc_id, cluster_rep FROM ($clustersSql)),
       |q AS (SELECT doc_id, quality_score FROM (${TextAnalysis.qualityScoreSql})),
       |ranked AS (
       |  SELECT l.cluster_rep, l.doc_id, q.quality_score,
       |    row_number() OVER (PARTITION BY l.cluster_rep
       |                       ORDER BY q.quality_score DESC, l.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY l.cluster_rep) AS n_members
       |  FROM labels l JOIN q USING (doc_id))
       |SELECT cluster_rep, doc_id AS survivor_id, quality_score AS survivor_quality,
       |  n_members
       |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin

  /** URL canonicalization — the FIRST dedup step of every web
    * pipeline (the same page arrives under scheme/host case variants,
    * default ports, fragments, tracking params, trailing slashes, and
    * param order): scheme+host case-fold, default-port strip (:80 for
    * http, :443 for https — never other ports), fragment strip,
    * tracking-param removal (utm_*, gclid, fbclid), param SORT, and
    * trailing-slash normalization. Entirely row-local string algebra —
    * codegen'd, no UDF, runs inside the scan stage at any scale. */
  /** Promoted to the PUBLIC API in r15 (the r14 verdict's ask): the
    * implementation lives in [[graft.functions.TextOps.canonicalUrl]]
    * and is SQL-registered as `url_canonicalize`; this alias keeps the
    * operator's call sites stable. */
  private[graft] def canonicalUrl(u: Column): Column = TextOps.canonicalUrl(u)

  /** Exact dedup on the canonical URL key. The fixture corpus has no
    * url column, so each document gets a deterministic MESSY url
    * (four variants spanning every canonicalization rule, three of
    * which must collapse to one key) spliced in query-side, mirrored
    * exactly in the oracle — the operator under test is
    * [[canonicalUrl]] + the groupBy, not the fixture. One row-local
    * projection, then ONE hash aggregate on a short string key: the
    * minimal-shuffle shape at 100 TB (no join, no sort until the
    * presentation ORDER BY). */
  def urlDedup(t: Tables): DataFrame = {
    val k = (col("doc_id") % 50).cast("string")
    val messy = when(col("doc_id") % 4 === 0,
        concat(lit("https://Example.COM/path"), k, lit("?utm_source=x&b=2&a=1#frag")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://example.com:443/path"), k, lit("?a=1&b=2")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://example.com/path"), k, lit("/?b=2&a=1&gclid=99")))
      .otherwise(concat(lit("http://example.com:80/path"), k, lit("?a=1")))
    t.documents.select(col("doc_id"), canonicalUrl(messy).as("url"))
      .groupBy("url")
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("survivor_id"))
      .orderBy("url")
  }

  private val urlDedupSql =
    """WITH messy AS (
      |  SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
      |    WHEN 0 THEN concat('https://Example.COM/path', CAST(doc_id % 50 AS VARCHAR), '?utm_source=x&b=2&a=1#frag')
      |    WHEN 1 THEN concat('HTTPS://example.com:443/path', CAST(doc_id % 50 AS VARCHAR), '?a=1&b=2')
      |    WHEN 2 THEN concat('https://example.com/path', CAST(doc_id % 50 AS VARCHAR), '/?b=2&a=1&gclid=99')
      |    ELSE concat('http://example.com:80/path', CAST(doc_id % 50 AS VARCHAR), '?a=1') END AS u
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(regexp_replace(u, '#.*$', ''), '^[^:/?#]+://[^/?#]*', 0)) AS pre,
      |    substr(regexp_replace(u, '#.*$', ''),
      |      length(regexp_extract(regexp_replace(u, '#.*$', ''), '^[^:/?#]+://[^/?#]*', 0)) + 1) AS tail
      |  FROM messy),
      |canon AS (
      |  SELECT doc_id, concat(
      |    CASE WHEN pre LIKE 'https://%' THEN regexp_replace(pre, ':443$', '')
      |         WHEN pre LIKE 'http://%' THEN regexp_replace(pre, ':80$', '')
      |         ELSE pre END,
      |    CASE WHEN regexp_extract(tail, '^[^?]*', 0) IN ('', '/') THEN '/'
      |         ELSE regexp_replace(regexp_extract(tail, '^[^?]*', 0), '/+$', '') END,
      |    CASE WHEN q = '' THEN '' ELSE concat('?', q) END) AS url
      |  FROM (SELECT doc_id, pre, tail,
      |          array_to_string(list_sort(list_filter(
      |            string_split(regexp_extract(tail, '\?(.*)$', 1), '&'),
      |            p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid)(=|$)'))), '&') AS q
      |        FROM parts))
      |SELECT url, count(*) AS n_dups, min(doc_id) AS survivor_id
      |FROM canon GROUP BY url ORDER BY url""".stripMargin

  // ---- incremental (snapshot-over-corpus) dedup ---------------------------

  /** Index rows over an ARBITRARY documents frame — one row per input
    * doc: the two exact-text hashes ([[exact]]'s 120-collision-bit key,
    * never null — exact re-crawls of ANY doc are caught, including
    * shingle-less ones whose minhash components are NULL) plus the
    * MinHash signature (NULL components for docs too short to shingle —
    * they cannot NEAR-dup-match, which is the true semantics). Unlike
    * [[shingleRel]] this does NOT group by text first: an index row is
    * computed once per doc EVER (index maintenance amortizes it), so
    * rep-grouping would only add a shuffle. */
  private[graft] def sigsAllOver(documents: DataFrame): DataFrame = {
    val sh = documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), explode(array_distinct(TextOps.shingles("toks"))).as("shingle"))
      .select(col("doc_id"), Hashing.md5Long(col("shingle")).as("sh"))
    val minAggs = (0 until MinhashPerms).map(i =>
      min((lit(permA(i)) * (col("sh") % P) + permB(i)) % P).as(s"h$i"))
    documents.select(col("doc_id"),
        Hashing.md5Long(TextOps.normText(col("text"))).as("th0"),
        Hashing.md5Long(TextOps.normText(col("text")), 1).as("th1"))
      .join(sh.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*), Seq("doc_id"), "left")
  }

  /** DEFAULT hive-partition count of the BANDED index layout
    * ([[bandedIndexOf]]) — the modulus of index tables written without
    * the [[IndexPbktsProperty]] ([[indexPbktsOf]]). */
  private[graft] val IndexPbkts = 64

  /** Table property pinning the index's pbkt modulus. The probe's
    * `pbkt = bucket % N` must use the SAME N the index was written
    * with, or partition pruning would silently drop true candidates —
    * so N is committed with the table and read back by every later
    * batch, never re-derived. */
  private[graft] val IndexPbktsProperty = "graft.index.pbkts"

  /** Scale-adaptive partitioning, never a constant tuned for one
    * environment: derive the index's pbkt count from the CORPUS SIZE at
    * bootstrap instead of hard-coding 64. Sizing:
    * ~9 banded rows per doc at ~40 B columnar ≈ 360 B of index per
    * corpus doc; targeting ~128 MB per pbkt partition ⇒ one bucket per
    * ~350k docs, rounded up to a power of two (stable doubling), capped
    * at 4096 dirs (beyond that, per-file bucket-range sorting inside
    * each partition carries the pruning). sf0.1's 5k-doc corpus gets 1
    * bucket — the 64-dir layout was paying a ~800-task tiny-file floor
    * per run for pruning it could never use; a 10^11-doc crawl gets the
    * 4096 cap. */
  private[graft] def indexPbktsForDocs(docs: Long): Int = {
    val want = math.max(1L, (docs + 349999L) / 350000L)
    var p = 1
    while (p < want && p < 4096) p <<= 1
    p
  }

  /** The committed pbkt modulus of an existing index table (bootstrap
    * writes [[IndexPbktsProperty]] atomically with the data; absent ⇒
    * a pre-r19 table built at the fixed default). */
  private[graft] def indexPbktsOf(spark: org.apache.spark.sql.SparkSession,
      indexRoot: String): Int =
    ManifestTable.properties(spark, indexRoot)
      .get(IndexPbktsProperty).map(_.toInt).getOrElse(IndexPbkts)

  /** BANDED index rows over a signature frame (r16 — the r15 verdict's
    * #2): the persisted incremental-dedup index re-shaped so a batch
    * probe can prune index FILES instead of scanning the whole index.
    * One row per (doc, probe key): the 8 LSH band rows (band, bucket)
    * plus ONE exact-arm row per doc under the SAME key shape —
    * band = −1, bucket = th0, with th1 carried for pair confirmation —
    * so both candidate arms are equality probes into one keyed,
    * partition-pruned relation. `pbkt = bucket % pbkts` is the
    * hive partition column; within a partition, writers sort by bucket
    * so per-file min/max stats stay tight and the probe's bucket IN
    * list skips files. ~9 narrow rows per doc (shingle-less docs: just
    * the exact row) versus the old 1 wide row — the 2-3× storage is
    * the price of file-level probe locality, the classic
    * index-vs-heap trade. */
  private[graft] def bandedIndexOf(sigs: DataFrame, pbkts: Int): DataFrame = {
    val lsh = bandBucketsOf(sigs).withColumn("th1", lit(null).cast("long"))
    val exact = sigs.select(col("doc_id"), lit(-1).as("band"),
      col("th0").as("bucket"), col("th1"))
    lsh.unionByName(exact)
      .withColumn("pbkt", col("bucket") % pbkts)
      .select("pbkt", "band", "bucket", "doc_id", "th1")
  }

  /** Candidate (batch doc, prior doc) matches against a PERSISTED
    * banded index: the read is [[ManifestTable.readWhere]] with the
    * batch's populated partition buckets AND its probed bucket VALUES
    * as the predicate, so the partition layer prunes `pbkt` dirs and
    * per-file bucket min/max stats skip files whose range holds none
    * of the batch's probes — batch cost tracks the BATCH's buckets,
    * not the corpus (SCALE.md "Incremental dedup batch-vs-corpus" has
    * the files-opened curve). The probe value lists are bounded by the
    * batch BY CONTRACT (micro-batches, not corpora). Self-matches by id are
    * excluded — a REPLAYED batch finds its own survivor rows and must
    * reach the same verdicts. */
  private[graft] def candidateDupsIndexed(spark: org.apache.spark.sql.SparkSession,
      indexRoot: String, batchSigs: DataFrame, pbkts: Int): DataFrame = {
    // probe re-derives per use (keys collect + two joins) — batch-sized
    // row-local work, cheaper than a persist round trip. `pbkts` MUST
    // be the index table's own modulus ([[indexPbktsOf]]).
    val probe = bandedIndexOf(batchSigs, pbkts)
    val keys = probe.select("pbkt", "bucket").distinct().collect()
    val probedPbkts = keys.map(_.getLong(0)).distinct.toSeq
    val buckets = keys.map(_.getLong(1)).distinct.toSeq
    // the bucket IN list gives per-file stats skipping on top of the
    // pbkt partition prune — worth it only while the probe list is
    // SMALL: each value becomes a per-file range test, and the probe
    // measured a 4,500-value list costing ~12 s of driver-side
    // expression work while pruning nothing (probes >> files saturates
    // the skip). 1,024 keeps micro-batches (the steady-state regime
    // file skipping exists for) on the fine-grained path and hands
    // larger batches to the partition prune alone.
    val pred =
      if (buckets.size <= 1024)
        col("pbkt").isin(probedPbkts: _*) && col("bucket").isin(buckets: _*)
      else col("pbkt").isin(probedPbkts: _*)
    val idx = ManifestTable.readWhere(spark, indexRoot, pred)
    // ONE join serves both arms (review-caught r16: two joins over the
    // same pruned read ran the prune + file scan twice per batch): band
    // equality already separates the arms (an LSH probe's band ≥ 0 can
    // never equal the exact arm's −1), so the exact arm's th1
    // confirmation rides as a residual condition
    probe.as("b").join(idx.as("i"),
        col("b.band") === col("i.band") && col("b.bucket") === col("i.bucket") &&
          (col("b.band") >= 0 || col("b.th1") === col("i.th1")) &&
          col("b.doc_id") =!= col("i.doc_id"))
      .select(col("b.doc_id").as("doc_id"), col("i.doc_id").as("m"))
  }

  /** Within-batch-only candidates (the bootstrap batch has no index). */
  private[graft] def candidateDupsNoIndex(batchSigs: DataFrame): DataFrame = {
    val batchBuckets = bandBucketsOf(batchSigs)
    val vsBatch = batchBuckets.as("x").join(batchBuckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("m"))
    val exVsBatch = batchSigs.as("x").join(batchSigs.as("y"),
        col("x.th0") === col("y.th0") && col("x.th1") === col("y.th1") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("m"))
    vsBatch.union(exVsBatch)
  }

  /** `foreachBatch` adapter — STREAMING incremental dedup, the shape a
    * production crawl pipeline actually deploys: each micro-batch of
    * documents (`doc_id`, `text`, anything else ignored) dedupes
    * against the persisted signature index at `indexRoot`
    * ([[candidateDupsIndexed]] plus [[candidateDupsNoIndex]] — LSH
    * bands + exact hashes + within-batch greedy-by-id) and appends the
    * survivors' index rows EXACTLY-ONCE
    * ([[ManifestTable.exactlyOnceMergeWriter]] txn mark per
    * `(appId, batchId)`); the first batch bootstraps the index.
    *
    * REPLAY is deterministic end to end: the index then already holds
    * the batch's own survivor rows, which match only THEMSELVES — and
    * self-matches are id-excluded — so the recomputed verdicts equal
    * the first run's, the merge writer no-ops on the mark, and
    * `onSurvivors` receives the same survivor rows. `onSurvivors`
    * itself must be exactly-once for full pipeline idempotence (pass
    * another txn-marked writer — the corpus table's own append). */
  def incrementalWriter(indexRoot: String, appId: String,
      onSurvivors: (DataFrame, Long) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = (batch, batchId) => {
    val spark = batch.sparkSession
    val sigs = sigsAllOver(batch.select("doc_id", "text")).persist()
    try {
      val bootstrap = ManifestTable.currentVersion(spark, indexRoot).isEmpty
      // the pbkt modulus: derived from the bootstrap corpus size (r19,
      // scale-adaptive — the count also materializes the persisted sigs
      // every later job reuses), then COMMITTED with the table and read
      // back by every subsequent batch — probe and layout can never
      // disagree
      val pbkts =
        if (bootstrap) indexPbktsForDocs(sigs.count())
        else indexPbktsOf(spark, indexRoot)
      val cands =
        if (bootstrap) candidateDupsNoIndex(sigs)
        else candidateDupsIndexed(spark, indexRoot, sigs, pbkts)
          .union(candidateDupsNoIndex(sigs))
      val dupIds = cands.select("doc_id").distinct()
      val survivors = sigs.join(dupIds, Seq("doc_id"), "left_anti")
      val rows = bandedIndexOf(survivors, pbkts)
        .repartition(col("pbkt")).sortWithinPartitions("bucket")
      // bootstrap creates the pbkt-partitioned layout explicitly (the
      // merge writer's bootstrap path cannot declare one); later batches
      // merge-append under the existing layout with the same txn mark
      if (bootstrap)
        ManifestTable.exactlyOnceAppend(spark, indexRoot, rows, appId, batchId,
          partitionBy = Seq("pbkt"),
          extraProperties = Map(IndexPbktsProperty -> pbkts.toString))
      else
        ManifestTable.exactlyOnceMergeWriter(indexRoot,
          Seq("doc_id", "band", "bucket"), appId)(rows, batchId)
      onSurvivors(
        batch.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi"), batchId)
    } finally { sigs.unpersist(); () }
  }

  /** PlanSnapshot stage seam (r18) for BOTH incremental keys — their
    * `queries` entries execute imperatively (scratch index lifecycle,
    * a checkpointed stream for the stream key) and return localized
    * verdict frames, hiding the corpus-scale plans from a result
    * snapshot. `bootstrap` is the index-build frame (signature
    * aggregate + banded rows + pbkt repartition); `probe` is the
    * per-batch plan against a REAL bootstrapped index (pruned index
    * read + candidate equality joins + dup aggregate + survivors'
    * banded rows) — exactly what [[incrementalWriter]] runs per
    * trigger, so a shuffle growing here is a per-batch cost growing
    * in the crawl loop. */
  private[graft] def incrementalStages(t: Tables, f: (String, DataFrame) => Unit): Unit = {
    val spark = t.spark
    val corpus = t.documents.filter(col("doc_id") % 4 =!= 0).select("doc_id", "text")
    val batch = t.documents.filter(col("doc_id") % 4 === 0).select("doc_id", "text")
    val pbkts = indexPbktsForDocs(corpus.count())
    def indexRows(sigs: DataFrame): DataFrame =
      bandedIndexOf(sigs, pbkts).repartition(col("pbkt")).sortWithinPartitions("bucket")
    f("bootstrap", indexRows(sigsAllOver(corpus)))
    TableLifecycle.withScratchTable("graft_incr_plan") { root =>
      ManifestTable.append(spark, root, indexRows(sigsAllOver(corpus)),
        partitionBy = Seq("pbkt"),
        extraProperties = Map(IndexPbktsProperty -> pbkts.toString))
      val batchSigs = sigsAllOver(batch)
      val dups = candidateDupsIndexed(spark, root, batchSigs, pbkts)
        .union(candidateDupsNoIndex(batchSigs))
        .groupBy("doc_id").agg(min("m").as("dup_of"))
      f("probe", indexRows(batchSigs.join(dups, Seq("doc_id"), "left_anti")))
    }
  }

  /** INCREMENTAL dedup against a persisted corpus index — the shape
    * every production crawl pipeline actually runs (the whole-corpus
    * operators above are the bootstrap; this is steady state): the
    * BANDED probe index ([[bandedIndexOf]], r16) is maintained as a
    * pbkt-partitioned graft [[ManifestTable]] (the index IS the
    * corpus's dedup state — ~9 narrow probe rows per kept doc, never
    * the texts); each NEW snapshot batch computes its own signatures
    * and probes the index through [[candidateDupsIndexed]] — a
    * partition- and stats-PRUNED read (index FILES opened track the
    * batch's buckets; SCALE.md "Incremental dedup batch-vs-corpus" has
    * the files-opened sweep) feeding equality
    * joins on (band, bucket) for LSH and (bucket=th0, th1) for the
    * exact arm (verbatim re-crawls are caught even for docs too short
    * to shingle) — drops dups (including within-batch, greedy by id —
    * the deterministic rule [[survivors]] uses), and appends the
    * survivors' probe rows EXACTLY-ONCE
    * ([[ManifestTable.exactlyOnceMergeWriter]] with a txn mark: a
    * replayed batch is a no-op, proven here by running the append
    * twice — a double-append would flip every survivor's n_in_index
    * to 2 and break the oracle hash).
    *
    * Fixture split (documents carry no crawl timestamps): corpus =
    * doc_id % 4 != 0; batch = doc_id % 4 == 0 PLUS seeded re-crawls —
    * every corpus doc with doc_id % 20 == 1 re-appears VERBATIM under
    * doc_id + 1000000 (identical text ⇒ identical signature ⇒ all 8
    * bands collide ⇒ guaranteed drop with dup_of = the corpus source).
    * Output: one verdict row per batch doc — (doc_id, dup_of =
    * min-colliding prior id or -1, n_in_index = rows the persisted
    * index holds for it after the double append: 1 survivor / 0 dup). */
  def incremental(t: Tables): DataFrame = {
    val spark = t.spark
    val corpus = t.documents.filter(col("doc_id") % 4 =!= 0).select("doc_id", "text")
    val seeded = corpus.filter(col("doc_id") % 20 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val batch = t.documents.filter(col("doc_id") % 4 === 0).select("doc_id", "text")
      .union(seeded)
    TableLifecycle.withScratchTable("graft_dedup_incr") { root =>
      // r19: the pbkt modulus derives from the corpus size (one narrow
      // count job) and commits with the table — scale-adaptive layout
      val pbkts = indexPbktsForDocs(corpus.count())
      // bootstrap: the persisted index = the BANDED probe rows (r16 —
      // ~9 narrow rows per corpus doc), hive-partitioned by pbkt and
      // bucket-sorted within partitions so batch probes prune FILES
      ManifestTable.append(spark, root,
        bandedIndexOf(sigsAllOver(corpus), pbkts)
          .repartition(col("pbkt")).sortWithinPartitions("bucket"),
        partitionBy = Seq("pbkt"),
        extraProperties = Map(IndexPbktsProperty -> pbkts.toString))
      // batch-sized, persisted across the probe/write/verdict actions
      // (r19 — the incrementalWriter already does this; the batch key's
      // ~6 serial actions each re-derived the signatures from text)
      val batchSigs = sigsAllOver(batch).persist()
      // candidates: batch probes vs the index READ BACK from the table
      // through partition + stats skipping (the corpus texts are never
      // re-read and the index scan tracks the batch's buckets), plus
      // within-batch greedy-by-id
      // r20: the dup verdicts are consumed by TWO actions — the survivor
      // write (via the anti-join below) and the final verdict frame —
      // and each execution re-runs the pruned index read + candidate
      // joins. The relation is batch-sized (≤ one row per batch doc), so
      // persist it across the two; unpersisted with batchSigs below.
      val dups = candidateDupsIndexed(spark, root, batchSigs, pbkts)
        .union(candidateDupsNoIndex(batchSigs))
        .groupBy("doc_id").agg(min("m").as("dup_of"))
        .persist()
      val survivors = batchSigs.join(dups, Seq("doc_id"), "left_anti")
      // exactly-once append of survivors' banded rows; the REPLAY is the
      // operator's own idempotence proof
      val write = ManifestTable.exactlyOnceMergeWriter(
        root, Seq("doc_id", "band", "bucket"), appId = "dedup_incremental")
      val rows = bandedIndexOf(survivors, pbkts)
        .repartition(col("pbkt")).sortWithinPartitions("bucket")
      write(rows, 1L)
      write(rows, 1L) // replayed batch: txn mark makes it a no-op
      // one exact-arm row (band = -1) per kept doc — the same 1/0 the
      // oracle computes; a broken txn mark would read 2 here
      val inIndex = ManifestTable.read(spark, root).filter(col("band") === -1)
        .groupBy("doc_id").agg(count(lit(1)).as("n_in_index"))
      val out = batch.select("doc_id")
        .join(dups, Seq("doc_id"), "left")
        .join(inIndex, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
          coalesce(col("n_in_index"), lit(0L)).as("n_in_index"))
        .orderBy("doc_id")
      try TableLifecycle.localize(spark, out)
      finally { batchSigs.unpersist(); dups.unpersist(); () }
    }
  }

  // batch membership is recoverable from the id alone (fixture ids are
  // < 1000000): batch ⇔ doc_id % 4 = 0 OR doc_id >= 1000000
  /** The corpus+batch+seeded-recrawl relation and its signature CTE
    * chain (toks/sh/sigs/buckets/thash over `alldocs`) — shared by
    * [[incrementalSql]] and [[incrementalStreamSql]] so the two
    * incremental oracles cannot drift on the sig math. */
  private val incrementalSigCtes = {
    val sigCols = (0 until MinhashPerms)
      .map(i => s"min((${permA(i)} * (sh % $P) + ${permB(i)}) % $P) AS h$i").mkString(",\n  ")
    val bandRows = (0 until MinhashPerms / 2).map { b =>
      s"SELECT doc_id, $b AS band, ${Hashing.sqlMd5Long(s"concat(h${2 * b}, ',', h${2 * b + 1})", 100 + b)} AS bucket FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""alldocs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0
       |  UNION ALL
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
       |  WHERE doc_id % 4 <> 0 AND doc_id % 20 = 1),
       |toks AS (SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks FROM alldocs),
       |sh AS (SELECT doc_id, ${Hashing.sqlMd5Long("shingle")} AS sh FROM
       |       (SELECT doc_id, unnest(list_distinct(${TextOps.sqlShingles("toks")})) AS shingle FROM toks)),
       |sigs AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
       |buckets AS ($bandRows),
       |thash AS (SELECT doc_id,
       |  ${Hashing.sqlMd5Long(TextOps.sqlNormText("text"))} AS th0,
       |  ${Hashing.sqlMd5Long(TextOps.sqlNormText("text"), 1)} AS th1 FROM alldocs)""".stripMargin
  }

  private val incrementalSql = {
    s"""WITH $incrementalSigCtes,
       |batch AS (SELECT doc_id FROM alldocs WHERE doc_id % 4 = 0 OR doc_id >= 1000000),
       |cand AS (
       |  SELECT x.doc_id AS doc_id, y.doc_id AS m
       |  FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |  WHERE (x.doc_id % 4 = 0 OR x.doc_id >= 1000000)
       |    AND ((y.doc_id % 4 <> 0 AND y.doc_id < 1000000) OR y.doc_id < x.doc_id)
       |  UNION ALL
       |  SELECT x.doc_id AS doc_id, y.doc_id AS m
       |  FROM thash x JOIN thash y
       |    ON x.th0 = y.th0 AND x.th1 = y.th1
       |  WHERE (x.doc_id % 4 = 0 OR x.doc_id >= 1000000)
       |    AND ((y.doc_id % 4 <> 0 AND y.doc_id < 1000000) OR y.doc_id < x.doc_id)),
       |dups AS (SELECT doc_id, min(m) AS dup_of FROM cand GROUP BY doc_id)
       |SELECT b.doc_id AS doc_id,
       |  coalesce(d.dup_of, -1) AS dup_of,
       |  CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END AS n_in_index
       |FROM batch b LEFT JOIN dups d ON b.doc_id = d.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** STREAMING incremental dedup ON the correctness board (r17): the
    * [[incrementalWriter]] foreachBatch face driven by a REAL
    * checkpointed `readStream.format("graft")` query — the deployment
    * shape of [[incremental]]: a crawl table accretes commits, a
    * `Trigger.AvailableNow` run drains them through the writer,
    * deduping each micro-batch against the persisted banded index and
    * appending the survivors' probe rows exactly-once. TWO
    * AvailableNow runs share ONE checkpoint — run 1 sees only the
    * corpus commit and bootstraps the index; the batch commit (fresh
    * docs + seeded verbatim re-crawls) lands AFTER it terminates; run
    * 2 RESUMES from the checkpoint and serves exactly the new version
    * — so the key also pins the stream source's restart path and the
    * BATCH-BOUNDARY semantics the batch `dedup_incremental` cannot:
    * within a micro-batch the greedy-by-id rule, across batches
    * PRIOR-WINS (any index hit drops the newcomer regardless of id,
    * and a doc that lost within batch 0 is NOT in the index, so it
    * cannot drop anyone later). Output: one (doc_id, survived)
    * verdict per doc from the FINAL index's exact-arm rows; the
    * oracle replays the two-phase semantics from the raw table.
    *
    * Scale: what the production crawl loop runs — per-trigger cost is
    * the BATCH's (partition-pruned index probe, batch-sized joins,
    * one merge-append); nothing per-trigger scans the corpus. */
  def incrementalStream(t: Tables): DataFrame = {
    val spark = t.spark
    val corpus = t.documents.filter(col("doc_id") % 4 =!= 0).select("doc_id", "text")
    val seeded = corpus.filter(col("doc_id") % 20 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val batch = t.documents.filter(col("doc_id") % 4 === 0).select("doc_id", "text")
      .union(seeded)
    TableLifecycle.withScratchTable("graft_sdi_src") { src =>
      TableLifecycle.withScratchTable("graft_sdi_idx") { idx =>
        TableLifecycle.withScratchTable("graft_sdi_ck") { ck =>
          def drain(): Unit = {
            val q = spark.readStream.format("graft").load(src)
              .writeStream
              .foreachBatch(incrementalWriter(idx, appId = "stream_dedup_incremental"))
              .option("checkpointLocation", ck)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            try require(q.awaitTermination(180000), "stream drain timed out") finally q.stop()
          }
          ManifestTable.append(spark, src, corpus)
          drain() // run 1: the corpus snapshot bootstraps the index
          ManifestTable.append(spark, src, batch)
          drain() // run 2: checkpoint resume, exactly the new commit
          val inIdx = ManifestTable.read(spark, idx)
            .filter(col("band") === -1).select("doc_id").withColumn("survived", lit(1))
          val out = corpus.select("doc_id").union(batch.select("doc_id"))
            .join(inIdx, Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("survived"), lit(0)).as("survived"))
            .orderBy("doc_id")
          TableLifecycle.localize(spark, out)
        }
      }
    }
  }

  /** Oracle: replay the two-phase semantics straight from `documents`
    * — batch 0 (the corpus commit) dedupes greedy-by-id within
    * itself; batch 1 drops a doc that collides (band OR exact arm)
    * with a batch-0 SURVIVOR (prior-wins, any id) or with a smaller-id
    * batch-1 doc. Batch membership is recoverable from the id alone
    * (fixture ids < 1000000): batch 1 ⇔ doc_id % 4 = 0 OR ≥ 1000000. */
  private val incrementalStreamSql = {
    val inB0 = "doc_id % 4 <> 0 AND doc_id < 1000000"
    val mInB1 = "(m % 4 = 0 OR m >= 1000000)"
    s"""WITH $incrementalSigCtes,
       |pairs AS (
       |  SELECT x.doc_id AS doc_id, y.doc_id AS m FROM buckets x JOIN buckets y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id <> y.doc_id
       |  UNION
       |  SELECT x.doc_id AS doc_id, y.doc_id AS m FROM thash x JOIN thash y
       |    ON x.th0 = y.th0 AND x.th1 = y.th1 AND x.doc_id <> y.doc_id),
       |s0 AS (SELECT doc_id FROM alldocs
       |       WHERE $inB0 AND doc_id NOT IN (
       |         SELECT doc_id FROM pairs
       |         WHERE $inB0 AND m % 4 <> 0 AND m < 1000000 AND m < doc_id)),
       |s1 AS (SELECT doc_id FROM alldocs
       |       WHERE (doc_id % 4 = 0 OR doc_id >= 1000000) AND doc_id NOT IN (
       |         SELECT doc_id FROM pairs
       |         WHERE (doc_id % 4 = 0 OR doc_id >= 1000000)
       |           AND (m IN (SELECT doc_id FROM s0)
       |                OR ($mInB1 AND m < doc_id))))
       |SELECT a.doc_id AS doc_id,
       |  CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS survived
       |FROM (SELECT doc_id FROM alldocs) a
       |LEFT JOIN (SELECT doc_id FROM s0 UNION SELECT doc_id FROM s1) s
       |  ON a.doc_id = s.doc_id
       |ORDER BY a.doc_id""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("dedup_incremental", incremental, Some(incrementalSql),
      stages = Some(incrementalStages)),
    QueryDef("stream_dedup_incremental", incrementalStream, Some(incrementalStreamSql),
      stages = Some(incrementalStages)),
    QueryDef("dedup_url", urlDedup, Some(urlDedupSql)),
    QueryDef("dedup_clusters", clusters, Some(clustersSql)),
    QueryDef("dedup_clusters_star", clustersStar, Some(clustersSql)),
    QueryDef("dedup_survivors", survivors, Some(survivorsSql)),
    QueryDef("dedup_exact", exact, Some(exactSql)),
    QueryDef("dedup_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    QueryDef("dedup_substring", substringSpans, Some(substringSql(SubstringK))),
    QueryDef("dedup_substring_cut", substringCut, Some(substringCutSql(SubstringK))),
    QueryDef("dedup_substring_keepfirst", substringKeepFirst,
      Some(substringKeepFirstSql(SubstringK))),
    // NEGATIVE CONTROL, kept deliberately: prefix-filtered PPJoin at the
    // registry's LOW τ=0.2, the regime the technique is NOT for (prefix ≈
    // 81% of each set). It is the measured half of the A/B that proves the
    // posting form above is the right plan at low τ and `_hi` below is the
    // right plan at production τ — ScaleProbe quantifies the loss (142-489 s
    // and up to 160 GB spill at 10× vs 38-80 s posting). Correctness is
    // still oracle-checked; do NOT copy this configuration to production.
    QueryDef("dedup_ngram_ppjoin", ngramPpjoin, Some(ngramJaccardSql)),
    QueryDef("dedup_ngram_ppjoin_hi", ngramPpjoinHi, Some(ngramJaccardSqlAt(JaccardHiTau))),
    QueryDef("dedup_contamination", contamination, Some(contaminationSql)),
    QueryDef("dedup_contamination_bloom", contaminationBloom, Some(contaminationSql)),
    QueryDef("dedup_minhash_lsh", minhashLsh, Some(minhashLshSql)),
    QueryDef("dedup_minhash_est", minhashEst, Some(minhashEstSql)),
    QueryDef("dedup_simhash", simhash, Some(simhashSql)),
    QueryDef("dedup_embedding", embeddingNearDup, Some(embeddingNearDupSql)),
    QueryDef("dedup_semantic", semanticDedup, Some(semanticDedupSql))
  )
}
