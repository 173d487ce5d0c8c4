package graft.operators

import graft.QueryDef
import graft.functions.{Hashing, TextOps}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: token counting, quality
  * scoring, marker-based language ID, document fingerprinting.
  *
  * All per-document, embarrassingly parallel map work — no shuffle at any
  * scale except the final presentation ORDER BY (dropped in production;
  * kept here for the deterministic oracle compare). Everything routes
  * through engine-portable primitives (see [[graft.functions.TextOps]] /
  * [[graft.functions.Hashing]]) so DuckDB reproduces results exactly.
  */
object TextAnalysis {

  /** Token counts: whitespace tokens, regex word/punct tokens, and the
    * chars/4 BPE-count heuristic. */
  def tokenCounts(t: Tables): DataFrame =
    t.documents
      .select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("n_re_tokens"),
        length(col("text")).cast("long").as("n_chars_meas"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("est_bpe_tokens")
      )
      .orderBy("doc_id")

  private val tokenCountsSql =
    s"""SELECT doc_id,
       |  len(${TextOps.sqlTokens("text")}) AS n_ws_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_re_tokens,
       |  length(text) AS n_chars_meas,
       |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** TOKEN-EXACT counting: real BPE over the normalized text via the
    * codegen'd [[graft.plans.BpeTokenCount]] expression, next to the
    * `ceil(n_chars/4)` estimate the mixing operators default to — the
    * A/B that shows how far the heuristic drifts from what a training
    * loader actually consumes. Per-row expression work only: no
    * shuffle, no UDF boundary; the merges table rides the codegen
    * reference array like a broadcast. */
  def bpeTokens(t: Tables): DataFrame =
    t.documents
      .select(
        col("doc_id"),
        graft.functions.Bpe.tokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("n_est_tokens"))
      .orderBy("doc_id")

  private val bpeTokensSql =
    s"""SELECT doc_id,
       |  ${graft.functions.Bpe.sqlTokenCount("text")} AS n_bpe_tokens,
       |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_est_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** BYTE-level BPE counting (r15) — the GPT-2/tiktoken shape: a
    * 256-value base alphabet over the text's UTF-8 bytes, merges over
    * byte pairs ([[graft.functions.Bpe.tokenCountBytes]] — the SAME
    * codegen expression as char mode, running on the ISO-8859-1
    * re-read of the bytes). The fixture corpus is ASCII-only, where
    * byte and char alphabets coincide, so the query spikes a
    * multi-byte char in ('a' → 'ä') — the demo byte table fuses ä's
    * two UTF-8 bytes and then chains them with ASCII ('än'), exactly
    * what a char-level table cannot express; the char-mode count rides
    * alongside as the A/B. DuckDB replays the byte chain over the
    * hex-rendered UTF-8 encoding, bit-for-bit. Per-row expression work
    * only — no shuffle, no UDF, scan-stage cost at 100 TB. */
  def bpeBytes(t: Tables): DataFrame = {
    val spiked = regexp_replace(col("text"), "a", "ä")
    t.documents
      .select(
        col("doc_id"),
        graft.functions.Bpe.tokenCountBytes(spiked).cast("long").as("n_byte_tokens"),
        length(encode(TextOps.normText(spiked), "UTF-8")).cast("long").as("n_bytes"),
        graft.functions.Bpe.tokenCount(spiked).cast("long").as("n_char_tokens"))
      .orderBy("doc_id")
  }

  private val bpeBytesSql = {
    val spiked = "regexp_replace(text, 'a', 'ä', 'g')"
    s"""SELECT doc_id,
       |  ${graft.functions.Bpe.sqlTokenCountBytes(spiked)} AS n_byte_tokens,
       |  octet_length(encode(${TextOps.sqlNormText(spiked)})) AS n_bytes,
       |  ${graft.functions.Bpe.sqlTokenCount(spiked)} AS n_char_tokens
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** GPT-2-style REGEX PRE-TOKENIZATION A/B (r15) — real tokenizers
    * (GPT-2, tiktoken, Llama) split text on a class-boundary regex
    * BEFORE BPE so merges never cross letter/digit/punctuation/
    * contraction boundaries ([[graft.functions.Bpe.PretokPattern]],
    * RE2-safe — the one documented divergence from GPT-2's exact
    * pattern is its untranslatable trailing-space lookahead). The
    * fixture corpus is lowercase+space, so the query splices an
    * adversarial suffix exercising every arm — a contraction, a digit
    * run, hyphenated words, punctuation, and "value42" whose
    * letter→digit seam the demo table's crossing merge ("ue"+"4")
    * fuses in PLAIN mode but pre-tokenization forbids. Both counts run
    * the same codegen expression (pretok flag flipped) under the SAME
    * merges table; DuckDB tiles with the same regex and replays the
    * chain per pre-token. Per-row expression work only — no shuffle,
    * no UDF, scan-stage cost at 100 TB. */
  def bpePretok(t: Tables): DataFrame = {
    val spiked = concat(col("text"), lit(" it's 2026 value42 red-blue!"))
    t.documents
      .select(
        col("doc_id"),
        graft.functions.Bpe.tokenCountPretok(spiked).cast("long").as("n_pretok_tokens"),
        graft.functions.Bpe.tokenCount(spiked, graft.functions.Bpe.PretokDemoMerges)
          .cast("long").as("n_plain_tokens"))
      .orderBy("doc_id")
  }

  private val bpePretokSql = {
    val spiked = "text || ' it''s 2026 value42 red-blue!'"
    s"""SELECT doc_id,
       |  ${graft.functions.Bpe.sqlTokenCountPretok(spiked)} AS n_pretok_tokens,
       |  ${graft.functions.Bpe.sqlTokenCount(spiked,
              graft.functions.Bpe.PretokDemoMerges)} AS n_plain_tokens
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The FULL GPT-2 tokenizer shape (r15): regex pre-tokenization THEN
    * byte-level BPE — what GPT-2/tiktoken/Llama actually run
    * ([[graft.functions.Bpe.tokenCountGpt2]]). The A/B column is plain
    * byte mode under the SAME merges table, whose crossing merge
    * ("Ã¤n"+"4", byte space) fuses "än42"'s letter→digit seam — the
    * pre-tokenized count never can. Spiked like [[bpeBytes]] ('a'→'ä'
    * exercises multi-byte UTF-8) plus a suffix hitting the contraction
    * and digit arms. One codegen expression per column — no shuffle,
    * no UDF, scan-stage cost at 100 TB. */
  def bpeGpt2(t: Tables): DataFrame = {
    val spiked = concat(regexp_replace(col("text"), "a", "ä"), lit(" än42 it's!"))
    t.documents
      .select(
        col("doc_id"),
        graft.functions.Bpe.tokenCountGpt2(spiked).cast("long").as("n_gpt2_tokens"),
        graft.functions.Bpe.tokenCountBytes(spiked, graft.functions.Bpe.Gpt2DemoMerges)
          .cast("long").as("n_byte_tokens"))
      .orderBy("doc_id")
  }

  private val bpeGpt2Sql = {
    val spiked = "regexp_replace(text, 'a', 'ä', 'g') || ' än42 it''s!'"
    s"""SELECT doc_id,
       |  ${graft.functions.Bpe.sqlTokenCountGpt2(spiked)} AS n_gpt2_tokens,
       |  ${graft.functions.Bpe.sqlTokenCountBytes(spiked,
              graft.functions.Bpe.Gpt2DemoMerges)} AS n_byte_tokens
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Token SEQUENCES, not counts (r15): `Bpe.encodeTokens` explodes to
    * (doc_id, pos, token) rows — the form packing and vocabulary-index
    * lookup consume, and the strongest oracle shape for the encoder
    * (every SYMBOL hash-compared positionally, not just the lengths).
    * DuckDB replays the merge chain and unnests with the zipped-range
    * ordinality idiom. Map-side explode; the only exchange is the
    * presentation sort. */
  def bpeEncode(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), posexplode(graft.functions.Bpe.encodeTokens(col("text"))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("token"))
      .orderBy("doc_id", "pos")

  private val bpeEncodeSql =
    s"""WITH enc AS (SELECT doc_id, ${graft.functions.Bpe.sqlEncodeTokens("text")} AS toks
       |             FROM documents)
       |SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
       |       unnest(toks) AS token
       |FROM enc ORDER BY doc_id, pos""".stripMargin

  // ONE stopword list — the public TextOps.qualityScore's (r15)
  private val stopwords = TextOps.QualityStopwords
  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ",", ")")

  /** Quality scoring: length, alpha ratio, stopword ratio → composite.
    * Tokenization happens once (`toks` column) and every ratio reads it —
    * one regex+split per document, not one per metric. */
  def qualityScore(t: Tables): DataFrame = {
    val nToks = size(col("toks")).cast("double")
    val stopRatio = expr(s"size(filter(toks, t -> t IN ${sqlList(stopwords)}))") / nToks
    val alphaRatio = length(regexp_replace(lower(col("text")), "[^a-z]", "")) / length(col("text")).cast("double")
    // the composite itself is the PUBLIC TextOps composite (r15); the
    // board hash proves the public face equals this gate's score. r16:
    // through the toks-sharing overload — the r15 form re-tokenized
    // inside qualityScore(text) and doubled the scan cost (isolated
    // re-measure 0.93 s vs r14's 0.54 s; adjudicated in SCALE.md)
    val score = TextOps.qualityScoreFrom(col("text"), col("toks"))
    t.documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(stopRatio, 4).as("stopword_ratio"),
        round(alphaRatio, 4).as("alpha_ratio"),
        score.as("quality_score"),
        (score >= 0.5).as("passed")
      )
      .orderBy("doc_id")
  }

  // ONE SQL definition of the quality composite's pieces — the board
  // gate, Dedup's survivor selection, and the funnel all compose the
  // SAME strings, so a weight/rounding tweak cannot silently diverge
  private val sqlStopRatio = {
    val toks = TextOps.sqlTokens("text")
    s"len(list_filter($toks, t -> t IN ${sqlList(stopwords)})) / CAST(len($toks) AS DOUBLE)"
  }
  private val sqlAlphaRatio =
    "length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE)"
  private[operators] val sqlQualityScore =
    s"round(least(1.0, len(${TextOps.sqlTokens("text")})/100.0)*0.3 + " +
      s"($sqlStopRatio)*0.3 + ($sqlAlphaRatio)*0.4, 4)"

  // package-visible: Dedup's survivor selection composes the same score
  private[operators] val qualityScoreSql =
    s"""SELECT doc_id,
       |  len(${TextOps.sqlTokens("text")}) AS n_tokens,
       |  round($sqlStopRatio, 4) AS stopword_ratio,
       |  round($sqlAlphaRatio, 4) AS alpha_ratio,
       |  $sqlQualityScore AS quality_score,
       |  $sqlQualityScore >= 0.5 AS passed
       |FROM documents ORDER BY doc_id""".stripMargin

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2")
  )

  /** Marker-word language ID: count stopword hits per language, argmax
    * with fixed tie order (the classic n-gram-profile heuristic collapsed
    * to its word-unigram core — deterministic and oracle-mirrorable). */
  def langId(t: Tables): DataFrame = {
    // marker counts go through the shared tokenizer (TextOps.tokens), so a
    // normalization change can't desynchronize this side from the oracle's
    // TextOps.sqlTokens mirror
    val toks = TextOps.tokens(col("text"))
    val base = t.documents.select(
      (Seq(col("doc_id"), col("lang")) ++ langMarkers.map { case (l, ws) =>
        size(filter(toks, tk => tk.isInCollection(ws))).cast("long").as(s"s_$l")
      }): _*)
    val scores = langMarkers.map { case (l, _) => col(s"s_$l") }
    val best = greatest(scores: _*)
    val pred = langMarkers.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    // foldRight gives earlier languages priority on ties (en first)
    base
      .withColumn("pred_lang", pred)
      .withColumn("matches_label", col("pred_lang") === col("lang"))
      .orderBy("doc_id")
  }

  private val langIdSql = {
    val toks = TextOps.sqlTokens("text")
    val scoreExprs = langMarkers.map { case (l, ws) =>
      s"len(list_filter($toks, t -> t IN ${sqlList(ws)})) AS s_$l"
    }.mkString(",\n  ")
    val best = langMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val pred = langMarkers.map { case (l, _) =>
      s"WHEN s_$l = $best AND $best > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""SELECT doc_id, lang, s_en, s_es, s_de, s_fr, s_zh,
       |  $pred AS pred_lang,
       |  ($pred) = lang AS matches_label
       |FROM (SELECT doc_id, lang, $scoreExprs FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- fastText-shaped language ID (r16) ----------------------------------

  /** Feature-hash width of the char-trigram classifier. */
  private val LidBuckets = 256
  private val LidLangs = langMarkers.map(_._1)

  /** Per-char Unicode CODEPOINTS of an already-normalized `t` column
    * (one row-local pass; both engines' `ascii` returns the full
    * codepoint — verified on U+20AC — and both `split(t, '')` /
    * `string_split(t, '')` yield exactly the char list, so the
    * derivation is engine-portable beyond ASCII). */
  private[graft] val lidCps = expr("transform(split(t, ''), c -> CAST(ascii(c) AS BIGINT))")

  /** 0-based feature bucket per char-TRIGRAM position (fastText's
    * subword features collapsed to their n-gram core), computed from
    * the `cps` codepoint column as a pure INTEGER MIX: h = cp₁·A +
    * cp₂·B + cp₃ (odd 32-bit constants keep h < 2⁶² — DuckDB BIGINT
    * overflow throws rather than wraps), then fold the high product
    * bits into the bucket with two xor-shifts. r17: replaces r16's
    * one-md5-per-gram bucket — md5 was the board's costliest scan
    * (~5M gram hashes at sf0.1, 13.4 s); the mix is a handful of
    * codegen'd long ops per gram and DuckDB replays it exactly
    * (xor/>>/% on positive BIGINTs). Never materializes gram
    * STRINGS at all. */
  private[graft] val lidBucketArr = expr(
    s"""CASE WHEN length(t) >= 3 THEN
       |  transform(
       |    transform(sequence(1, length(t) - 2), i ->
       |      element_at(cps, i) * 3266489917 +
       |      element_at(cps, i + 1) * 668265263 + element_at(cps, i + 2)),
       |    h -> CAST((h ^ shiftright(h, 13) ^ shiftright(h, 27)) % $LidBuckets AS INT))
       |ELSE array() END""".stripMargin)

  /** r19: per-doc integer-milli scores for ALL languages in ONE
    * row-local pass. The per-language form ran five separate
    * `aggregate(transform(bkts, element_at(w_l, b)))` passes per doc —
    * higher-order functions evaluate interpreted, so each pass pays a
    * closure invocation and an array materialization per gram. Fusing
    * the five weight vectors into one bucket-indexed matrix literal and
    * summing into a 5-field struct accumulator walks each doc's gram
    * array once. Same longs, same order-independent exact sums — the
    * argmax cannot move. Expects the 0-BASED bucket array
    * ([[lidBucketArr]]); returns a struct with fields `s_<lang>`. */
  private def lidSumsStruct(w: Map[String, IndexedSeq[Long]]): Column = {
    // A/B'd (r19): a single struct-accumulator pass was measured ~30%
    // SLOWER than five scalar passes (interpreted HOF eval rebuilds the
    // 5-field struct per gram); five scalar aggregates with the lookup
    // INLINE in the merge lambda (no per-language transform() array
    // materialization) measured fastest.
    struct(LidLangs.map { l =>
      val wl = typedLit(w(l))
      aggregate(col("bkts"), lit(0L), (acc, b) => acc + element_at(wl, b))
        .as(s"s_$l")
    }: _*)
  }

  /** Train the fastText-SHAPED classifier: hashed char-trigram features
    * → one linear weight vector per language. Training is the closed-
    * form multinomial-NB cousin of fastText's SGD (per-language
    * Laplace log-probabilities over feature buckets,
    * w = ln((c+1)/(N+B))), which keeps it deterministic and oracle-
    * replayable; weights quantize to INTEGER MILLIS so the scoring sum
    * is a long sum — exact and order-independent, the
    * `text_model_filter` argmax discipline (a double sum could flip
    * near-ties between engines). Output: the dense (lang, bucket,
    * w_milli) relation, |langs| × [[LidBuckets]] rows. */
  private[graft] def lidTrain(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs.withColumn("t", TextOps.normText(col("text")))
      .withColumn("cps", lidCps)
      .select(col("lang"), explode(lidBucketArr).as("bucket"))
    val cnt = grams.groupBy("lang", "bucket").agg(count(lit(1)).as("c"))
    val tot = grams.groupBy("lang").agg(count(lit(1)).as("n"))
    LidLangs.toDF("lang")
      .crossJoin(spark.range(LidBuckets).toDF("bucket"))
      .join(cnt, Seq("lang", "bucket"), "left")
      .join(tot, Seq("lang"), "left")
      .select(col("lang"), col("bucket"),
        round(lit(1000.0) * log(
          (coalesce(col("c"), lit(0L)) + lit(1L)) /
            (coalesce(col("n"), lit(0L)) + lit(LidBuckets)).cast("double")))
          .cast("long").as("w_milli"))
  }

  /** fastText-SHAPED language ID (r16 — the r15 verdict's #5, one rung
    * past [[langId]]'s marker words): hashed char-trigram features →
    * per-language linear scores → argmax. The board query runs the
    * FULL artifact loop — train ([[lidTrain]]) → save the weight
    * relation as parquet → load through the public
    * [[TextOps.langModelWeights]] (completeness-validated, bounded
    * driver collect) → score with the loaded vectors as BROADCAST
    * LITERAL ARRAYS (`element_at` lookup inside a row-local
    * `aggregate`, the `TextOps.modelScore` plumbing) — so the
    * artifact path is what the oracle hash pins. Ties break by the
    * fixed [[langMarkers]] priority (en first); docs too short to
    * carry a trigram read `und`.
    *
    * Fixture honesty: testdata's `lang` labels are random over one
    * shared vocabulary, so label ACCURACY is meaningless here — the
    * key pins determinism, the artifact loop, and cross-engine argmax
    * parity; `LangIdModelSpec` proves discrimination on real
    * multilingual snippets. Scale: training is one hash aggregate to a
    * |langs|×256 relation; scoring is scan-stage row-local work
    * against broadcast arrays — zero joins, zero shuffles beyond the
    * presentation sort. */
  def langIdModel(t: Tables): DataFrame = {
    val spark = t.spark
    TableLifecycle.withScratchTable("graft_lid") { root =>
      lidTrain(t.documents.filter(col("lang").isInCollection(LidLangs)))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/weights")
      val w = TextOps.langModelWeights(spark, s"$root/weights", LidLangs, LidBuckets)
      // the bucket mix is language-independent — derive the 1-based
      // index array ONCE per doc and let each language sum read it
      // (the r16 first cut recomputed the hash inside all five
      // aggregates: 5× the work; codegen CSE does not cross aliases).
      // r19: the weight lookup rides INLINE in each merge lambda —
      // the per-language transform() materialized an extra array per
      // doc per language for nothing ([[lidSumsStruct]]).
      val base = t.documents.withColumn("t", TextOps.normText(col("text")))
        .withColumn("cps", lidCps)
        .withColumn("bkts", transform(lidBucketArr, b => b + 1))
        .withColumn("sums", lidSumsStruct(w))
        .select(Seq(col("doc_id"), col("lang"), length(col("t")).as("tlen")) ++
          LidLangs.map(l => col("sums").getField(s"s_$l").as(s"s_$l")): _*)
      val best = greatest(LidLangs.map(l => col(s"s_$l")): _*)
      val pred = LidLangs.foldRight(lit("und")) { case (l, acc) =>
        when(col(s"s_$l") === best, lit(l)).otherwise(acc)
      }
      val out = base.select(
        (Seq(col("doc_id"), col("lang")) ++ LidLangs.map(l => col(s"s_$l")) ++ Seq(
          when(col("tlen") < 3, lit("und")).otherwise(pred).as("pred_lang"))): _*)
        .withColumn("matches_label", col("pred_lang") === col("lang"))
        .orderBy("doc_id")
      TableLifecycle.localize(spark, out)
    }
  }

  /** Shared langid SQL core (r18 — the r17 verdict's #3): the full
    * train+score+argmax CTE chain — training grams from `trainRel`,
    * scoring every `scoreRel` doc (both carrying (doc_id, lang,
    * text)) — ending in `lidpred`, one (doc_id, lang, s_en..s_zh,
    * pred_lang) row per scored doc. ONE definition serves
    * `text_langid_model` (train = score = documents) and the funnel's
    * language gate (train = raw documents — the PRE-trained-artifact
    * semantics — score = the funnel's seeded corpus), the
    * `NgramLm.coreSqlOver` discipline: the classifier math cannot
    * drift between the keys. */
  private[graft] def lidCoreSqlOver(trainRel: String, scoreRel: String): String = {
    val langList = LidLangs.map(l => s"'$l'").mkString("[", ",", "]")
    // the same codepoint mix as [[lidBucketArr]]: DuckDB's ascii() is
    // the full codepoint and xor/>>/% agree with Spark on positive
    // BIGINTs; range(1, greatest(len-1, 1)) is empty below 3 chars,
    // mirroring the Spark CASE guard
    val bucketsOf =
      s"""list_transform(
         |  list_transform(range(1, greatest(length(t) - 1, 1)), i ->
         |    cp[i] * 3266489917 + cp[i + 1] * 668265263 + cp[i + 2]),
         |  h -> xor(xor(h, h >> 13), h >> 27) % $LidBuckets)""".stripMargin
    // CAST each sum: DuckDB sum(BIGINT) returns HUGEINT (int128) where
    // Spark emits LongType, and the driver's value hash is TYPE-
    // sensitive — r16's only red board row was exactly these five
    // columns shipping as HUGEINT (rows+schema matched, hash failed)
    val sumCols = LidLangs.map(l =>
      s"CAST(sum(CASE WHEN wd.lang = '$l' THEN w_milli ELSE 0 END) AS BIGINT) AS s_$l")
      .mkString(",\n    ")
    val best = LidLangs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val pred = LidLangs.map(l => s"WHEN s_$l = $best THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
    // scoring chain over scoreRel; training grams from trainRel — one
    // shared chain when they are the same relation
    val trainBk =
      if (trainRel == scoreRel) ""
      else
        s"""lidtnorm AS (SELECT doc_id, lang, ${TextOps.sqlNormText("text")} AS t FROM $trainRel),
           |lidtbk AS (SELECT doc_id, lang, t, $bucketsOf AS bkts FROM
           |       (SELECT doc_id, lang, t,
           |          list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT)) AS cp FROM lidtnorm)),
           |""".stripMargin
    val gramsSrc = if (trainRel == scoreRel) "lidbk" else "lidtbk"
    s"""lidnorm AS (SELECT doc_id, lang, ${TextOps.sqlNormText("text")} AS t FROM $scoreRel),
       |lidbk AS (SELECT doc_id, lang, t, $bucketsOf AS bkts FROM
       |       (SELECT doc_id, lang, t,
       |          list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT)) AS cp FROM lidnorm)),
       |${trainBk}lidgrams AS (SELECT lang, unnest(bkts) AS bucket FROM $gramsSrc
       |          WHERE lang IN (SELECT unnest($langList))),
       |lidcnt AS (SELECT lang, bucket, count(*) AS c FROM lidgrams GROUP BY lang, bucket),
       |lidtot AS (SELECT lang, count(*) AS n FROM lidgrams GROUP BY lang),
       |liddense AS (SELECT l.lang, b.bucket,
       |            CAST(round(1000.0 * ln((coalesce(c, 0) + 1) /
       |                 CAST(coalesce(n, 0) + $LidBuckets AS DOUBLE))) AS BIGINT) AS w_milli
       |          FROM (SELECT unnest($langList) AS lang) l
       |          CROSS JOIN (SELECT unnest(range($LidBuckets)) AS bucket) b
       |          LEFT JOIN lidcnt USING (lang, bucket) LEFT JOIN lidtot USING (lang)),
       |liddocg AS (SELECT doc_id, unnest(bkts) AS bucket FROM lidbk),
       |lidsc AS (SELECT doc_id,
       |    $sumCols
       |  FROM liddocg g JOIN liddense wd ON g.bucket = wd.bucket GROUP BY doc_id),
       |lidpred AS (SELECT doc_id, lang, ${LidLangs.map(l => s"s_$l").mkString(", ")},
       |    CASE WHEN tlen < 3 THEN 'und' ELSE $pred END AS pred_lang
       |  FROM (SELECT n.doc_id, n.lang, length(n.t) AS tlen,
       |          ${LidLangs.map(l => s"CAST(coalesce(s_$l, 0) AS BIGINT) AS s_$l").mkString(", ")}
       |        FROM lidnorm n LEFT JOIN lidsc ON n.doc_id = lidsc.doc_id))""".stripMargin
  }

  private val langIdModelSql =
    s"""WITH ${lidCoreSqlOver("documents", "documents")}
       |SELECT doc_id, lang, ${LidLangs.map(l => s"s_$l").mkString(", ")}, pred_lang,
       |  pred_lang = lang AS matches_label
       |FROM lidpred
       |ORDER BY doc_id""".stripMargin

  /** Document fingerprints: whole-doc md5-derived 60-bit fingerprint plus
    * the minimum shingle hash (a 1-perm minhash — the winnowing-style
    * representative k-gram). */
  def fingerprints(t: Tables): DataFrame =
    t.documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(
        col("doc_id"),
        Hashing.md5Long(TextOps.normText(col("text"))).as("doc_fp"),
        array_min(transform(TextOps.shingles("toks"), s => Hashing.md5Long(s))).as("min_shingle_fp")
      )
      .orderBy("doc_id")

  private val fingerprintsSql = {
    val sh = TextOps.sqlShingles("toks")
    s"""SELECT doc_id,
       |  ${Hashing.sqlMd5Long(TextOps.sqlNormText("text"))} AS doc_fp,
       |  list_min(list_transform($sh, s -> ${Hashing.sqlMd5Long("s")})) AS min_shingle_fp
       |FROM (SELECT doc_id, text, ${TextOps.sqlTokens("text")} AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Top TF-IDF term per document. tf = term count / doc tokens; idf =
    * ln(N / df). Two aggregations (term counts, df) + a window top-1. The
    * df join keys on `term` with no broadcast hint: web-scale corpora have
    * billions of distinct raw tokens, so the dictionary must be allowed to
    * shuffle-join; AQE still broadcasts it when the runtime size fits. */
  def tfidfTop(t: Tables): DataFrame = {
    val terms = t.documents
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    val termCounts = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf_raw"))
    // doc length in-flight as a window sum over the term counts (already
    // partitioned by doc) — no second scan, and no broadcast of a
    // one-row-per-document relation that grows with the corpus
    val withLens = termCounts.withColumn("doc_len",
      sum(col("tf_raw")).over(Window.partitionBy(col("doc_id"))))
    val df_ = termCounts.groupBy("term").agg(count(lit(1)).as("df"))
    val n = t.documents.select(count_distinct(col("doc_id")).as("n_docs"))
    val scored = withLens
      .join(df_, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round((col("tf_raw") / col("doc_len").cast("double")) * log(col("n_docs") / col("df").cast("double")), 4))
    // top-1 per doc through the custom bounded-heap operator: the window
    // formulation would shuffle AND sort every (doc, term) row; this
    // prunes each partition to one row per doc before the exchange
    graft.plans.TopKPerKey(scored, Seq("doc_id"),
        Seq(("tfidf", false), ("term", true)), 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tfidf"))
      .orderBy("doc_id")
  }

  private val tfidfTopSql = {
    val toks = TextOps.sqlTokens("text")
    s"""WITH terms AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |tc AS (SELECT doc_id, term, count(*) AS tf_raw FROM terms GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS doc_len FROM terms GROUP BY doc_id),
       |df AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
       |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tc.doc_id, tc.term,
       |    round((tf_raw / CAST(doc_len AS DOUBLE)) * ln(n_docs / CAST(df AS DOUBLE)), 4) AS tfidf
       |  FROM tc JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, term AS top_term, tfidf FROM (
       |  SELECT doc_id, term, tfidf,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
       |  FROM scored)
       |WHERE rnk = 1 ORDER BY doc_id""".stripMargin
  }

  /** Repetition signals (the Gopher/RefinedWeb duplicate-n-gram filters):
    * duplicate-trigram mass fraction and most-frequent-bigram share per
    * document. Both are IN-ROW over the token array — the top-bigram
    * count is a longest-run fold over the sorted bigram array (aggregate
    * HOF), so unlike a groupBy-count formulation the operator stays a
    * pure shuffle-free map at any corpus size. The oracle states the same
    * quantity relationally (unnest → count → max). */
  def repetition(t: Tables): DataFrame = {
    val bigrams = expr(
      """CASE WHEN size(toks) >= 2
        |  THEN transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))
        |  ELSE array() END""".stripMargin)
    // longest run in the sorted array = max multiplicity
    val topCount = expr(
      """aggregate(sort_array(bg),
        |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
        |  (s, x) -> named_struct(
        |    'prev', x,
        |    'run', IF(s.prev IS NOT NULL AND x = s.prev, s.run + 1L, 1L),
        |    'best', greatest(s.best, IF(s.prev IS NOT NULL AND x = s.prev, s.run + 1L, 1L))),
        |  s -> s.best)""".stripMargin)
    t.documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("bg", bigrams)
      .withColumn("sh", TextOps.shingles("toks"))
      .select(
        col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        round(when(size(col("bg")) > 0, topCount / size(col("bg"))).otherwise(0.0), 4)
          .as("top_bigram_share"),
        round(when(size(col("sh")) > 0,
          lit(1.0) - size(array_distinct(col("sh"))) / size(col("sh")).cast("double"))
          .otherwise(0.0), 4).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  private val repetitionSql =
    s"""WITH t AS (SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |                             i -> concat(toks[i], ' ', toks[i+1]))) AS b FROM t),
       |bgtot AS (SELECT doc_id, count(*) AS nb FROM bg GROUP BY doc_id),
       |bgtop AS (SELECT doc_id, max(c) AS mc FROM
       |          (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b) GROUP BY doc_id),
       |shr AS (SELECT doc_id, ${TextOps.sqlShingles("toks")} AS sh FROM t)
       |SELECT t.doc_id,
       |  coalesce(nb, 0) AS n_bigrams,
       |  round(coalesce(mc / CAST(nb AS DOUBLE), 0), 4) AS top_bigram_share,
       |  round(CASE WHEN len(sh) > 0
       |        THEN 1.0 - len(list_distinct(sh)) / CAST(len(sh) AS DOUBLE)
       |        ELSE 0 END, 4) AS dup_trigram_frac
       |FROM t LEFT JOIN bgtot USING (doc_id) LEFT JOIN bgtop USING (doc_id)
       |       JOIN shr USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Curation gate (the FineWeb/Gopher-style keep/drop step): composes
    * the per-doc signals — token count, alphabetic ratio, duplicate-
    * trigram fraction, language-ID agreement — into a keep decision with
    * REASON CODES, the auditability a production filter needs (dropped
    * mass must be attributable per rule). One shuffle-free map pass; all
    * thresholds sit ≥ 0.04 from any data point at every SF so both
    * engines make identical float comparisons. Reasons are emitted as a
    * comma-joined string in fixed rule order (comparator-safe — no array
    * columns). */
  def curation(t: Tables): DataFrame = {
    val nToks = size(col("toks"))
    val alphaRatio =
      length(regexp_replace(lower(col("text")), "[^a-z]", "")) / length(col("text")).cast("double")
    val dupFrac = when(size(col("sh")) > 0,
      lit(1.0) - size(array_distinct(col("sh"))) / size(col("sh")).cast("double")).otherwise(0.0)
    val scores = langMarkers.map { case (l, ws) =>
      l -> size(filter(col("toks"), tk => tk.isInCollection(ws))).cast("long")
    }
    val best = greatest(scores.map(_._2): _*)
    val predLang = scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
    val reasons = concat_ws(",",
      when(nToks < 20, lit("too_short")),
      when(alphaRatio < 0.75, lit("low_alpha")),
      when(dupFrac > 0.25, lit("repetitive")),
      when(predLang =!= col("lang"), lit("lang_mismatch")))
    t.documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sh", TextOps.shingles("toks"))
      .select(col("doc_id"), nToks.cast("long").as("n_tokens"),
        (reasons === "").as("keep"), reasons.as("reasons"))
      .orderBy("doc_id")
  }

  private val curationSql = {
    val toks = TextOps.sqlTokens("text")
    val alpha = s"length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE)"
    val dup = s"CASE WHEN len(sh) > 0 THEN 1.0 - len(list_distinct(sh)) / CAST(len(sh) AS DOUBLE) ELSE 0 END"
    val best = langMarkers.map { case (l, _) =>
      s"len(list_filter(toks, t -> t IN ${sqlList(langMarkers.toMap.apply(l))}))"
    }.mkString("greatest(", ", ", ")")
    val pred = langMarkers.map { case (l, ws) =>
      s"WHEN len(list_filter(toks, t -> t IN ${sqlList(ws)})) = $best AND $best > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""SELECT doc_id, len(toks) AS n_tokens,
       |  reasons = '' AS keep, reasons
       |FROM (SELECT doc_id, toks,
       |        concat_ws(',',
       |          CASE WHEN len(toks) < 20 THEN 'too_short' END,
       |          CASE WHEN $alpha < 0.75 THEN 'low_alpha' END,
       |          CASE WHEN $dup > 0.25 THEN 'repetitive' END,
       |          CASE WHEN ($pred) <> lang THEN 'lang_mismatch' END) AS reasons
       |      FROM (SELECT doc_id, lang, text, toks, ${TextOps.sqlShingles("toks")} AS sh
       |            FROM (SELECT doc_id, lang, text, $toks AS toks FROM documents)))
       |ORDER BY doc_id""".stripMargin
  }

  /** Corpus n-gram statistics: the top-20 bigrams by total occurrences
    * with their document frequency — the frequency table behind
    * stop-phrase lists and boilerplate detection in LM-data curation.
    *
    * Scale: explode → TWO exchanges (the `df` distinct-count rewrites to
    * a partial aggregate keyed on (bigram, doc_id), then a re-shuffle on
    * bigram — PLAN_SNAPSHOT records both), each map-side combined over
    * the deduplicated pairs → TakeOrderedAndProject for the top-k; no
    * sort of the full frequency table. Drop `df` if one shuffle matters
    * more than document frequency. */
  def ngramFreq(t: Tables): DataFrame = {
    val toks = t.documents.withColumn("toks", TextOps.tokens(col("text")))
    toks
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2
          |  THEN transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))
          |  ELSE array() END""".stripMargin)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  private val ngramFreqSql =
    s"""WITH toks AS (SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks FROM documents),
       |bg AS (SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(toks), 1)),
       |                               i -> concat(toks[i], ' ', toks[i+1]))) AS bigram
       |       FROM toks)
       |SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS df
       |FROM bg GROUP BY bigram
       |ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  /** Unigram language-model score — the CCNet/KenLM perplexity-filter
    * signal reduced to the model both engines can mirror exactly: corpus
    * unigram frequencies as the LM, per-document mean token
    * log-probability as the score. Documents far below the corpus norm are
    * gibberish/boilerplate candidates; far above are repetitive-common-word
    * text — the standard two-sided quality cut.
    *
    * Scale: the "model" stays a (term, count) RELATION — the doc→term join
    * is the posting-list shape shuffling on term, like tfidf; no vocab
    * broadcast that grows with the corpus. The only broadcast is the 1-row
    * total. No smoothing needed: the model is trained on the corpus it
    * scores, so every token has count ≥ 1. */
  def lmScore(t: Tables): DataFrame = {
    val terms = t.documents
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
    val vocab = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = terms.agg(count(lit(1)).as("n_tokens"))
    terms.join(vocab, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(round(avg(log(col("cnt") / col("n_tokens").cast("double"))), 4).as("avg_logprob"),
        count(lit(1)).as("n_toks"))
      .orderBy("doc_id")
  }

  private val lmScoreSql = {
    val toks = TextOps.sqlTokens("text")
    s"""WITH terms AS (SELECT doc_id, unnest($toks) AS term FROM documents),
       |vocab AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
       |tot AS (SELECT count(*) AS n_tokens FROM terms)
       |SELECT doc_id, round(avg(ln(cnt / CAST(n_tokens AS DOUBLE))), 4) AS avg_logprob,
       |       count(*) AS n_toks
       |FROM terms JOIN vocab USING (term) CROSS JOIN tot
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** INTERPOLATED BIGRAM language-model score (r15) — one modeling
    * step past [[lmScore]] toward the CCNet/KenLM 5-gram filter:
    * position 0 scores log P_uni(w0); positions ≥ 1 score
    * log(λ·P(w|prev) + (1−λ)·P_uni(w)) with λ = 0.9, P(w|prev) =
    * c(prev,w)/c(prev,·) — trained on the corpus it scores, so every
    * observed event has count ≥ 1 and no unseen-mass smoothing is
    * needed (the interpolation still damps rare continuations exactly
    * as Jelinek-Mercer does). Two-sided cuts on the score find
    * gibberish (far below norm) and boilerplate (far above).
    *
    * Scale: bigrams derive ROW-LOCALLY from each doc's token array (no
    * window/lag shuffle); the model stays (prev,w)- and (prev)-keyed
    * RELATIONS — posting-list joins shuffling on their keys like
    * [[lmScore]]/tfidf, never a vocab² broadcast. The only broadcast is
    * the 1-row total. */
  def lmBigram(t: Tables): DataFrame =
    bigramScores(t).orderBy("doc_id")

  /** Adjacent-pair structs from a token-array column — row-local, the
    * no-shuffle bigram derivation every LM op shares. */
  private[graft] def bigramPairs(toksCol: String): Column = expr(
    s"""CASE WHEN size($toksCol) >= 2
       |  THEN transform(sequence(0, size($toksCol) - 2),
       |                 i -> struct($toksCol[i] AS prev, $toksCol[i+1] AS w))
       |  ELSE array() END""".stripMargin)

  /** [[lmBigram]] without the presentation sort — shared with
    * [[pplBuckets]], which re-aggregates it. */
  private def bigramScores(t: Tables): DataFrame = {
    val base = t.documents.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val terms = base.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
    val vocab = terms.groupBy("term").agg(count(lit(1)).as("c_w"))
    val total = terms.agg(count(lit(1)).as("n_tokens"))
    val bg = base.select(col("doc_id"), explode(bigramPairs("toks")).as("b"))
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.w").as("w"))
    val bgc = bg.groupBy("prev", "w").agg(count(lit(1)).as("c_pw"))
    val pc = bgc.groupBy("prev").agg(sum("c_pw").as("c_p"))
    val lp0 = terms.filter(col("pos") === 0).join(vocab, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), log(col("c_w") / col("n_tokens").cast("double")).as("lp"))
    val lpb = bg.join(bgc, Seq("prev", "w")).join(pc, "prev")
      .join(vocab.withColumnRenamed("term", "w"), "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(lit(0.9) * col("c_pw") / col("c_p") +
          lit(0.1) * (col("c_w") / col("n_tokens").cast("double"))).as("lp"))
    lp0.unionByName(lpb)
      .groupBy("doc_id")
      .agg(round(avg(col("lp")), 4).as("avg_logprob_bg"), count(lit(1)).as("n_scored"))
  }

  /** The bigram-score CTE chain, shared by [[lmBigramSql]] and
    * [[pplBucketsSql]] (no ORDER BY — callers append their own
    * presentation). */
  private val lmBigramCore = {
    val toks = TextOps.sqlTokens("text")
    s"""toks AS (SELECT doc_id, $toks AS toks FROM documents),
       |terms AS (SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
       |          FROM toks),
       |vocab AS (SELECT term, count(*) AS c_w FROM terms GROUP BY term),
       |tot AS (SELECT count(*) AS n_tokens FROM terms),
       |bg AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS w
       |       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks), 1))) AS i
       |             FROM toks)),
       |bgc AS (SELECT prev, w, count(*) AS c_pw FROM bg GROUP BY prev, w),
       |pc AS (SELECT prev, sum(c_pw) AS c_p FROM bgc GROUP BY prev),
       |lp0 AS (SELECT doc_id, ln(c_w / CAST(n_tokens AS DOUBLE)) AS lp
       |        FROM (SELECT doc_id, term FROM terms WHERE pos = 0) t
       |             JOIN vocab USING (term) CROSS JOIN tot),
       |lpb AS (SELECT doc_id,
       |          ln(0.9::DOUBLE * c_pw / c_p +
       |             0.1::DOUBLE * (c_w / CAST(n_tokens AS DOUBLE))) AS lp
       |        FROM bg JOIN bgc USING (prev, w) JOIN pc USING (prev)
       |             JOIN (SELECT term AS w, c_w FROM vocab) v USING (w) CROSS JOIN tot),
       |scores AS (SELECT doc_id, round(avg(lp), 4) AS avg_logprob_bg,
       |                  count(*) AS n_scored
       |           FROM (SELECT * FROM lp0 UNION ALL SELECT * FROM lpb)
       |           GROUP BY doc_id)""".stripMargin
  }

  private val lmBigramSql =
    s"""WITH $lmBigramCore
       |SELECT doc_id, avg_logprob_bg, n_scored
       |FROM scores ORDER BY doc_id""".stripMargin

  /** CCNet-style PERPLEXITY BUCKETS (r15): split the corpus into
    * head / middle / tail thirds by bigram-LM score — the partition
    * CCNet samples training data by (head = most-fluent third). The
    * cutoffs come from an EXACT cumulative HISTOGRAM of the (4dp)
    * scores, not a global sort: distinct rounded scores are a bounded
    * relation, so the one window runs over kilobytes while the corpus
    * only pays the score join — the scale-honest form of a corpus-wide
    * percentile. Ties share a bucket by construction (assignment
    * compares scores only), so boundary ties can shift bucket SIZES
    * but never make assignment order-dependent — deterministic in both
    * engines. */
  def pplBuckets(t: Tables): DataFrame =
    bucketAssignments(t).orderBy("doc_id")

  /** [[pplBuckets]] without the presentation sort — shared with
    * [[pplSample]], which re-aggregates it. */
  private def bucketAssignments(t: Tables): DataFrame = {
    // scores feed the count, the histogram, AND the final assignment.
    // Deliberately NOT persist()ed: the static plan shows the scoring
    // pipeline three times, but at runtime ReusedExchange serves the
    // identical shuffle subtrees from their files (verified in the
    // executed plan), while a persist() of a corpus-sized score
    // relation would cost real cache memory at 100 TB — measured 1.4×
    // SLOWER at the 10× probe (26 s vs 18 s) for exactly that trade.
    val scores = bigramScores(t).select(col("doc_id"), col("avg_logprob_bg").as("s"))
    val n = scores.agg(count(lit(1)).as("n_docs"))
    val hist = scores.groupBy("s").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("s").desc).rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.select(col("s"), sum(col("c")).over(w).as("cum"))
      .crossJoin(broadcast(n))
    // cum grows as s descends, so every score at or below the crossing
    // point qualifies — the bucket boundary is the LARGEST qualifying s
    val cuts = cum.agg(
      max(when(col("cum") >= ceil(col("n_docs") / lit(3.0)), col("s"))).as("c_head"),
      max(when(col("cum") >= ceil(col("n_docs") * lit(2.0) / lit(3.0)), col("s"))).as("c_mid"))
    scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("s").as("avg_logprob_bg"),
        when(col("s") >= col("c_head"), lit("head"))
          .when(col("s") >= col("c_mid"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** The bucket-assignment CTE chain, shared by [[pplBucketsSql]] and
    * [[pplSampleSql]]. */
  private val pplBucketsCore =
    s"""$lmBigramCore,
       |sc AS (SELECT doc_id, avg_logprob_bg AS s FROM scores),
       |n AS (SELECT count(*) AS n_docs FROM sc),
       |hist AS (SELECT s, count(*) AS c FROM sc GROUP BY s),
       |cum AS (SELECT s, sum(c) OVER (ORDER BY s DESC
       |                               ROWS UNBOUNDED PRECEDING) AS cum
       |        FROM hist),
       |cuts AS (SELECT max(CASE WHEN cum >= ceil(n_docs / 3.0) THEN s END) AS c_head,
       |                max(CASE WHEN cum >= ceil(n_docs * 2.0 / 3.0) THEN s END) AS c_mid
       |         FROM cum CROSS JOIN n),
       |assign AS (SELECT doc_id, s AS avg_logprob_bg,
       |                  CASE WHEN s >= c_head THEN 'head'
       |                       WHEN s >= c_mid THEN 'middle'
       |                       ELSE 'tail' END AS bucket
       |           FROM sc CROSS JOIN cuts)""".stripMargin

  private val pplBucketsSql =
    s"""WITH $pplBucketsCore
       |SELECT doc_id, avg_logprob_bg, bucket FROM assign ORDER BY doc_id""".stripMargin

  /** Per-bucket keep percentage for [[pplSample]] — the CCNet shape:
    * keep the fluent head wholesale, downweight the middle, keep a
    * residual tail slice (dropping it entirely is known to hurt
    * diversity). */
  private val PplKeepPct = Seq("head" -> 100, "middle" -> 50, "tail" -> 10)

  /** BUCKET-WEIGHTED corpus sampling (r15) — the step CCNet runs on its
    * perplexity buckets: per-bucket keep rates ([[PplKeepPct]]) drawn
    * by the engine-portable md5 hash ([[sampleDeterministic]]'s rule —
    * reproducible across engines, runs, and repartitioning), reported
    * as a per-bucket audit (docs seen / kept / kept fluency mass). The
    * scoring + assignment pipeline is [[pplBuckets]]'s; this adds one
    * row-local draw and one 3-group aggregate. */
  def pplSample(t: Tables): DataFrame = {
    val keepPct = PplKeepPct.tail.foldLeft(
      when(col("bucket") === PplKeepPct.head._1, lit(PplKeepPct.head._2))) {
      case (acc, (b, p)) => acc.when(col("bucket") === b, lit(p))
    }
    bucketAssignments(t)
      .withColumn("keep",
        (Hashing.md5Long(concat(lit("pplmix:"), col("doc_id"))) % 100 < keepPct)
          .cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
        round(sum(col("avg_logprob_bg") * col("keep")), 4).as("kept_logprob_mass"))
      .orderBy("bucket")
  }

  private val pplSampleSql = {
    val keepPct = PplKeepPct.map { case (b, p) => s"WHEN '$b' THEN $p" }
      .mkString("CASE bucket ", " ", " END")
    s"""WITH $pplBucketsCore
       |SELECT bucket, count(*) AS n_docs,
       |       CAST(sum(keep) AS BIGINT) AS n_kept,
       |       round(sum(avg_logprob_bg * keep), 4) AS kept_logprob_mass
       |FROM (SELECT bucket, avg_logprob_bg,
       |             CASE WHEN ${Hashing.sqlMd5Long("concat('pplmix:', doc_id)")} % 100
       |                       < $keepPct THEN 1 ELSE 0 END AS keep
       |      FROM assign)
       |GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  /** Adjacent-TRIPLE structs from a token-array column — the trigram
    * analog of [[bigramPairs]], row-local. */
  private[graft] def trigramTriples(toksCol: String): Column = expr(
    s"""CASE WHEN size($toksCol) >= 3
       |  THEN transform(sequence(0, size($toksCol) - 3),
       |                 i -> struct($toksCol[i] AS p2, $toksCol[i+1] AS p1,
       |                             $toksCol[i+2] AS w))
       |  ELSE array() END""".stripMargin)

  /** INTERPOLATED TRIGRAM LM score (r15) — the next rung of the ladder
    * toward CCNet's 5-gram: position 0 scores log P_uni(w0), position
    * 1 the bigram rule log(0.9·P(w|prev) + 0.1·P_uni), and positions
    * ≥ 2 the three-way Jelinek-Mercer
    * log(0.7·P(w|p2,p1) + 0.2·P(w|p1) + 0.1·P_uni(w)) — trained on
    * the corpus it scores, so every observed event has count ≥ 1 and
    * each interpolation leg's denominator is positive at the positions
    * that use it. Same construction discipline as [[lmBigram]]:
    * n-grams derive ROW-LOCALLY from the token arrays, every model is
    * a keyed RELATION joined posting-list style, only the 1-row total
    * broadcasts. */
  def lmTrigram(t: Tables): DataFrame = {
    val base = t.documents.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val terms = base.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos"), col("col").as("term"))
    val vocab = terms.groupBy("term").agg(count(lit(1)).as("c_w"))
    val total = terms.agg(count(lit(1)).as("n_tokens"))
    val bg = base.select(col("doc_id"), posexplode(bigramPairs("toks")))
      .select(col("doc_id"), col("pos"), col("col.prev").as("prev"), col("col.w").as("w"))
    val bgc = bg.groupBy("prev", "w").agg(count(lit(1)).as("c_pw"))
    val pc = bgc.groupBy("prev").agg(sum("c_pw").as("c_p"))
    val tg = base.select(col("doc_id"), explode(trigramTriples("toks")).as("b"))
      .select(col("doc_id"), col("b.p2").as("p2"), col("b.p1").as("p1"), col("b.w").as("w"))
    val tgc = tg.groupBy("p2", "p1", "w").agg(count(lit(1)).as("c_t"))
    val tpc = tgc.groupBy("p2", "p1").agg(sum("c_t").as("c_tp"))
    def puni = col("c_w") / col("n_tokens").cast("double")
    val lp0 = terms.filter(col("pos") === 0).join(vocab, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), log(puni).as("lp"))
    // position 1 = the FIRST bigram of each doc (bigram array pos 0)
    val lp1 = bg.filter(col("pos") === 0)
      .join(bgc, Seq("prev", "w")).join(pc, "prev")
      .join(vocab.withColumnRenamed("term", "w"), "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(lit(0.9) * col("c_pw") / col("c_p") + lit(0.1) * puni).as("lp"))
    val lp2 = tg.join(tgc, Seq("p2", "p1", "w")).join(tpc, Seq("p2", "p1"))
      .join(bgc.withColumnRenamed("prev", "p1"), Seq("p1", "w"))
      .join(pc.withColumnRenamed("prev", "p1"), "p1")
      .join(vocab.withColumnRenamed("term", "w"), "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(lit(0.7) * col("c_t") / col("c_tp") +
          lit(0.2) * (col("c_pw") / col("c_p")) +
          lit(0.1) * puni).as("lp"))
    lp0.unionByName(lp1).unionByName(lp2)
      .groupBy("doc_id")
      .agg(round(avg(col("lp")), 4).as("avg_logprob_tg"), count(lit(1)).as("n_scored"))
      .orderBy("doc_id")
  }

  private val lmTrigramSql = {
    val toks = TextOps.sqlTokens("text")
    val puni = "c_w / CAST(n_tokens AS DOUBLE)"
    s"""WITH toks AS (SELECT doc_id, $toks AS toks FROM documents),
       |terms AS (SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS term
       |          FROM toks),
       |vocab AS (SELECT term, count(*) AS c_w FROM terms GROUP BY term),
       |tot AS (SELECT count(*) AS n_tokens FROM terms),
       |bg AS (SELECT doc_id, i - 1 AS pos, toks[i] AS prev, toks[i + 1] AS w
       |       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks), 1))) AS i
       |             FROM toks)),
       |bgc AS (SELECT prev, w, count(*) AS c_pw FROM bg GROUP BY prev, w),
       |pc AS (SELECT prev, sum(c_pw) AS c_p FROM bgc GROUP BY prev),
       |tg AS (SELECT doc_id, toks[i] AS p2, toks[i + 1] AS p1, toks[i + 2] AS w
       |       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 1, 1))) AS i
       |             FROM toks)),
       |tgc AS (SELECT p2, p1, w, count(*) AS c_t FROM tg GROUP BY p2, p1, w),
       |tpc AS (SELECT p2, p1, sum(c_t) AS c_tp FROM tgc GROUP BY p2, p1),
       |lp0 AS (SELECT doc_id, ln($puni) AS lp
       |        FROM (SELECT doc_id, term FROM terms WHERE pos = 0) t
       |             JOIN vocab USING (term) CROSS JOIN tot),
       |lp1 AS (SELECT doc_id,
       |          ln(0.9::DOUBLE * c_pw / c_p + 0.1::DOUBLE * $puni) AS lp
       |        FROM (SELECT doc_id, prev, w FROM bg WHERE pos = 0) b
       |             JOIN bgc USING (prev, w) JOIN pc USING (prev)
       |             JOIN (SELECT term AS w, c_w FROM vocab) v USING (w) CROSS JOIN tot),
       |lp2 AS (SELECT doc_id,
       |          ln(0.7::DOUBLE * c_t / c_tp +
       |             0.2::DOUBLE * (c_pw / c_p) +
       |             0.1::DOUBLE * $puni) AS lp
       |        FROM tg JOIN tgc USING (p2, p1, w) JOIN tpc USING (p2, p1)
       |             JOIN (SELECT prev AS p1, w, c_pw FROM bgc) b2 USING (p1, w)
       |             JOIN (SELECT prev AS p1, c_p FROM pc) p2c USING (p1)
       |             JOIN (SELECT term AS w, c_w FROM vocab) v USING (w) CROSS JOIN tot)
       |SELECT doc_id, round(avg(lp), 4) AS avg_logprob_tg, count(*) AS n_scored
       |FROM (SELECT * FROM lp0 UNION ALL SELECT * FROM lp1 UNION ALL SELECT * FROM lp2)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** REFERENCE-LM cross-scoring (r15) — the actual CCNet deployment
    * shape [[lmBigram]] simplifies away: the LM trains on a CLEAN
    * REFERENCE subset (CCNet: English Wikipedia; here the `lang='en'`
    * stratum) and scores the WHOLE corpus, so unseen events are now
    * the norm and smoothing is load-bearing — Laplace unigrams over
    * the reference vocabulary with one OOV class,
    * P_uni(w) = (c_w + 1)/(N + V + 1), and the Jelinek-Mercer bigram
    * term contributing 0 when the context is unseen (the unigram leg
    * keeps every log argument positive). English documents score near
    * the reference norm; foreign-language documents fall off a cliff —
    * the separation IS the CCNet filter signal.
    *
    * Scale: same posting-list shapes as [[lmBigram]], now LEFT joins
    * against the reference model relations (reference-sized, typically
    * ≪ corpus). */
  def lmRef(t: Tables): DataFrame = {
    val base = t.documents.select(col("doc_id"), col("lang"),
      TextOps.tokens(col("text")).as("toks"))
    val ref = base.filter(col("lang") === "en")
    val vocab = ref.select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_w"))
    val consts = vocab.agg(sum("c_w").as("n_ref"), count(lit(1)).as("v_ref"))
    val bgc = ref.select(explode(bigramPairs("toks")).as("b"))
      .groupBy(col("b.prev").as("prev"), col("b.w").as("w"))
      .agg(count(lit(1)).as("c_pw"))
    val pc = bgc.groupBy("prev").agg(sum("c_pw").as("c_p"))
    val terms = base.select(col("doc_id"), col("lang"), posexplode(col("toks")))
      .select(col("doc_id"), col("lang"), col("pos"), col("col").as("term"))
    val bg = base.select(col("doc_id"), col("lang"), explode(bigramPairs("toks")).as("b"))
      .select(col("doc_id"), col("lang"), col("b.prev").as("prev"), col("b.w").as("w"))
    def puni = (coalesce(col("c_w"), lit(0L)) + lit(1L)) /
      (col("n_ref") + col("v_ref") + lit(1L)).cast("double")
    val lp0 = terms.filter(col("pos") === 0)
      .join(vocab, Seq("term"), "left").crossJoin(broadcast(consts))
      .select(col("doc_id"), col("lang"), log(puni).as("lp"))
    val lpb = bg.join(bgc, Seq("prev", "w"), "left").join(pc, Seq("prev"), "left")
      .join(vocab.withColumnRenamed("term", "w"), Seq("w"), "left")
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("lang"),
        log(when(coalesce(col("c_p"), lit(0L)) === 0L, lit(0.0))
            .otherwise(lit(0.9) * coalesce(col("c_pw"), lit(0L)) / col("c_p")) +
          lit(0.1) * puni).as("lp"))
    lp0.unionByName(lpb)
      .groupBy("doc_id", "lang")
      .agg(round(avg(col("lp")), 4).as("avg_logprob_ref"), count(lit(1)).as("n_scored"))
      .orderBy("doc_id")
  }

  private val lmRefSql = {
    val toks = TextOps.sqlTokens("text")
    val puni = "(coalesce(c_w, 0) + 1) / CAST(n_ref + v_ref + 1 AS DOUBLE)"
    s"""WITH base AS (SELECT doc_id, lang, $toks AS toks FROM documents),
       |rterms AS (SELECT unnest(toks) AS term FROM base WHERE lang = 'en'),
       |vocab AS (SELECT term, count(*) AS c_w FROM rterms GROUP BY term),
       |consts AS (SELECT sum(c_w) AS n_ref, count(*) AS v_ref FROM vocab),
       |rbg AS (SELECT toks[i] AS prev, toks[i + 1] AS w
       |        FROM (SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS i
       |              FROM base WHERE lang = 'en')),
       |bgc AS (SELECT prev, w, count(*) AS c_pw FROM rbg GROUP BY prev, w),
       |pc AS (SELECT prev, sum(c_pw) AS c_p FROM bgc GROUP BY prev),
       |terms AS (SELECT doc_id, lang, unnest(range(len(toks))) AS pos,
       |                 unnest(toks) AS term FROM base),
       |bg AS (SELECT doc_id, lang, toks[i] AS prev, toks[i + 1] AS w
       |       FROM (SELECT doc_id, lang, toks,
       |                    unnest(range(1, greatest(len(toks), 1))) AS i FROM base)),
       |lp0 AS (SELECT doc_id, lang, ln($puni) AS lp
       |        FROM (SELECT doc_id, lang, term FROM terms WHERE pos = 0) t
       |             LEFT JOIN vocab USING (term) CROSS JOIN consts),
       |lpb AS (SELECT doc_id, lang,
       |          ln(CASE WHEN coalesce(c_p, 0) = 0 THEN 0.0
       |                  ELSE 0.9::DOUBLE * coalesce(c_pw, 0) / c_p END
       |             + 0.1::DOUBLE * $puni) AS lp
       |        FROM bg LEFT JOIN bgc USING (prev, w) LEFT JOIN pc USING (prev)
       |             LEFT JOIN (SELECT term AS w, c_w FROM vocab) v USING (w)
       |             CROSS JOIN consts)
       |SELECT doc_id, lang, round(avg(lp), 4) AS avg_logprob_ref,
       |       count(*) AS n_scored
       |FROM (SELECT * FROM lp0 UNION ALL SELECT * FROM lpb)
       |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin
  }

  /** URL-filter rule tables (RefinedWeb §3.1 shape): blocklisted
    * domains match exactly or as a parent of the host; block words
    * match anywhere in the URL; the heuristics catch link-farm shapes
    * (over-long URLs, parameter explosions). Small fixed lists here —
    * production swaps in the curated ones, the rules are the
    * deliverable. */
  private val UrlBlockedDomains = Seq("ads.example", "spam-mill.net")
  private val UrlBlockWords = Seq("casino", "xxx")
  private val UrlMaxLen = 160
  private val UrlMaxParams = 8

  /** URL FILTERING (r15) — the RefinedWeb/C4 step that runs BEFORE any
    * content is fetched or scored: drop documents by URL alone
    * (blocklisted domain incl. subdomains, block word anywhere in the
    * URL, over-long URL, parameter explosion), with a REASON CODE per
    * doc (first matching rule wins, the [[curation]] convention). The
    * fixture corpus has no url column, so each doc gets a
    * deterministic URL spanning every rule query-side, mirrored in the
    * oracle — the operator under test is the rule cascade. Entirely
    * row-local (one lowercase + a few regex/LIKE probes), no shuffle
    * at any scale. */
  /** The deterministic fixture URL each doc gets (one variant per
    * rule) and the rule-cascade verdict over it — shared by
    * [[urlFilter]] and [[pipelineFunnel]]. */
  private def fixtureUrl: Column = {
    val k = (col("doc_id") % 50).cast("string")
    val m6 = col("doc_id") % 6
    lower(when(m6 === 0, concat(lit("https://good.example/articles/"), k))
      .when(m6 === 1, concat(lit("https://ads.example/landing"), k))
      .when(m6 === 2, concat(lit("https://shop.spam-mill.net/item"), k))
      .when(m6 === 3, concat(lit("https://games.example/Casino/page"), k))
      .when(m6 === 4, concat(lit("https://good.example/"), rpad(lit("a"), 170, "a"), k))
      .otherwise(concat(lit("https://good.example/q"), k,
        lit("?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9"))))
  }

  private def urlReason(url: Column): Column = {
    val host = regexp_extract(url, "^[a-z]+://([^/?#]*)", 1)
    val blockedHost = UrlBlockedDomains
      .map(d => host === d || host.endsWith("." + d)).reduce(_ || _)
    val hasWord = UrlBlockWords.map(w => url.contains(w)).reduce(_ || _)
    val nParams = when(url.contains("?"),
      size(split(regexp_extract(url, "\\?(.*)$", 1), "&"))).otherwise(lit(0))
    when(blockedHost, lit("blocked_domain"))
      .when(hasWord, lit("blocked_word"))
      .when(length(url) > UrlMaxLen, lit("too_long"))
      .when(nParams > UrlMaxParams, lit("too_many_params"))
      .otherwise(lit("keep"))
  }

  def urlFilter(t: Tables): DataFrame = {
    val url = fixtureUrl
    t.documents
      .select(col("doc_id"), regexp_extract(url, "^[a-z]+://([^/?#]*)", 1).as("host"),
        urlReason(url).as("reason"))
      .orderBy("doc_id")
  }

  /** The fixture-URL CTEs (`messy`, `hosted`) and the rule-cascade
    * expression over `hosted`'s columns — shared by [[urlFilterSql]]
    * and [[pipelineFunnelSql]]. */
  private val urlFixtureCte =
    """messy AS (
      |  SELECT doc_id, lower(CASE CAST(doc_id % 6 AS INTEGER)
      |    WHEN 0 THEN concat('https://good.example/articles/', CAST(doc_id % 50 AS VARCHAR))
      |    WHEN 1 THEN concat('https://ads.example/landing', CAST(doc_id % 50 AS VARCHAR))
      |    WHEN 2 THEN concat('https://shop.spam-mill.net/item', CAST(doc_id % 50 AS VARCHAR))
      |    WHEN 3 THEN concat('https://games.example/Casino/page', CAST(doc_id % 50 AS VARCHAR))
      |    WHEN 4 THEN concat('https://good.example/', rpad('a', 170, 'a'), CAST(doc_id % 50 AS VARCHAR))
      |    ELSE concat('https://good.example/q', CAST(doc_id % 50 AS VARCHAR),
      |                '?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9') END) AS u
      |  FROM documents),
      |hosted AS (SELECT doc_id, u, regexp_extract(u, '^[a-z]+://([^/?#]*)', 1) AS host
      |           FROM messy)""".stripMargin

  private val sqlUrlReason = {
    val blocked = UrlBlockedDomains
      .map(d => s"host = '$d' OR host LIKE '%.$d'").mkString(" OR ")
    val words = UrlBlockWords.map(w => s"u LIKE '%$w%'").mkString(" OR ")
    s"""CASE WHEN $blocked THEN 'blocked_domain'
       |     WHEN $words THEN 'blocked_word'
       |     WHEN length(u) > $UrlMaxLen THEN 'too_long'
       |     WHEN (CASE WHEN contains(u, '?')
       |                THEN len(string_split(regexp_extract(u, '\\?(.*)$$', 1), '&'))
       |                ELSE 0 END) > $UrlMaxParams THEN 'too_many_params'
       |     ELSE 'keep' END""".stripMargin
  }

  private val urlFilterSql =
    s"""WITH $urlFixtureCte
       |SELECT doc_id, host,
       |  $sqlUrlReason AS reason
       |FROM hosted ORDER BY doc_id""".stripMargin

  /** Seeded NEAR-dup text (r16): docs at doc_id % 30 == 6 (all on the
    * URL keep arm % 6 == 0, disjoint from the % 30 == 0 exact-dup
    * seeds) share this long fluent base plus a doc-unique numeric tail
    * — high shingle Jaccard, never exact-equal, quality-passing by
    * construction, so the seeds genuinely REACH the near-dup gate. */
  private val NearDupSeedBase =
    "the quick brown fox jumps over a lazy dog and it is of to for on in " * 8 + "tail "

  /** END-TO-END curation FUNNEL (r15; near-dup gate r16; PERPLEXITY
    * gate r17) — CCNet's actual chain, in one query with one verdict
    * per document: URL rules → quality composite → EXACT dedup
    * (first-id survivor among docs that passed the earlier gates — a
    * doc dropped at the URL stage must not claim survivorship) →
    * MinHash-LSH NEAR-dup (production funnels run near-dup AFTER
    * exact: the exact pass is cheap and shrinks the LSH input; a doc
    * drops when any of its 8 signature bands collides with a
    * SMALLER-id doc that also reached this stage — the greedy-by-id
    * rule of `Dedup.candidateDupsNoIndex`, deterministic and
    * engine-portable) →
    * LM-PERPLEXITY bucket gate (r16's `text_lm_pruned` +
    * `text_ppl_ref_sample` machinery composed IN: train the
    * count-pruned stupid-backoff bigram LM on the corpus's `en`
    * reference stratum, score ONLY the stage-5 survivors — prior
    * gates shrink the scoring bill — split head/middle/tail by the
    * exact score histogram of the scored population, keep-draw
    * 100/50/10 per bucket with the portable md5 rule; a doc the LM
    * cannot score at all — empty after normalization — drops here
    * by convention) → deterministic 50%% keep draw. Output is the
    * funnel audit (stage, docs, first doc id) a pipeline dashboard
    * shows; stages are numbered so the sort IS the funnel order.
    * Every gate reuses the exact rule its standalone operator ships
    * (`text_url_filter`, `text_quality`'s composite, `dedup_exact`'s
    * min-id survivorship, `dedup_minhash_lsh`'s signature/band
    * machinery, `NgramLm`'s train/score/bucketKeep,
    * `etl_sample_deterministic`'s md5 draw), so this key pins their
    * COMPOSITION and SEQUENCING.
    *
    * Scale: two row-local gate columns + one hash aggregate on the
    * text hash (the dedup shuffle) + minhash/banding over ONLY the
    * stage-4 survivors + LM scoring over ONLY the stage-5 survivors
    * (each prior gate shrinks the next stage's bill — the reason the
    * sequencing is what it is) + one 7-group aggregate. The
    * corpus-scale shuffles are the dedup groupBy, the survivor-sized
    * signature aggregate, and the survivor-sized posting-list joins
    * against the PRUNED (reference-bounded) model; the band self-join
    * blocks on (band, bucket) equality, never all-pairs; the ppl
    * cutpoints come from the bounded distinct-score histogram, never
    * a corpus sort. */
  def pipelineFunnel(t: Tables): DataFrame = {
    val spark = t.spark
    TableLifecycle.withScratchTable("graft_funnel") { root =>
      // the classifier trains FIRST, on the RAW labeled corpus — the
      // same relation `text_langid_model` trains on, because CCNet's
      // langid model (fastText) is a PRE-trained artifact, not a model
      // fit to the text being filtered (the funnel's seeded dedup
      // fixtures must shift the gates, never the classifier): one hash
      // aggregate to the bounded |langs|×256 weight relation,
      // persisted and loaded through the validated artifact path (the
      // langIdModel discipline), so scoring becomes row-local work
      // INSIDE the same scan that computes the gates — the language
      // gate costs no extra pass
      lidTrain(t.documents.filter(col("lang").isInCollection(LidLangs)))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/lidw")
      val w = TextOps.langModelWeights(spark, s"$root/lidw", LidLangs, LidBuckets)
      // CHECKPOINT the per-doc pre-ppl verdicts once: the LM stage
      // references this relation from several branches (training
      // stratum, stage-6 scoring population, the final audit), and
      // without the cut each branch re-runs the URL/quality/dedup/LSH
      // prefix — measured 18.7 s vs ~6 s at sf0.1. A distributed
      // parquet write, never a driver collect; a production funnel
      // checkpoints its stage verdicts anyway (the audit trail).
      funnelPre(t, w).write.mode("overwrite").parquet(s"$root/pre")
      // the LM's bounded model relations stay pinned for the audit's
      // one consuming action (r19), unpersisted before return
      val (out, m) = funnelPost(spark.read.parquet(s"$root/pre"), materialize = true)
      try TableLifecycle.localize(spark, out) finally m.unpersist()
    }
  }

  /** The funnel's seeded corpus relation — shared by the gates, the
    * classifier's training, and its scoring, so all three see ONE text
    * definition. */
  private def funnelCorpus(t: Tables): DataFrame =
    t.documents.select(col("doc_id"), col("lang"),
      when(col("doc_id") % 30 === 6,
        concat(lit(NearDupSeedBase), col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))

  /** The funnel's PRE-checkpoint frame — stages 1-4 (URL gate, quality
    * gate, exact-dedup hash aggregate, minhash/band near-dup join) as
    * one corpus-scale verdict-per-doc plan, plus (r18) the trained
    * language classifier's per-doc argmax (`pred_lang`) computed
    * row-local in the SAME scan against the broadcast weight arrays —
    * CCNet's langid stage riding the gate pass for free. Split out
    * (r18) so PlanSnapshot can budget the corpus-scale stages the
    * eager key's localized result hides. */
  private[graft] def funnelPre(t: Tables, w: Map[String, IndexedSeq[Long]]): DataFrame = {
    // the fixture corpus has ZERO exact text dups, so the dedup stage
    // would never fire — docs at doc_id % 30 == 0 join a SEEDED dup
    // cluster (the dhash-twin precedent: deterministic, oracle-
    // mirrored; % 30 is even-compatible with the URL gate's % 6 == 0
    // keep arm, so seeded docs genuinely REACH stage 3); % 30 == 6
    // docs get the seeded NEAR-dup text for stage 4 the same way
    val d = funnelCorpus(t)
      .withColumn("t", TextOps.normText(col("text")))
      .withColumn("cps", lidCps)
      .withColumn("bkts", transform(lidBucketArr, b => b + 1))
    // normText derives ONCE as column t; the dedup hash and the
    // classifier both read it (codegen CSE does not cross aliases);
    // the weight lookups ride inline in the merge lambdas (r19,
    // [[lidSumsStruct]])
    val scored = d.withColumn("lidsums", lidSumsStruct(w))
      .select(Seq(col("doc_id"), col("lang"), col("text"), col("t"),
        length(col("t")).as("tlen")) ++
        LidLangs.map(l => col("lidsums").getField(s"s_$l").as(s"s_$l")): _*)
    val best = greatest(LidLangs.map(l => col(s"s_$l")): _*)
    val predArg = LidLangs.foldRight(lit("und")) { case (l, acc) =>
      when(col(s"s_$l") === best, lit(l)).otherwise(acc)
    }
    val dedupText = when(col("doc_id") % 30 === 0, lit("~seeded-dup~"))
      .otherwise(col("t"))
    val g = scored.select(col("doc_id"), col("lang"), col("text"),
      when(col("tlen") < 3, lit("und")).otherwise(predArg).as("pred_lang"),
      (urlReason(fixtureUrl) === "keep").as("url_ok"),
      (TextOps.qualityScore(col("text")) >= 0.5).as("q_ok"),
      Hashing.md5Long(dedupText).as("h"),
      (Hashing.md5Long(concat(lit("funnel:"), col("doc_id"))) % 100 < 50).as("drawn"))
    val surv = g.filter(col("url_ok") && col("q_ok"))
      .groupBy("h").agg(min("doc_id").as("survivor_id"))
    val staged = g.join(surv, Seq("h"), "left")
    // stage-4 population: exact survivors — the ONLY docs that pay for
    // shingling, signatures, and the band join
    val reach4 = staged.filter(col("url_ok") && col("q_ok") &&
      col("doc_id") === col("survivor_id"))
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        explode(array_distinct(TextOps.shingles("toks"))).as("shingle"))
      .select(col("doc_id"), Hashing.md5Long(col("shingle")).as("sh"))
    val buckets = Dedup.bandBucketsOf(Dedup.minhashSigs(reach4))
    val ndDrop = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id")).distinct()
      .withColumn("nd_hit", lit(true))
    staged.join(ndDrop, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("text"), col("pred_lang"),
        col("url_ok"), col("q_ok"), col("survivor_id"),
        coalesce(col("nd_hit"), lit(false)).as("nd_hit"), col("drawn"))
  }

  /** The funnel's POST-checkpoint frame over the materialized pre-ppl
    * verdicts: LM train on the CLASSIFIER-en stratum (r18 — the r17
    * verdict's #3: CCNet's chain opens with fastText langid, so the
    * trained classifier's argmax picks the training stratum AND gates
    * stage 5, not the corpus label), scoring over ONLY stage-6
    * survivors, ppl bucket gate, sample draw, final audit aggregate. */
  private[graft] def funnelPost(pre: DataFrame): DataFrame =
    funnelPost(pre, materialize = false)._1

  /** [[funnelPost]] with the LM's bounded model relations optionally
    * pinned for the frame's consumption (r19 — the NgramLm lifecycle
    * discipline: train's consts action and the score's model joins
    * otherwise each re-aggregate the en stratum from the pre parquet).
    * The caller that asks for `materialize = true` owns unpersist via
    * the returned model. */
  private[graft] def funnelPost(pre: DataFrame, materialize: Boolean)
      : (DataFrame, NgramLm.PrunedLm) = {
    // stage-6 population: survivors of every earlier gate INCLUDING
    // the language gate — the ONLY docs that pay for LM scoring; the
    // model trains on the stratum the CLASSIFIER calls en (the
    // fixture's labels are random, so the gate pins composition and
    // determinism; LangIdModelSpec proves discrimination)
    val pop6 = pre.filter(col("url_ok") && col("q_ok") &&
        col("doc_id") === col("survivor_id") && !col("nd_hit") &&
        col("pred_lang") === "en")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val m = NgramLm.train(pre.filter(col("pred_lang") === "en")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")), materialize)
    val scores = NgramLm.score(pop6, m)
      .select(col("doc_id"), col("avg_logprob_pb").as("s"))
    // thirds + keep draw over the SCORED population; an unscored doc
    // (empty after normalization) has no row here and drops at stage 6
    val ppl = NgramLm.bucketKeep(scores, "funnelppl:")
      .select(col("doc_id"), (col("keep") === 1).as("ppl_keep"))
    val out = pre.join(ppl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("url_ok"), lit("1_drop_url"))
          .when(!col("q_ok"), lit("2_drop_quality"))
          .when(col("doc_id") =!= col("survivor_id"), lit("3_drop_duplicate"))
          .when(col("nd_hit"), lit("4_drop_neardup"))
          .when(col("pred_lang") =!= "en", lit("5_drop_langid"))
          .when(!coalesce(col("ppl_keep"), lit(false)), lit("6_drop_ppl"))
          .when(!col("drawn"), lit("7_drop_sample"))
          .otherwise(lit("8_kept")).as("stage"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .orderBy("stage")
    (out, m)
  }

  /** PlanSnapshot stage seam (r18): `lidtrain` is the classifier's
    * corpus-scale training aggregate; `pre` is the stages-1-5
    * corpus-scale frame exactly as [[pipelineFunnel]] checkpoints it
    * (gates + dedup + LSH + row-local classifier scoring); `lm` is the
    * post-checkpoint LM/sample/audit plan over a REAL materialized pre
    * parquet (so its scan+join shapes are the executed ones). */
  private[graft] def funnelStages(t: Tables, f: (String, DataFrame) => Unit): Unit =
    TableLifecycle.withScratchTable("graft_funnel_plan") { root =>
      val train = lidTrain(t.documents.filter(col("lang").isInCollection(LidLangs)))
      f("lidtrain", train)
      train.coalesce(1).write.mode("overwrite").parquet(s"$root/lidw")
      val w = TextOps.langModelWeights(t.spark, s"$root/lidw", LidLangs, LidBuckets)
      f("pre", funnelPre(t, w))
      funnelPre(t, w).write.mode("overwrite").parquet(s"$root/pre")
      f("lm", funnelPost(t.spark.read.parquet(s"$root/pre")))
    }

  private val pipelineFunnelSql = {
    val seeded = s"CASE WHEN doc_id % 30 = 6 THEN concat('$NearDupSeedBase', " +
      "CAST(doc_id AS VARCHAR)) ELSE text END"
    s"""WITH $urlFixtureCte,
       |d2 AS (SELECT doc_id, lang, $seeded AS text FROM documents),
       |g AS (SELECT d.doc_id, d.text,
       |        ($sqlUrlReason) = 'keep' AS url_ok,
       |        ($sqlQualityScore) >= 0.5 AS q_ok,
       |        ${Hashing.sqlMd5Long(
              s"CASE WHEN doc_id % 30 = 0 THEN '~seeded-dup~' ELSE ${TextOps.sqlNormText("text")} END")} AS h,
       |        ${Hashing.sqlMd5Long("concat('funnel:', doc_id)")} % 100 < 50 AS drawn
       |      FROM d2 d JOIN hosted USING (doc_id)),
       |surv AS (SELECT h, min(doc_id) AS survivor_id FROM g
       |         WHERE url_ok AND q_ok GROUP BY h),
       |staged AS (SELECT g.*, survivor_id FROM g LEFT JOIN surv USING (h)),
       |reach4 AS (SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks FROM staged
       |           WHERE url_ok AND q_ok AND doc_id = survivor_id),
       |shg AS (SELECT doc_id, ${Hashing.sqlMd5Long("shingle")} AS sh FROM
       |        (SELECT doc_id, unnest(list_distinct(${TextOps.sqlShingles("toks")})) AS shingle
       |         FROM reach4)),
       |sigs AS (SELECT doc_id,
       |  ${Dedup.sqlMinhashCols}
       |  FROM (SELECT doc_id, sh FROM shg) AS shrel GROUP BY doc_id),
       |buckets AS (${Dedup.sqlBandRows}),
       |nd AS (SELECT DISTINCT x.doc_id AS doc_id
       |       FROM buckets x JOIN buckets y
       |         ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id > y.doc_id),
       |${lidCoreSqlOver("documents", "d2")},
       |fbase AS (SELECT doc_id, lang, ${TextOps.sqlTokens("text")} AS toks FROM d2),
       |lmref AS (SELECT f.doc_id, f.toks FROM fbase f
       |          JOIN lidpred lp ON f.doc_id = lp.doc_id
       |          WHERE lp.pred_lang = 'en'),
       |pop6 AS (SELECT st.doc_id, b.toks FROM staged st
       |         JOIN fbase b ON st.doc_id = b.doc_id
       |         JOIN lidpred lp ON st.doc_id = lp.doc_id
       |         LEFT JOIN nd ON st.doc_id = nd.doc_id
       |         WHERE url_ok AND q_ok AND st.doc_id = survivor_id
       |           AND nd.doc_id IS NULL AND lp.pred_lang = 'en'),
       |${NgramLm.coreSqlOver("lmref", "pop6")},
       |sc6 AS (SELECT doc_id, avg_logprob_pb AS s FROM scored),
       |${NgramLm.bucketKeepSqlOver("sc6", "funnelppl:")},
       |ppl AS (SELECT doc_id, keep = 1 AS ppl_keep FROM bucketed)
       |SELECT stage, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM (SELECT s.doc_id,
       |        CASE WHEN NOT url_ok THEN '1_drop_url'
       |             WHEN NOT q_ok THEN '2_drop_quality'
       |             WHEN s.doc_id <> survivor_id THEN '3_drop_duplicate'
       |             WHEN nd.doc_id IS NOT NULL THEN '4_drop_neardup'
       |             WHEN lp.pred_lang <> 'en' THEN '5_drop_langid'
       |             WHEN NOT coalesce(ppl_keep, FALSE) THEN '6_drop_ppl'
       |             WHEN NOT drawn THEN '7_drop_sample'
       |             ELSE '8_kept' END AS stage
       |      FROM staged s JOIN lidpred lp ON s.doc_id = lp.doc_id
       |           LEFT JOIN nd ON s.doc_id = nd.doc_id
       |           LEFT JOIN ppl ON s.doc_id = ppl.doc_id)
       |GROUP BY stage ORDER BY stage""".stripMargin
  }

  /** Chunk window: tokens per chunk / stride between chunk starts (the
    * RAG-standard overlapping-window split; overlap = W − S = 32). */
  private val ChunkW = 128
  private val ChunkStride = 96

  /** RAG/context chunker: split each document into fixed-size token
    * windows with overlap — every chunk starts [[ChunkStride]] tokens
    * after the previous one and spans up to [[ChunkW]] tokens, so
    * consecutive chunks share W−S tokens of context (the standard
    * retrieval-corpus preparation step; cf. [[graft.operators.Etl
    * .packSequences]], which CONCATENATES docs instead of splitting
    * them). Emits (doc_id, chunk_id, token span) rows.
    *
    * Scale: chunk spans are computed arithmetically from the per-doc
    * token count and exploded row-locally — pure map-side work, chunk
    * count proportional to corpus tokens, no shuffle except the
    * presentation sort. The chunk TEXT itself is deliberately not
    * materialized here (slice at consumption time with the span); a
    * 100 TB corpus's chunk table stays narrow. */
  def chunkWindows(t: Tables): DataFrame = {
    val n = size(TextOps.tokens(col("text"))).cast("long")
    t.documents
      .select(col("doc_id"), n.as("n_tokens"))
      .withColumn("n_chunks",
        when(col("n_tokens") <= ChunkW, lit(1L))
          .otherwise(ceil((col("n_tokens") - ChunkW).cast("double") / ChunkStride) + lit(1L)))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkStride).as("tok_start"),
        least(col("n_tokens"), col("chunk_id") * ChunkStride + ChunkW).as("tok_end"))
      .withColumn("n_toks", col("tok_end") - col("tok_start"))
      .orderBy("doc_id", "chunk_id")
  }

  private val chunkWindowsSql =
    s"""WITH d AS (SELECT doc_id, len(${TextOps.sqlTokens("text")}) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |  CASE WHEN n_tokens <= $ChunkW THEN 1
       |       ELSE CAST(ceil((n_tokens - $ChunkW) / $ChunkStride.0) AS BIGINT) + 1 END AS n_chunks
       |  FROM d)
       |SELECT doc_id, chunk_id, chunk_id * $ChunkStride AS tok_start,
       |  least(n_tokens, chunk_id * $ChunkStride + $ChunkW) AS tok_end,
       |  least(n_tokens, chunk_id * $ChunkStride + $ChunkW) - chunk_id * $ChunkStride AS n_toks
       |FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS chunk_id)
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** PII scrubbing (the CCNet/RefinedWeb curation step): regex-redact
    * emails and IPv4 addresses, reporting per-document match counts and
    * the size delta. The synthetic corpus is PII-free, so a
    * deterministic doc_id-keyed fixture is spliced in query-side
    * (mirrored exactly in the oracle) — the operator under test is the
    * scrub pipeline, not the fixture. Row-local codegen'd regex work:
    * map-side only, no shuffle except the presentation sort; at 100 TB
    * this runs inside the same stage as the scan. */
  def piiRedact(t: Tables): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val fixture = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 said")))
        .otherwise(lit("")))
    val redacted = regexp_replace(
      regexp_replace(fixture, lit(email), lit("<EMAIL>")), lit(ip), lit("<IP>"))
    t.documents
      .select(col("doc_id"),
        regexp_count(fixture, lit(email)).cast("long").as("n_emails"),
        regexp_count(fixture, lit(ip)).cast("long").as("n_ips"),
        length(fixture).cast("long").as("len_raw"),
        length(redacted).cast("long").as("len_redacted"))
      .orderBy("doc_id")
  }

  private val piiRedactSql =
    """WITH pii AS (
      |  SELECT doc_id, concat(text,
      |    CASE WHEN doc_id % 3 = 0
      |         THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com now')
      |         ELSE '' END,
      |    CASE WHEN doc_id % 5 = 0
      |         THEN concat(' from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7 said')
      |         ELSE '' END) AS text
      |  FROM documents),
      |pats AS (SELECT '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}' AS email,
      |                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b' AS ip)
      |SELECT doc_id,
      |  len(regexp_extract_all(text, email)) AS n_emails,
      |  len(regexp_extract_all(text, ip)) AS n_ips,
      |  length(text) AS len_raw,
      |  length(regexp_replace(regexp_replace(text, email, '<EMAIL>', 'g'), ip, '<IP>', 'g')) AS len_redacted
      |FROM pii, pats ORDER BY doc_id""".stripMargin

  /** Cross-corpus boilerplate LINE removal (the CCNet/RefinedWeb
    * cleanup): a line appearing in more than [[LineDfCap]] distinct
    * documents is boilerplate (headers, footers, nav chrome) and is
    * dropped from EVERY document; surviving lines reassemble in
    * original order.
    *
    * Scale shape: one line-keyed aggregate computes document
    * frequency; the boilerplate set (df > cap) is by construction the
    * SMALL side — repeated-everywhere lines — so the removal is a
    * broadcast anti-join against it, never a corpus-wide shuffle join;
    * reassembly is a per-doc sort_array over each document's own lines
    * (bounded state). Output carries the cleaned text's md5, not the
    * text — the frame stays narrow at 100 TB. */
  val LineDfCap = 1
  def dedupLines(t: Tables): DataFrame = {
    val lines = t.documents
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val boilerplate = lines.groupBy("line")
      .agg(countDistinct("doc_id").as("line_df"))
      .filter(col("line_df") > LineDfCap)
      .select("line")
    val kept = lines.join(broadcast(boilerplate), Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line")), "\n").as("cleaned"))
    t.documents.select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  private val dedupLinesSql =
    s"""WITH lines AS (
       |  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
       |boiler AS (
       |  SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) > $LineDfCap),
       |kept AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY pos) AS cleaned
       |  FROM lines WHERE line NOT IN (SELECT line FROM boiler)
       |  GROUP BY doc_id)
       |SELECT d.doc_id, len(string_split(d.text, chr(10))) AS n_lines,
       |  coalesce(k.n_kept, 0) AS n_kept,
       |  len(string_split(d.text, chr(10))) - coalesce(k.n_kept, 0) AS n_dropped,
       |  md5(coalesce(k.cleaned, '')) AS cleaned_md5
       |FROM documents d LEFT JOIN kept k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** HTML main-content extraction (the trafilatura/jusText-shaped step
    * that runs BEFORE every filter in a real web pipeline): drop
    * script/style payloads, drop boilerplate blocks (nav, footer),
    * extract the main-content block, strip the remaining tags, decode
    * the common entities, squeeze whitespace. The fixture corpus has no
    * HTML column, so each document is wrapped query-side in a
    * deterministic page — title/nav/main/footer chrome plus an
    * ADVERSARIAL script body (angle brackets, a fake closing tag
    * inside a string) and entity-laden tail — mirrored exactly in the
    * oracle; the operator under test is the extraction pipeline, not
    * the fixture ([[piiRedact]]'s splice precedent).
    *
    * Deliberately a row-local REGEX state machine, not an HTML parser:
    * the page never leaves the row, every step is a codegen'd
    * regexp_replace/extract, so at 100 TB this runs inside the scan's
    * own stage — the same cost envelope as the real extractors, which
    * are also line/heuristic based. Nested same-tag blocks inside main
    * would defeat the non-greedy close (documented; real curation
    * pipelines accept the same class of error). */
  def htmlExtract(t: Tables): DataFrame = {
    val id = col("doc_id").cast("string")
    val page = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>.m{color:red; content:\"</p>\"}</style>" +
        "<script>if(1<2&&3>4){v=\"</div>\";}</script></head><body>" +
        "<nav>Home | <a href=\"/about\">About</a> | Login</nav>" +
        "<div id=\"main\"><h1>Heading "), id,
      lit("</h1><p>"), col("text"),
      lit("</p><p>tail &amp; &lt;raw&gt; &quot;q&quot;&#39;s&nbsp;end</p></div>" +
        "<footer>(c) 2026 Corp | <a href=\"/tos\">ToS</a></footer></body></html>"))
    val mainClean = htmlMainText(page)
    val pageClean = htmlVisibleText(page)
    t.documents.select(
        col("doc_id"),
        regexp_count(page, lit("<[^>]+>")).cast("long").as("n_tags"),
        length(mainClean).cast("long").as("main_len"),
        substring(mainClean, 1, 32).as("main_head"),
        md5(mainClean).as("main_md5"),
        md5(pageClean).as("page_md5"))
      .orderBy("doc_id")
  }

  /** Promoted to the PUBLIC API in r15 (the r14 verdict's ask): the
    * implementations live in [[graft.functions.TextOps.htmlMainText]] /
    * [[graft.functions.TextOps.htmlVisibleText]] and are SQL-registered
    * as `html_main_text` / `html_visible_text`; these aliases keep the
    * operator's call sites stable. */
  private[graft] def htmlMainText(html: Column): Column = TextOps.htmlMainText(html)
  private[graft] def htmlVisibleText(html: Column): Column = TextOps.htmlVisibleText(html)

  private val htmlExtractSql =
    """WITH pages AS (
      |  SELECT doc_id,
      |    concat('<html><head><title>Doc ', CAST(doc_id AS VARCHAR),
      |      '</title><style>.m{color:red; content:"</p>"}</style>',
      |      '<script>if(1<2&&3>4){v="</div>";}</script></head><body>',
      |      '<nav>Home | <a href="/about">About</a> | Login</nav>',
      |      '<div id="main"><h1>Heading ', CAST(doc_id AS VARCHAR),
      |      '</h1><p>', text,
      |      '</p><p>tail &amp; &lt;raw&gt; &quot;q&quot;&#39;s&nbsp;end</p></div>',
      |      '<footer>(c) 2026 Corp | <a href="/tos">ToS</a></footer></body></html>') AS page
      |  FROM documents),
      |stripped AS (
      |  SELECT doc_id, page,
      |    regexp_replace(regexp_replace(page,
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS nopayload
      |  FROM pages),
      |blocks AS (
      |  SELECT doc_id, page,
      |    regexp_extract(nopayload, '(?s)<div id="main">(.*?)</div>', 1) AS main_raw,
      |    regexp_replace(regexp_replace(nopayload,
      |      '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
      |      '(?s)<footer[^>]*>.*?</footer>', ' ', 'g') AS nochrome
      |  FROM stripped),
      |cleaned AS (
      |  SELECT doc_id, page,
      |    trim(regexp_replace(replace(replace(replace(replace(replace(replace(
      |      regexp_replace(main_raw, '<[^>]*>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      |      '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g')) AS main_clean,
      |    trim(regexp_replace(replace(replace(replace(replace(replace(replace(
      |      regexp_replace(nochrome, '<[^>]*>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      |      '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g')) AS page_clean
      |  FROM blocks)
      |SELECT doc_id,
      |  len(regexp_extract_all(page, '<[^>]+>')) AS n_tags,
      |  length(main_clean) AS main_len,
      |  substr(main_clean, 1, 32) AS main_head,
      |  md5(main_clean) AS main_md5,
      |  md5(page_clean) AS page_md5
      |FROM cleaned ORDER BY doc_id""".stripMargin

  /** MODEL-BASED quality filtering (the fastText-shaped step modern
    * pipelines run AFTER the heuristic gates — DataComp / FineWeb-edu
    * keep documents by a learned classifier's score, not rules): a
    * linear model over HASHED token features (the hashing trick —
    * fastText's own input layer) scored entirely row-locally:
    *
    *   bucket(t)  = md5('qmb:' || t) % D          (D = [[ModelBuckets]])
    *   w(b)       = md5('qmw:' || b) % 2001 / 1000 - 1   ∈ [-1, 1]
    *   score(doc) = sigmoid(4 · mean_t w(bucket(t)))
    *
    * The WEIGHT TABLE is the model artifact — any D-float vector plugs
    * into the same plan (broadcast-free: weights derive per row from
    * the codegen'd md5, the [[Multimodal.fakeDecode]] discipline — the
    * sandbox has no trained model, so the weights are deterministic
    * pseudo-weights and the deliverable is the scoring plumbing, which
    * is real and oracle-checked bit-for-bit). Scale shape: tokenize →
    * transform → aggregate inside one projection, no shuffle, no UDF —
    * at 100 TB this runs inside the scan stage like every other
    * text gate. r15: the board runs the REAL-ARTIFACT path — an
    * `element_at` lookup against a broadcast literal weight array
    * (the pseudo-weights materialized driver-side), through the public
    * [[graft.functions.TextOps.modelScore]]; artifacts load with
    * [[graft.functions.TextOps.modelWeights]] (parquet/CSV). */
  val ModelBuckets = 64
  def modelFilter(t: Tables): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // r15: the board exercises the REAL-ARTIFACT path — a broadcast
    // literal weight VECTOR looked up with element_at (what a trained
    // fastText export ships as), scored through the public
    // TextOps.modelScore. The vector here is the md5 pseudo-weight
    // table MATERIALIZED driver-side (Hashing.md5LongLocal mirrors the
    // codegen hash bit-for-bit), so the DuckDB oracle — which replays
    // the pseudo formula — checks the array plumbing end-to-end;
    // TextOpsFunctionsSpec pins pseudo-path/array-path score equality
    // and the shared shuffle-free plan shape.
    val w = Some(TextOps.pseudoWeights(ModelBuckets))
    val mean = TextOps.modelFeatureMean(col("text"), w, ModelBuckets)
    val score = TextOps.modelScore(col("text"), w, ModelBuckets)
    // the linear response reports as the EXACT integer milli-sum (r15):
    // weights are multiples of 1/1000, so sum×1000 is an integer the
    // double fold recovers to well under 0.5 — `round(mean, 4)` was
    // measured diverging at sf0.1 on display-boundary values (Spark
    // rounds HALF_UP on the shortest decimal repr, DuckDB/IEEE on the
    // binary value; BigDecimal has no −0.0) with BIT-IDENTICAL sums —
    // an integer column is engine-proof at any scale
    val milliSum = round(mean * greatest(size(toks), lit(1)).cast("double") * 1000.0)
      .cast("long")
    t.documents
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        milliSum.as("milli_sum"),
        round(score, 4).as("model_score"),
        (score >= 0.5).as("kept"))
      .orderBy("doc_id")
  }

  private val modelFilterSql = {
    val toks = TextOps.sqlTokens("text")
    val bucket = Hashing.sqlMd5Long("concat('qmb:', t)") + s" % $ModelBuckets"
    val weight =
      s"(${Hashing.sqlMd5Long(s"concat('qmw:', CAST($bucket AS VARCHAR))")} % 2001)/1000.0 - 1.0"
    s"""WITH f AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(toks, t -> $weight)), (a, b) -> a + b)
       |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS fm
       |  FROM (SELECT doc_id, $toks AS toks FROM documents))
       |SELECT doc_id, n_tokens,
       |  CAST(round(fm * greatest(n_tokens, 1) * 1000.0) AS BIGINT) AS milli_sum,
       |  round(1.0/(1.0 + exp(fm * -4.0)), 4) AS model_score,
       |  1.0/(1.0 + exp(fm * -4.0)) >= 0.5 AS kept
       |FROM f ORDER BY doc_id""".stripMargin
  }

  val queries: Seq[QueryDef] = Seq(
    QueryDef("text_model_filter", modelFilter, Some(modelFilterSql)),
    QueryDef("text_html_extract", htmlExtract, Some(htmlExtractSql)),
    QueryDef("text_dedup_lines", dedupLines, Some(dedupLinesSql)),
    QueryDef("text_chunk_windows", chunkWindows, Some(chunkWindowsSql)),
    QueryDef("text_pii_redact", piiRedact, Some(piiRedactSql)),
    QueryDef("text_lm_score", lmScore, Some(lmScoreSql)),
    QueryDef("text_lm_bigram", lmBigram, Some(lmBigramSql)),
    QueryDef("text_lm_trigram", lmTrigram, Some(lmTrigramSql)),
    QueryDef("text_ppl_buckets", pplBuckets, Some(pplBucketsSql)),
    QueryDef("text_ppl_sample", pplSample, Some(pplSampleSql)),
    QueryDef("text_url_filter", urlFilter, Some(urlFilterSql)),
    QueryDef("text_lm_ref", lmRef, Some(lmRefSql)),
    QueryDef("text_lm_pruned", NgramLm.lmPruned, Some(NgramLm.lmPrunedSql)),
    QueryDef("text_lm_pruned3", NgramLm.lmPruned3, Some(NgramLm.lmPruned3Sql)),
    QueryDef("text_ppl_ref_sample", NgramLm.pplRefSample, Some(NgramLm.pplRefSampleSql)),
    QueryDef("text_pipeline_funnel", pipelineFunnel, Some(pipelineFunnelSql),
      stages = Some(funnelStages)),
    QueryDef("text_ngram_freq", ngramFreq, Some(ngramFreqSql)),
    QueryDef("text_curation", curation, Some(curationSql)),
    QueryDef("text_repetition", repetition, Some(repetitionSql)),
    QueryDef("text_tfidf", tfidfTop, Some(tfidfTopSql)),
    QueryDef("text_tokens", tokenCounts, Some(tokenCountsSql)),
    QueryDef("text_bpe_tokens", bpeTokens, Some(bpeTokensSql)),
    QueryDef("text_bpe_bytes", bpeBytes, Some(bpeBytesSql)),
    QueryDef("text_bpe_pretok", bpePretok, Some(bpePretokSql)),
    QueryDef("text_bpe_gpt2", bpeGpt2, Some(bpeGpt2Sql)),
    QueryDef("text_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    QueryDef("text_quality", qualityScore, Some(qualityScoreSql)),
    QueryDef("text_langid", langId, Some(langIdSql)),
    QueryDef("text_langid_model", langIdModel, Some(langIdModelSql)),
    QueryDef("text_fingerprint", fingerprints, Some(fingerprintsSql))
  )
}
