package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import TextOps._

/** Text-analysis operators for an LLM data pipeline over `documents`:
  * language identification (stopword-hit heuristic), quality scoring,
  * token statistics, and normalized document fingerprinting. All are
  * per-document narrow transforms + one aggregation — embarrassingly
  * parallel at 100 TB (no shuffle except the final small group/sort).
  */
object TextAnalysis {

  /** ta_lexicon_score's weighted wordlist — additive integer valences
    * over the corpus's own performance adjectives (a stand-in for any
    * sentiment/toxicity/safety dictionary; the plan is wordlist-
    * agnostic).
    */
  val LexiconWeights: Map[String, Long] = Map(
    "fast" -> 2L, "big" -> 1L, "merge" -> 1L,
    "slow" -> -2L, "small" -> -1L, "dup" -> -2L)

  // Tiny per-language stopword lists (public common-word lists). The
  // heuristic is argmax of stopword hits with a fixed tie-break order.
  val stopEn = Seq("the", "and", "of", "to", "in", "a", "is")
  val stopDe = Seq("der", "die", "und", "das", "ist", "ein")
  val stopEs = Seq("el", "la", "de", "que", "y", "un")
  val stopFr = Seq("le", "les", "des", "et", "une", "est")
  val stopZh = Seq("的", "是", "不", "了", "在")

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Zipf view cutoff — how the table is actually consumed (vocab /
    * tokenizer decisions look at the head of the distribution).
    */
  val ZipfK = 100

  /** ta_burrows_delta's function-word profile width (top-N by corpus
    * frequency; classic Delta uses 30–150 — sized to this corpus's
    * 31-word vocabulary).
    */
  val DeltaWords = 10

  /** Fixed iterations for ta_bpe_train — the loop ta_bpe_merge is one
    * step of; fixed so the DuckDB oracle can unroll it.
    */
  val BpeTrainRounds = 3

  /** Collocation gates: support floor first (rare-pair PMI noise
    * never ranks), then lift ≥ 1.4× in micro-units (1.2 admits a
    * ~150-row near-noise tail on this corpus; 1.4 keeps the ~20
    * genuinely associated pairs).
    */
  val CollocMinSupport = 20L
  val CollocMinLiftMicro = 1400000L

  /** RAKE report cap: phrases longer than this stay in the degree
    * statistics but out of the keyphrase report.
    */
  val RakeMaxLen = 4

  /** ta_textrank report size: top keywords by stationary rank. */
  val TextRankK = 15

  /** ta_unigram_viterbi geometry: vocab = top [[VitVocabK]] character
    * n-grams of length 2..[[VitMaxPieceLen]] plus every single
    * character; the DP runs over each doc's first [[VitMaxChars]]
    * characters (the oracle unrolls one CTE round per position, so
    * the cap bounds the generated SQL the way RakeMaxLen bounds the
    * phrase report).
    */
  val VitVocabK = 64
  val VitMaxPieceLen = 5
  val VitMaxChars = 48

  /** The BPE training loop shared by ta_bpe_train (reports `merges`)
    * and ta_bpe_encode (aggregates the final `syms`): BpeTrainRounds
    * iterations of pair-count over the VOCABULARY (word-frequency
    * weighted, never corpus-sized state) → single best pair
    * (deterministic ties) → leftmost-greedy non-overlapping re-merge
    * of every word's symbol array. [[Rounds]] cuts the lineage
    * exactly like the PageRank loop, with (merges, syms) as the state.
    *
    * @return (merges: iter/s1/s2/cnt — one row per round,
    *          syms: word/wc/syms — the final segmentation of every
    *          vocabulary word, i.e. the trained encoder's output)
    */
  private def bpeTrain(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val wc = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
    val syms0 = wc.select(col("word"), col("wc"),
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"))
      .localCheckpoint(false)
    def bestPair(syms: DataFrame): DataFrame =
      syms.filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS s1, element_at(syms, i + 1) AS s2))"))
          .as("p"))
        .select(col("wc"), col("p.s1").as("s1"), col("p.s2").as("s2"))
        .groupBy("s1", "s2").agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("s1"), col("s2")).limit(1)
    // no merges before round 1: an empty frame of the merges schema
    val none = bestPair(syms0).withColumn("iter", lit(0)).limit(0)
    Rounds.fixed(BpeTrainRounds, (none, syms0)) { case ((merges, syms), r) =>
      val best = bestPair(syms)
        .localCheckpoint(false) // reused by the merge step AND the report
      (merges.unionByName(best.withColumn("iter", lit(r))),
        syms
          .crossJoin(broadcast(best.select(col("s1").as("ms1"), col("s2").as("ms2"))))
          .withColumn("syms", expr(
            """aggregate(syms, cast(array() as array<string>),
              |  (acc, x) -> CASE
              |    WHEN size(acc) > 0 AND element_at(acc, -1) = ms1 AND x = ms2
              |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(ms1, ms2)))
              |    ELSE concat(acc, array(x)) END)""".stripMargin))
          .select(col("word"), col("wc"), col("syms")))
    }
  }

  /** Per-doc bigram-LM aggregate (doc_id, n_bigrams, sum_microp) —
    * ta_doc_lm_score's body, shared with pipe_ppl_buckets. Every
    * bigram's probability is an exact integer micro-prob
    * (c12·10⁶ DIV c1), so sum_microp is an order-free long. The
    * model's c1 comes from groupBy(w1) + join, NOT a w1-partitioned
    * window — a Zipfian head word's successor set would otherwise sort
    * in one task; the bigram-count frame checkpoints once so the two
    * aggregation legs don't re-shingle the corpus.
    */
  private def docLmAgg(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(col("doc_id"), explode(
        graft.functions.WordShingles.word_shingles(col("text"), 2)).as("bgr"))
      .select(col("doc_id"),
        element_at(split(col("bgr"), " ", -1), 1).as("w1"),
        element_at(split(col("bgr"), " ", -1), 2).as("w2"))
    val cnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(false)
    val c1 = cnt.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val model = cnt.join(c1, "w1")
      .select(col("w1"), col("w2"),
        expr("CAST((CAST(c12 AS DECIMAL(38,0)) * 1000000) DIV c1 " +
          "AS BIGINT)").as("microp"))
    bg.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("microp")).as("sum_microp"))
  }

  /** TextRank keywords of `docs(text)`: words ranked by stationary
    * PageRank in the window-2 co-occurrence graph. The edge list is
    * joinless (each doc zips its token array against its own shifted
    * slices) and every PageRank frame is vocabulary-bounded; the
    * micro-integer recursion is [[GraphQueries.pageRankMicro]], so the
    * ranking is engine-exact. Returns (rk, word, pr_micro), top `k`.
    * Public API (aliased on graft.Graft).
    */
  def textRank(docs: DataFrame, text: org.apache.spark.sql.Column,
               k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def shifted(t: org.apache.spark.sql.Column, d: Int) =
      zip_with(t, slice(t, lit(d + 1), greatest(size(t) - d, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))
    val t = tokens(text)
    val pairs = docs
      .select(explode(concat(shifted(t, 1), shifted(t, 2))).as("p"))
      .filter(col("p.b").isNotNull && col("p.a") =!= col("p.b"))
      .select(least(col("p.a"), col("p.b")).as("doc_a"),
        greatest(col("p.a"), col("p.b")).as("doc_b"))
      .distinct()
    val ranked = GraphQueries.pageRankMicro(pairs)
      .orderBy(col("pr").desc, col("id").asc).limit(k)
    val w = Window.orderBy(col("pr").desc, col("id").asc)
    ranked.withColumn("rk", row_number().over(w).cast("int"))
      .select(col("rk"), col("id").as("word"), col("pr").as("pr_micro"))
      .orderBy("rk")
  }

  /** RAKE keyphrases of `docs(text)`: the top 10 phrases of at most
    * [[RakeMaxLen]] words by micro-unit score, ties by phrase, as
    * (phrase, n_occur, score_micro). Every occurrence of a phrase text
    * has the same words (words hold no space and are never empty), so
    * one score per distinct text is every occurrence's score.
    */
  def rake(docs: DataFrame): DataFrame = {
    val phrases = docs
      .select(explode(graft.functions.StopwordRuns.stopword_runs(
        col("text"), QualityQueries.Stopwords)).as("ws"))
      .withColumn("plen", size(col("ws")))
    val wordStats = phrases
      .select(explode(col("ws")).as("w"), col("plen"))
      .groupBy("w")
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      // deg is CORPUS-token-scale (Σ plen over every occurrence of
      // w): deg·10⁶ wraps int64 past ~9.2e12, real at 100 TB — ride
      // DECIMAL(38,0); the DIV quotient (mean phrase length micro)
      // is bounded by the phrase-length cap
      .withColumn("wscore",
        expr("CAST(deg AS DECIMAL(38,0)) * 1000000 DIV freq"))
    phrases.filter(col("plen") <= RakeMaxLen)
      .groupBy(concat_ws(" ", col("ws")).as("phrase"))
      .agg(count(lit(1)).as("n_occur"))
      .select(col("phrase"), col("n_occur"), explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(wordStats.select("w", "wscore")), Seq("w"))
      .groupBy("phrase", "n_occur").agg(sum(col("wscore")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase").asc)
      .limit(10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Language ID: stopword-hit argmax, reported as a confusion matrix
    // against the labeled `lang` column.
    "ta_langid" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .withColumn("toks", tokens(col("text")))
        .withColumn("s_en", vocabHits(col("toks"), stopEn))
        .withColumn("s_de", vocabHits(col("toks"), stopDe))
        .withColumn("s_es", vocabHits(col("toks"), stopEs))
        .withColumn("s_fr", vocabHits(col("toks"), stopFr))
        .withColumn("s_zh", vocabHits(col("toks"), stopZh))
        .withColumn("pred_lang",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
               col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
                col("s_de") >= col("s_zh"), "de")
          .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
          .when(col("s_fr") >= col("s_zh"), "fr")
          .otherwise("zh"))
      scored.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred_lang")
    }),

    // Quality scoring: deterministic per-doc ratios (integer sums →
    // single double division, bit-stable across engines).
    "ta_quality" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("sum_len",
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)))
        .withColumn("n_stop", vocabHits(col("toks"), stopEn).cast("long"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          length(col("text")).cast("long").as("n_chars_obs"),
          (col("sum_len").cast("double") / col("n_tokens")).as("avg_token_len"),
          (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
          // no rounding: the op-for-op identical expression tree yields
          // bit-identical doubles in both engines, whereas round(x,4)
          // near a decimal boundary diverges (Spark rounds the exact
          // binary value, DuckDB rounds x*10^4 — different tie sides
          // within 1 ulp; observed at sf0.1)
          (least(col("n_tokens"), lit(100L)).cast("double") / 100.0 * 0.4
            + col("n_stop").cast("double") / col("n_tokens") * 0.3
            + when((col("sum_len").cast("double") / col("n_tokens").cast("double"))
                     .between(3.0, 8.0), 0.3).otherwise(0.1)).as("quality_score"))
        .orderBy("doc_id")
    }),

    // Token statistics: whitespace tokens, distinct tokens, regex
    // tokens (BPE-ish [a-z0-9]+ word pieces), type-token ratio.
    "ta_tokens" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("toks", tokens(col("text")))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          regexp_count(col("text"), lit("[a-z0-9]+")).cast("long").as("n_re_tokens"),
          (size(array_distinct(col("toks"))).cast("double") /
            size(col("toks"))).as("ttr"))
        .orderBy("doc_id")
    }),

    // GPT-2-style pre-tokenization count: the space-prefixed
    // letter-run / digit-run / punctuation-run alternation that BPE
    // tokenizers segment on, restricted to its ASCII core (the corpus
    // is all-ASCII; RE2 and Java regex agree on leftmost-first
    // alternation for this pattern). chars_per_token is the integer
    // ratio left unrounded — small-denominator rationals land on
    // round() midpoints where the engines disagree.
    "ta_bpe_tokens" -> ((s, dir) => {
      val pat = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          regexp_count(col("text"), lit(pat)).cast("long").as("n_bpe_tokens"),
          (length(col("text")).cast("double") /
            regexp_count(col("text"), lit(pat))).as("chars_per_token"))
        .orderBy("doc_id")
    }),

    // Edit distance between neighboring docs — the fuzzy-matching
    // primitive (record linkage, OCR cleanup). Levenshtein is O(len²)
    // per pair, so production use always sits BEHIND a blocking stage
    // (the LSH candidates); the bounded consecutive-pair set here keeps
    // the oracle small while pinning the distance function itself.
    "ta_edit_distance" -> ((s, dir) => {
      val d = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      d.as("a")
        .join(d.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.text"), col("b.text")).as("dist"))
        .orderBy("doc_a")
    }),

    // Normalized fingerprint: md5 over the sorted distinct token set —
    // the blocking key for order-insensitive exact dedup.
    "ta_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))).as("fp"))
        .orderBy("doc_id")
    }),

    // Inverted index construction — the IR/search staple: per token,
    // its document frequency and the sorted posting list. Postings
    // sort NUMERICALLY before serialization (string sort would put
    // doc 10 before doc 2). One distinct + one shuffle keyed by word;
    // at 100 TB the word key shards naturally and a posting list is
    // bounded by df (cap or chunk ultra-common terms — they're
    // stopwords to the retrieval layer anyway).
    "ta_inverted_index" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .distinct()
        .groupBy("word")
        .agg(
          count(lit(1)).as("df"),
          concat_ws(",",
            transform(array_sort(collect_set(col("doc_id"))), _.cast("string")))
            .as("postings"))
        .orderBy("word")
    }),

    // Bigram language model — corpus-level P(w2 | w1) as exact
    // rationals (bigram count / w1-start count): the n-gram LM shape
    // (perplexity-filter precursor) without a logarithm, so no libm
    // divergence between engines. Top-5 continuations per head word.
    // NO window anywhere: a Zipfian head word at web scale has
    // 10⁷–10⁸ distinct successors, and a w1-partitioned window sorts
    // them all in one task — instead ONE aggregation keyed by w1
    // computes c1 (sum) and the top-5 (bounded-heap UDAF, k rows per
    // partial aggregate) together, then posexplode recovers the rank
    // from the already-ordered 5-element array.
    "ta_bigram_lm" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(explode(
          graft.functions.WordShingles.word_shingles(col("text"), 2)).as("bg"))
        .select(
          element_at(split(col("bg"), " ", -1), 1).as("w1"),
          element_at(split(col("bg"), " ", -1), 2).as("w2"))
      val top5 = udaf(new graft.functions.TopKStringAggregator(5))
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .groupBy("w1")
        .agg(top5(col("w2"), col("c12")).as("top"), sum(col("c12")).as("c1"))
        .select(col("w1"), col("c1"), posexplode(col("top")).as(Seq("i", "e")))
        .select(col("w1"), col("e._1").as("w2"), col("e._2").as("c12"),
          col("c1"), (col("e._2").cast("double") / col("c1")).as("p"),
          (col("i") + 1).cast("int").as("rk"))
        .orderBy("w1", "rk")
    }),

    // Collocation mining — statistically-associated bigrams (the
    // phrase-detection pass a tokenizer/vocab pipeline runs to merge
    // "new york"-style units): association scored as LIFT
    // P(w1w2)/(P(w1)P(w2)), the exponential of PMI, kept as an exact
    // integer cross-multiplication so no log/division ever crosses
    // the engine gate, in two fixed-point stages whose magnitudes are
    // BOUNDED AT ANY CORPUS SIZE (the naive c12·nt²·10⁶
    // cross-multiplication overflows BIGINT already at sf0.1):
    // probabilities floor to parts-per-million first
    // (p12 = c12·10⁶ div nb, p1/p2 likewise over nt — each ≤ 10⁶),
    // then lift_micro = p12·10¹² div (p1·p2) — numerator ≤ 10¹⁸,
    // denominator ≤ 10¹², every intermediate a safe BIGINT on both
    // engines forever. The ppm floors perturb lift by ~10⁻⁶
    // relative — noise against the 1.4× gate; at ≥10¹² tokens the
    // ppm resolution floors rare-word probabilities to 0, so a
    // production run widens the fixed point (ppb), same contract
    // shape. A support floor (c12 ≥ 20) applies FIRST so rare-pair
    // noise (the classic PMI failure mode) never ranks and p1/p2
    // can't be zero. Plan: one bigram aggregation + one unigram
    // aggregation; the unigram frame is vocabulary-bounded and
    // aggregated, so it broadcasts into the two head/tail lookups
    // (at web scale — 10⁸⁺ vocab — the same two joins shuffle on
    // w1/w2 instead; shape unchanged). The support gate keeps the
    // scored frame far below the bigram count.
    "ta_collocations" -> ((s, dir) => {
      val toksF = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
      val bg = Tables.documents(s, dir)
        .select(explode(
          graft.functions.WordShingles.word_shingles(col("text"), 2)).as("bg"))
        .select(
          element_at(split(col("bg"), " ", -1), 1).as("w1"),
          element_at(split(col("bg"), " ", -1), 2).as("w2"))
      val uc = toksF.groupBy("w").agg(count(lit(1)).as("c"))
      val totals = toksF.agg(count(lit(1)).as("nt"))
        .crossJoin(bg.agg(count(lit(1)).as("nb")))
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= CollocMinSupport)
        .join(broadcast(uc.withColumnRenamed("w", "w1")
          .withColumnRenamed("c", "c1")), Seq("w1"))
        .join(broadcast(uc.withColumnRenamed("w", "w2")
          .withColumnRenamed("c", "c2")), Seq("w2"))
        .crossJoin(broadcast(totals))
        .withColumn("p12", expr(
          "CAST((CAST(c12 AS DECIMAL(38,0)) * 1000000) DIV nb AS BIGINT)"))
        .withColumn("p1", expr(
          "CAST((CAST(c1 AS DECIMAL(38,0)) * 1000000) DIV nt AS BIGINT)"))
        .withColumn("p2", expr(
          "CAST((CAST(c2 AS DECIMAL(38,0)) * 1000000) DIV nt AS BIGINT)"))
        .withColumn("lift_micro",
          expr("(p12 * 1000000000000L) DIV (p1 * p2)"))
        .filter(col("lift_micro") >= CollocMinLiftMicro)
        .select("w1", "w2", "c12", "c1", "c2", "lift_micro")
        .orderBy(col("lift_micro").desc, col("w1"), col("w2"))
    }),

    // SOUNDEX PHONETIC BLOCKING — the record-linkage classic (the
    // blocking key behind every "Smith/Smyth/Schmidt" name-matching
    // pass, and the phonetic sibling of dd_sorted_neighborhood's
    // lexical key): census of the vocabulary folded to its soundex
    // codes — how many distinct words and token occurrences share a
    // code, with the lexical extremes as witnesses of what each
    // bucket conflates. Spark's codegen'd soundex() implements the
    // classic American algorithm INCLUDING the H/W-transparency rule
    // (same codes separated by h/w collapse — 'Ashcraft' → A261,
    // probed) and vowels-as-separators ('Honeyman' → H555); the
    // oracle reconstructs it in RE2-safe SQL (no backreferences in
    // DuckDB's regex engine, so the run collapse is six literal-digit
    // regexp_replace passes over the '0'-vowel/'9'-hw code string).
    // The contract is pinned on the [a-z]+ vocabulary both engines
    // filter to — Spark's non-letter edge cases (pass-through inputs)
    // stay out of the gate by construction. Scale: one token
    // explode into a map-side-combined vocab count, then the fold
    // runs on the VOCABULARY (distinct words), not the corpus.
    "ta_soundex" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .withColumn("sdx", soundex(col("word")))
        .groupBy("sdx")
        .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_tokens"),
          min(col("word")).as("first_word"), max(col("word")).as("last_word"))
        .orderBy("sdx")
    }),

    // RAKE keyphrase extraction (Rose et al. 2010) — candidate phrases
    // are maximal token runs between stopwords; a word's score is its
    // co-occurrence degree over its frequency (deg(w) = Σ phrase
    // lengths containing w, freq(w) = its occurrences in phrases);
    // a phrase scores the sum of its words' scores. Kept exact in
    // integers: word scores floor to micro-units (deg·10⁶ div freq —
    // both pure counts), phrase scores sum the micro-units, so the
    // whole ranking is engine-exact with no float division anywhere.
    // Plan: two narrow passes over the documents and no token-scale
    // shuffle. Segmentation is a per-record map — the native
    // [[graft.functions.StopwordRuns]] kernel turns each document into
    // its phrases (word arrays) inside the row. Pass one explodes the
    // phrases' words into a vocabulary-sized (deg, freq) aggregation
    // that is BROADCAST; pass two groups the reportable phrases by
    // text, scores each distinct text once from its words, and the
    // top-10 rides TakeOrderedAndProject. At 100 TB: a phrase-text and
    // a vocabulary shuffle plus one vocabulary-sized broadcast. The
    // REPORT keeps phrases of <=[[RakeMaxLen]] words (the standard
    // RAKE output cap: this corpus's 2-stopword delimiter set leaves
    // some runs spanning most of a document — valid candidates for the
    // degree statistics, which stay computed over ALL runs, but not
    // keyphrases).
    "ta_rake" -> ((s, dir) => rake(Tables.documents(s, dir))),

    // TextRank keywords (Mihalcea & Tarau 2004) — RAKE's graph-based
    // sibling and the second consumer of the shared integer-PageRank
    // recursion (GraphQueries.pageRankMicro, dd_pagerank's exact
    // engine): nodes are words, edges are DISTINCT co-occurrences
    // within a window of 2 (adjacent + one-gap pairs), and a word's
    // keywordness is its stationary rank in that graph. The edge list
    // is built with NO join: each doc zips its token array against
    // its own 1- and 2-shifted slices (narrow array ops), then a
    // vocab²-bounded distinct. All rank arithmetic is the micro-unit
    // truncating-division recursion the oracle unrolls as fixed-round
    // CTEs — engine-exact, no float. Scale: the co-occurrence
    // distinct and every PageRank round aggregate over frames bounded
    // by vocabulary (× small constants), never by corpus size; the
    // top-15 report rides TakeOrderedAndProject and the rank window
    // runs inside that 15-row frame.
    "ta_textrank" -> ((s, dir) =>
      textRank(Tables.documents(s, dir), col("text"), TextRankK)),

    // Unigram-tokenizer VITERBI segmentation — the OTHER tokenizer
    // family next to the BPE loop (ta_bpe_*): where BPE greedily
    // merges, a unigram model picks the GLOBALLY optimal segmentation
    // of each document by dynamic programming over a piece vocabulary.
    // Vocabulary and scores are derived deterministically from the
    // corpus (top-64 character 2..5-grams by frequency + every single
    // character, rank-ordered); each piece costs 10⁶ + rank, so the
    // minimum-cost segmentation uses the FEWEST pieces first and the
    // most frequent ones second — the integer MDL surrogate for the
    // log-prob objective (ln is banned from cross-engine contracts;
    // the rank order IS the frequency order the log would induce).
    // The DP runs inside [[graft.functions.UnigramViterbi]] — a
    // native codegen expression, one narrow pass, O(len·5) per doc —
    // and the verified value 10⁶·n_pieces + Σrank is the unique DP
    // optimum (ties in PATH never change the VALUE). The oracle
    // unrolls the same DP as 48 materialized CTE rounds. Scale: the
    // vocab frame collects ≤64+charset rows to the driver (the
    // bounded-collect doctrine: a spec-sized codebook, not data), then
    // broadcasts inside the expression; segmentation is
    // embarrassingly parallel.
    "ta_unigram_viterbi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          substring(col("text"), 1, VitMaxChars).as("p"))
        .localCheckpoint(false) // vocab count + segmentation scan
      val grams = docs.select(explode(expr(
          s"""flatten(transform(sequence(2, $VitMaxPieceLen),
             |  l -> IF(length(p) >= l,
             |         transform(sequence(1, length(p) - l + 1),
             |                   i -> substring(p, i, l)),
             |         array())))""".stripMargin)).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("piece").asc).limit(VitVocabK)
      val singles = docs.select(explode(expr(
          """IF(length(p) >= 1,
            |   transform(sequence(1, length(p)), i -> substring(p, i, 1)),
            |   array())""".stripMargin)).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("cnt"))
      val wRank = Window.orderBy(col("cnt").desc, col("piece").asc)
      val vocab = grams.unionByName(singles)
        .withColumn("rnk", row_number().over(wRank))
        .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
      docs.select(col("doc_id"),
          graft.functions.UnigramViterbi.unigram_viterbi(
            col("p"), vocab, VitMaxPieceLen, VitMaxChars).as("enc"))
        .select(col("doc_id"),
          expr("enc DIV 1000000").as("n_pieces"),
          expr("enc % 1000000").as("rank_sum"))
        .orderBy("doc_id")
    }),

    // Zipf rank-frequency table — the corpus-statistics view every
    // tokenizer/vocab decision starts from: the top-K words ranked by
    // count with their frequency ratio to the top word (exact
    // rational). Raw web-scale vocabulary is NOT a bounded domain
    // (10⁸–10⁹ distinct tokens at 100 TB), so the rank must never be a
    // global window over the vocabulary: orderBy+limit plans
    // TakeOrderedAndProject (per-partition top-K, K-row merge), and
    // row_number then runs inside the K-row frame only — the same
    // bounded-by-construction shape as the RRF candidate windows.
    // top_cnt is the max over the whole vocabulary, equal to the max
    // within the top-K, so no second scan is needed.
    // CHARACTER ENTROPY — the model-free bits-per-character floor
    // (ta_compress_ratio's zlib number approximates it; this is the
    // exact order-0 quantity): H = Σ −(c/n)·log₂(c/n) over each
    // document's character histogram. The binary-junk screen — random
    // bytes sit near 8 bits, natural text near 4, template spam
    // lower. Per-doc histograms are ≤ alphabet-sized, the logs are
    // fixed-point log2micro of the exact rational n/c, and the
    // per-doc sum Σ c·lg floors ONCE by n — order-free integers
    // throughout.
    "ta_char_entropy" -> ((s, dir) => {
      val hist = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "", -1)).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      val n = hist.groupBy("doc_id")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
      hist.join(n, "doc_id")
        .withColumn("lg", graft.functions.Log2Micro.log2micro(
          col("n"), col("c")))
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_chars"),
          max(col("n_distinct")).as("n_distinct"),
          expr("sum(c * lg)").as("hn"))
        .withColumn("h_micro", expr("hn DIV n_chars"))
        .select("doc_id", "n_chars", "n_distinct", "h_micro")
        .orderBy("doc_id")
    }),

    // STYLOMETRIC OUTLIER SCORE (Burrows' Delta, squared form) — the
    // authorship/register-drift signal: per document, the
    // variance-normalized squared deviation of its function-word
    // frequency profile from the corpus profile,
    // Δ² = Σ_w (f_dw − μ_w)²/σ²_w over the top-[[DeltaWords]] words.
    // Machine-generated or off-register documents spike it even when
    // every quality gate passes. The squared form keeps the whole
    // contract rational (classic Delta needs σ — a square root):
    // with D docs, per word S1 = Σf, S2 = Σf², the per-doc term is
    // (f·D − S1)²/(D·S2 − S1²) exactly — cross-products in
    // DECIMAL(38,0)/HUGEINT, per-word micro floor, order-free sum.
    // Frequencies are ppm integers, so profile extraction is one
    // explode→count; the word stats are a DeltaWords-row broadcast.
    "ta_burrows_delta" -> ((s, dir) => {
      val nTok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      val docN = nTok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val topW = nTok.groupBy("word").agg(count(lit(1)).as("cw"))
        .orderBy(col("cw").desc, col("word").asc).limit(DeltaWords)
        .select("word")
      // per (doc, word) ppm frequency over the full doc×topword grid
      // (absent words are genuine 0 ppm — they carry signal)
      val f = docN.crossJoin(broadcast(topW))
        .join(nTok.groupBy("doc_id", "word").agg(count(lit(1)).as("c")),
          Seq("doc_id", "word"), "left")
        .select(col("doc_id"), col("word"),
          expr("(coalesce(c, 0L) * 1000000) DIV nt").as("fp"))
      val stats = f.groupBy("word")
        .agg(count(lit(1)).as("d"),
          sum(col("fp")).as("s1"),
          expr("sum(CAST(fp AS DECIMAL(19,0)) * fp)").as("s2"))
        .withColumn("varnum", expr("d * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"))
        .filter(col("varnum") > 0) // constant-frequency words carry no z
      f.join(broadcast(stats), Seq("word"))
        .withColumn("znum", expr(
          "CAST(fp * d - s1 AS DECIMAL(19,0)) * CAST(fp * d - s1 AS DECIMAL(19,0))"))
        .groupBy("doc_id")
        .agg(sum(expr("(znum * 1000000) div varnum")).as("delta2_micro"),
          count(lit(1)).as("n_words"))
        .orderBy("doc_id")
    }),

    // VOCAB COVERAGE CURVE — the table a tokenizer designer reads
    // before fixing a vocabulary size: at each candidate size k
    // (powers of 4 — sized to the synthetic corpus's 31-word
    // vocabulary; a production run dials the same constant list up to
    // the 2^14..2^17 range), what fraction of all token OCCURRENCES the top-k
    // words by frequency cover (ties broken lexicographically, so the
    // curve is deterministic). Natural corpora saturate fast (Zipf);
    // the knee picks k. Round 13 (verdict #1a): the ranking window
    // now runs over the TakeOrdered top-max(k) frame only — the
    // ta_zipf limit-before-window shape — never the full vocabulary
    // (a natural-corpus vocab is 10⁷–10⁸ types; ranking it globally
    // is a one-partition sort). n_vocab/n_tokens come from a separate
    // 1-row aggregate crossJoined in, and ranks above max(k) can
    // never be selected by any threshold, so the result is
    // row-identical to the full-vocab window definition the oracle
    // states. Coverage in exact integer ppm.
    "ta_vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val ksList = Seq(4L, 16L, 64L, 256L)
      val counts = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        // consumed twice (totals aggregate + TakeOrdered head) —
        // vocab-sized, materialize once
        .localCheckpoint(false)
      val totals = counts.agg(count(lit(1)).as("n_vocab"),
        sum(col("cnt")).as("n_tokens"))
      val top = counts
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(ksList.max.toInt)
      // bounded frame: `top` is TakeOrdered-limited to max(vocab_k)
      // rows before the window ever runs
      val w = Window.orderBy(col("cnt").desc, col("word").asc)
      val cum = top
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      val ks = ksList.toDF("vocab_k")
      cum.crossJoin(broadcast(ks))
        .filter(col("rk") <= col("vocab_k"))
        .groupBy("vocab_k")
        .agg(max(col("cum")).as("tokens_covered"))
        .crossJoin(broadcast(totals))
        .withColumn("coverage_ppm",
          expr("CAST((CAST(tokens_covered AS DECIMAL(38,0)) * 1000000) " +
            "DIV n_tokens AS BIGINT)"))
        .select("vocab_k", "tokens_covered", "n_vocab", "n_tokens",
          "coverage_ppm")
        .orderBy("vocab_k")
    }),

    "ta_zipf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val topK = counts
        .orderBy(col("cnt").desc, col("word").asc).limit(ZipfK)
      val w = Window.orderBy(col("cnt").desc, col("word").asc)
      topK
        .withColumn("rk", row_number().over(w).cast("int"))
        .withColumn("top_cnt", max(col("cnt")).over())
        .select(col("rk"), col("word"), col("cnt"),
          (col("cnt").cast("double") / col("top_cnt")).as("freq_ratio"))
        .orderBy("rk")
    }),

    // ZIPF EXPONENT FIT — the quantitative companion ta_zipf's table
    // eyeballs: α from the OLS slope of (log2 rank, log2 freq) over
    // the top-[[ZipfK]] ranks, the standard corpus-health number
    // (natural text sits near α ≈ 1; template/boilerplate corpora
    // flatten it). Round 9's deterministic fixed-point log2 makes the
    // whole regression an INTEGER contract: x/y are micro-log2s, the
    // slope is the exact rational (KΣxy − ΣxΣy)/(KΣxx − Σx²) of
    // BIGINT sums, and α lands in milli-units via one DECIMAL(38)
    // division (the ev_assoc_rules widening). Everything after the
    // token count runs on the K-row TakeOrdered-bounded frame.
    "ta_zipf_alpha" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cnt").desc, col("word").asc)
      val pts = counts
        .orderBy(col("cnt").desc, col("word").asc).limit(ZipfK)
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("x", graft.functions.Log2Micro.log2micro(col("rk"), lit(1L)))
        .withColumn("y", graft.functions.Log2Micro.log2micro(col("cnt"), lit(1L)))
      pts.agg(
          count(lit(1)).as("n_ranks"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n_ranks"),
          (col("n_ranks") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n_ranks") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
        .withColumn("alpha_milli", expr(
          "CAST((CAST(-slope_num AS DECIMAL(38,0)) * 1000) DIV slope_den AS BIGINT)"))
    }),

    // Per-document LM scoring — the perplexity-filter shape riding on
    // the corpus bigram model: each doc's bigrams look up their
    // conditional probability and the doc scores by the MEAN. The
    // probability is carried as an exact INTEGER micro-prob
    // (c12·10⁶ div c1), so the per-doc sum is order-free and
    // bit-identical across engines — the trick that makes an
    // aggregate of per-row ratios oracle-matchable without a libm log.
    // Plan: one bigram explode, one broadcast-joinable model (vocab²
    // bounded), one doc-keyed aggregation. The model's c1 comes from
    // groupBy(w1) + join, NOT a w1-partitioned window — a Zipfian head
    // word's successor set would otherwise sort in one task; the
    // bigram-count frame checkpoints once so the two aggregation legs
    // don't re-shingle the corpus.
    // PERPLEXITY IN BITS — the log-domain form of ta_doc_lm_score
    // (which reports mean probability because, before round 9, a
    // cross-engine log was banned): bits/token = mean −log2 P(w2|w1)
    // over a doc's bigrams, the actual unit perplexity filters
    // threshold on (CCNet/Gopher report log-ppl, not mean-p, because
    // one near-zero bigram should dominate — in probability space it
    // vanishes). The deterministic fixed-point log2 evaluates ONCE
    // per (w1, w2) MODEL row (vocab²-bounded), the corpus-side doc
    // sum is an order-free long, and the whole row is an integer
    // contract. Same plan as ta_doc_lm_score: one bigram explode, a
    // checkpointed count frame, model join, doc-keyed aggregation.
    "ta_doc_bits" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), explode(
          graft.functions.WordShingles.word_shingles(col("text"), 2)).as("bgr"))
        .select(col("doc_id"),
          element_at(split(col("bgr"), " ", -1), 1).as("w1"),
          element_at(split(col("bgr"), " ", -1), 2).as("w2"))
      val cnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(false)
      val c1 = cnt.groupBy("w1").agg(sum(col("c12")).as("c1"))
      val model = cnt.join(c1, "w1")
        .select(col("w1"), col("w2"),
          (-graft.functions.Log2Micro.log2micro(
            greatest(expr("CAST((CAST(c12 AS DECIMAL(38,0)) * 1000000) " +
              "DIV c1 AS BIGINT)"), lit(1L)),
            lit(1000000L))).as("bits_micro"))
      bg.join(model, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("bits_micro")).as("sum_bits_micro"))
        .withColumn("mean_bits_micro", expr("sum_bits_micro DIV n_bigrams"))
        .orderBy("doc_id")
    }),

    "ta_doc_lm_score" -> ((s, dir) => {
      docLmAgg(s, dir)
        .select(col("doc_id"), col("n_bigrams"),
          (col("sum_microp").cast("double") / col("n_bigrams") / 1000000.0)
            .as("mean_bigram_p"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): split the
    // corpus into head/middle/tail thirds by LM score — the standard
    // quality-stratification step before mixing weights are chosen.
    // The per-doc score is the integer mean micro-prob (order-free),
    // and the tertile thresholds come from a cumulative count over the
    // score HISTOGRAM (a frame bounded by the 10⁶+1 possible micro
    // values, not the corpus), with the boundary compare as integer
    // cross-multiplication (3·cum ≥ n) — no global sort of docs, no
    // libm. Ties land whole score-values into one bucket, so bucket
    // sizes are near-thirds (threshold-on-value, the CCNet contract).
    "pipe_ppl_buckets" -> ((s, dir) => {
      val sc = docLmAgg(s, dir)
        .select(col("doc_id"), col("n_bigrams"),
          expr("sum_microp DIV n_bigrams").as("m"))
        .localCheckpoint(false) // shared by the histogram + bucketing legs
      val tot = sc.agg(count(lit(1)).as("n"))
      val wc = Window.orderBy(col("m"))
      val th = sc.groupBy("m").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wc)) // histogram-bounded
        .crossJoin(broadcast(tot))
        .agg(
          min(when(col("cum") * 3 >= col("n"), col("m"))).as("t1"),
          min(when(col("cum") * 3 >= col("n") * 2, col("m"))).as("t2"))
      sc.crossJoin(broadcast(th))
        .withColumn("bucket",
          when(col("m") <= col("t1"), "tail")
            .when(col("m") <= col("t2"), "middle")
            .otherwise("head"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"),
          min(col("m")).as("min_microp"), max(col("m")).as("max_microp"))
        .orderBy("bucket")
    }),

    // Per-language unigram entropy — the vocabulary-richness /
    // compressibility profile corpus reports lead with (a language
    // slice whose entropy collapses is boilerplate- or spam-heavy).
    // H₂ = −Σ p·log2 p over the language's unigram distribution, in
    // BITS/token (the compressibility unit — round 9 moved the whole
    // contract to [[graft.functions.Log2Micro]], the deterministic
    // fixed-point log2, so no libm remains on either engine). The log
    // evaluates ONCE PER (lang, word) on the vocab-bounded count frame
    // as an exact micro-integer, so the corpus-side aggregation is an
    // exact integer dot product c_w·lnm_w (order free). Output is
    // langs rows; the division + 4dp round happen on exact pieces.
    "ta_lang_entropy" -> ((s, dir) => {
      val cnt = Tables.documents(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      val nl = cnt.groupBy("lang").agg(sum(col("c")).as("n"),
        count(lit(1)).as("vocab"))
      cnt.join(broadcast(nl), "lang")
        .withColumn("lnm",
          -graft.functions.Log2Micro.log2micro(col("c"), col("n")))
        .groupBy("lang")
        .agg(max(col("n")).as("n_tokens"), max(col("vocab")).as("vocab"),
          sum(col("c") * col("lnm")).as("wsum"))
        .withColumn("entropy4",
          round(col("wsum").cast("double") / col("n_tokens") / lit(1000000.0), 4))
        .select("lang", "n_tokens", "vocab", "entropy4")
        .orderBy("lang")
    }),

    // Stupid-backoff trigram LM (Brants et al. 2007 — the web-scale
    // LM scoring standard precisely because it needs no normalization
    // pass): the model trains on the md5 < '8000' half of the corpus
    // and scores EVERY doc, so held-out docs genuinely exercise the
    // backoff chain trigram → bigram → unigram (α = 0.4 per level,
    // applied as exact integer arithmetic: 4·x DIV 10, 16·x DIV 100).
    // All counts derive from ONE trigram stream (prefix / suffix /
    // unigram marginals of c123), so one explode feeds the whole model
    // and the conditional denominators are internally consistent.
    // Every per-position probability is an integer micro-prob → the
    // per-doc sum is an order-free long (the ta_doc_lm_score trick).
    // Output adds the backoff-level census (n_l3/n_l2/n_l1/n_oov) —
    // the LM-coverage report a corpus shift shows up in first. Scale:
    // the trigram/bigram model joins shuffle on their word keys (the
    // n-gram tables grow with vocabulary — see the join comment);
    // unigram marginals broadcast; one doc-keyed aggregation.
    // KNESER–NEY BIGRAM SMOOTHING — the LM-smoothing gold standard
    // (Chen & Goodman 1999), completing the family above
    // (ta_bigram_lm = MLE, ta_trigram_backoff = stupid backoff):
    // p(w|u) = max(c(u,w) − D, 0)/c(u) + λ(u)·p_cont(w), with the
    // CONTINUATION unigram p_cont(w) = N1+(·w)/N1+(··) — "how many
    // contexts does w complete" — the insight that makes KN beat
    // count-based backoff on novel bigrams. D = 3/4 exactly: the
    // whole contract multiplies through by 4 (max(4c−3, 0) over 4·c1)
    // so the discount never leaves integers, and all three floors
    // (discounted term, λ, λ·p_cont product) happen in the same
    // order on both engines. One bigram count frame feeds all four
    // statistics (context totals, context fan-out N1+(u·),
    // continuation counts N1+(·w), the global type count); the
    // support floor c ≥ 3 bounds the reported frame the same way
    // ta_collocations does.
    "ta_kn_bigram" -> ((s, dir) => {
      val c2f = Tables.documents(s, dir)
        .select(explode(
          graft.functions.WordShingles.word_shingles(col("text"), 2)).as("bg"))
        .select(
          element_at(split(col("bg"), " ", -1), 1).as("w1"),
          element_at(split(col("bg"), " ", -1), 2).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .localCheckpoint(false) // four statistics read one count frame
      val c1 = c2f.groupBy("w1")
        .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1u"))
      val n1w = c2f.groupBy("w2").agg(count(lit(1)).as("n1w"))
      val n1all = c2f.agg(count(lit(1)).as("n1all"))
      c2f.filter(col("c2") >= 3)
        .join(c1, "w1").join(n1w, "w2")
        .crossJoin(broadcast(n1all))
        .withColumn("disc_micro",
          expr("CAST((CAST(greatest(4 * c2 - 3, 0L) AS DECIMAL(38,0)) " +
            "* 1000000) DIV (4 * c1) AS BIGINT)"))
        .withColumn("lambda_micro",
          expr("CAST((CAST(3 * n1u AS DECIMAL(38,0)) * 1000000) " +
            "DIV (4 * c1) AS BIGINT)"))
        .withColumn("pcont_micro", expr("CAST((CAST(n1w AS DECIMAL(38,0)) * 1000000) " +
            "DIV n1all AS BIGINT)"))
        .withColumn("p_kn_micro",
          expr("disc_micro + (lambda_micro * pcont_micro) DIV 1000000"))
        .select("w1", "w2", "c2", "c1", "lambda_micro", "p_kn_micro")
        .orderBy("w1", "w2")
    }),

    "ta_trigram_backoff" -> ((s, dir) => {
      val tg = Tables.documents(s, dir)
        .select(col("doc_id"), explode(
          graft.functions.WordShingles.word_shingles(col("text"), 3)).as("tgr"))
        .select(col("doc_id"),
          element_at(split(col("tgr"), " ", -1), 1).as("w1"),
          element_at(split(col("tgr"), " ", -1), 2).as("w2"),
          element_at(split(col("tgr"), " ", -1), 3).as("w3"))
        .localCheckpoint(false) // feeds the model AND the score join
      val tri = tg
        .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < "8000")
        .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
        .localCheckpoint(false) // feeds all four marginals
      val b12 = tri.groupBy("w1", "w2").agg(sum(col("c123")).as("c12"))
      val b23 = tri.groupBy("w2", "w3").agg(sum(col("c123")).as("c23"))
      val u2 = tri.groupBy("w2").agg(sum(col("c123")).as("c2"))
      val u3 = tri.groupBy("w3").agg(sum(col("c123")).as("c3"))
      val tot = tri.agg(sum(col("c123")).as("n"))
      // tri/b12/b23 grow with the n-gram vocabulary (NOT bounded like
      // dsir's 256 buckets) — no broadcast hint; the score stream and
      // the model co-partition on the word keys, and AQE still picks
      // broadcast when a model frame measures small. The unigram
      // marginals and the 1-row total are vocab-/constant-bounded.
      tg.join(tri, Seq("w1", "w2", "w3"), "left")
        .join(b12, Seq("w1", "w2"), "left")
        .join(b23, Seq("w2", "w3"), "left")
        .join(broadcast(u2), Seq("w2"), "left")
        .join(broadcast(u3), Seq("w3"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lvl",
          when(col("c123").isNotNull, 3)
            .when(col("c23").isNotNull, 2)
            .when(col("c3").isNotNull, 1)
            .otherwise(0))
        .withColumn("microp",
          when(col("c123").isNotNull, expr(
            "CAST((CAST(c123 AS DECIMAL(38,0)) * 1000000) DIV c12 AS BIGINT)"))
            .when(col("c23").isNotNull, expr("(4 * CAST((CAST(c23 AS DECIMAL(38,0)) * 1000000) " +
              "DIV c2 AS BIGINT)) DIV 10"))
            .when(col("c3").isNotNull, expr("(16 * CAST((CAST(c3 AS DECIMAL(38,0)) * 1000000) " +
              "DIV n AS BIGINT)) DIV 100"))
            .otherwise(lit(0L)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"), sum(col("microp")).as("sum_microp"),
          sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_l3"),
          sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_l2"),
          sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_l1"),
          sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_oov"))
        .orderBy("doc_id")
    }),

    // Repetition detection — the C4-style boilerplate/spam gate: the
    // most-repeated word 3-gram per document and its multiplicity.
    // High max-repetition flags templated or looping text. Shingles
    // explode once, one (doc, shingle) count, one per-doc max; ties
    // break to the lexicographically smallest shingle via a single
    // min-by struct aggregation (no window).
    "ta_repetition" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(shinglesOf(col("text"))).as("shingle"))
        .groupBy("doc_id", "shingle")
        .agg(count(lit(1)).as("rep"))
        .groupBy("doc_id")
        .agg(
          max(col("rep")).as("max_rep"),
          min_by(col("shingle"), struct(negate(col("rep")), col("shingle")))
            .as("top_shingle"),
          count(lit(1)).cast("long").as("n_distinct_shingles"))
        .orderBy("doc_id")
    }),

    // Duplicate-n-gram coverage — the Gopher/MassiveText companion to
    // ta_repetition's max-count gate: that one catches a single
    // hammered phrase; THIS one catches diffuse repetition (many
    // 3-grams each repeated a few times — template/boilerplate pages
    // where no single shingle dominates). Per doc: the fraction of
    // 3-gram OCCURRENCES that belong to repeated 3-grams, as an exact
    // integer pair plus a 4dp ratio of integers. Same one-explode
    // aggregation shape as ta_repetition — narrow, map-side combined.
    "ta_dup_ngram_frac" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(shinglesOf(col("text"))).as("shingle"))
        .groupBy("doc_id", "shingle")
        .agg(count(lit(1)).as("rep"))
        .groupBy("doc_id")
        .agg(
          sum(col("rep")).as("n_grams"),
          sum(when(col("rep") >= 2, col("rep")).otherwise(0L)).as("n_dup_grams"))
        .withColumn("dup_frac4",
          round(col("n_dup_grams").cast("double") / col("n_grams"), 4))
        .orderBy("doc_id")
    }),

    // Mixed-language detection — the quality gate single-label langid
    // can't express: concatenated bilingual pages (scraper artifacts,
    // boilerplate-in-another-language) fool a whole-document argmax.
    // Split each doc's tokens in half, language-ID each half with the
    // same stopword argmax as ta_langid, report the (first, second)
    // confusion matrix — off-diagonal mass is the mixed-document rate.
    // Narrow per-doc transforms + one tiny aggregation.
    "ta_langid_mixed" -> ((s, dir) => {
      def pred(p: String) =
        when(col(s"${p}_en") >= col(s"${p}_de") && col(s"${p}_en") >= col(s"${p}_es") &&
             col(s"${p}_en") >= col(s"${p}_fr") && col(s"${p}_en") >= col(s"${p}_zh"), "en")
        .when(col(s"${p}_de") >= col(s"${p}_es") && col(s"${p}_de") >= col(s"${p}_fr") &&
              col(s"${p}_de") >= col(s"${p}_zh"), "de")
        .when(col(s"${p}_es") >= col(s"${p}_fr") && col(s"${p}_es") >= col(s"${p}_zh"), "es")
        .when(col(s"${p}_fr") >= col(s"${p}_zh"), "fr")
        .otherwise("zh")
      val halves = Tables.documents(s, dir)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n", size(col("toks")))
        .withColumn("t1", slice(col("toks"), lit(1), expr("n DIV 2")))
        .withColumn("t2", slice(col("toks"), expr("n DIV 2 + 1"), expr("n - n DIV 2")))
      val scored = Seq(("a", "t1"), ("b", "t2")).foldLeft(halves) {
        case (df, (p, tc)) =>
          df.withColumn(s"${p}_en", vocabHits(col(tc), stopEn))
            .withColumn(s"${p}_de", vocabHits(col(tc), stopDe))
            .withColumn(s"${p}_es", vocabHits(col(tc), stopEs))
            .withColumn(s"${p}_fr", vocabHits(col(tc), stopFr))
            .withColumn(s"${p}_zh", vocabHits(col(tc), stopZh))
      }
      scored
        .select(pred("a").as("pred_first"), pred("b").as("pred_second"))
        .groupBy("pred_first", "pred_second")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("pred_first", "pred_second")
    }),

    // Sentence segmentation stats — the preprocessing view feeding
    // packing and window decisions (mean/max sentence length drive
    // chunk boundaries): split on terminal punctuation runs, trim,
    // drop empties. Entirely higher-order functions on the row — no
    // explode, no shuffle, perfectly narrow at any scale.
    "ta_sentences" -> ((s, dir) => {
      val sents = filter(
        transform(split(col("text"), "[.!?]+", -1), x => trim(x)),
        x => x =!= "")
      val lens = transform(col("sents"), x => length(x).cast("long"))
      Tables.documents(s, dir)
        .select(col("doc_id"), sents.as("sents"))
        .select(col("doc_id"),
          size(col("sents")).cast("int").as("n_sentences"),
          coalesce(aggregate(lens, lit(0L), (a, x) => a + x), lit(0L))
            .as("sum_sent_chars"),
          coalesce(array_max(lens), lit(0L)).cast("int").as("max_sent_chars"))
        .orderBy("doc_id")
    }),

    // HEAPS-LAW VOCABULARY GROWTH — how fast the vocabulary grows as
    // the corpus grows (V ∝ N^β): the curve that sizes tokenizers and
    // predicts what a 10× crawl buys. Corpus prefixes come from the
    // md5 first nibble (16 reproducible nested subsets); the trick
    // that makes the whole curve ONE PASS is attributing each
    // distinct token to the MINIMUM nibble containing it — the
    // 16-step cumulative vocabulary is then a running sum over a
    // 16-row frame instead of 16 distinct-counts. Doc/token masses
    // accumulate the same way. All integers; windows only over the
    // 16-row spine.
    "ta_heaps_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
            .cast("int").as("nib"),
          tokens(col("text")).as("toks"))
      val docStats = d.groupBy("nib")
        .agg(count(lit(1)).as("new_docs"),
          sum(size(col("toks")).cast("long")).as("new_tokens"))
      val vocabAt = d.select(col("nib"), explode(col("toks")).as("w"))
        .groupBy("w").agg(min(col("nib")).as("nib"))
        .groupBy("nib").agg(count(lit(1)).as("new_vocab"))
      val spine = s.range(0, 16).select(col("id").cast("int").as("nib"))
      val w = Window.orderBy(col("nib"))
        .rowsBetween(Window.unboundedPreceding, 0)
      spine
        .join(docStats, Seq("nib"), "left")
        .join(vocabAt, Seq("nib"), "left")
        .select(col("nib"),
          sum(coalesce(col("new_docs"), lit(0L))).over(w).as("n_docs"),
          sum(coalesce(col("new_tokens"), lit(0L))).over(w).as("n_tokens"),
          sum(coalesce(col("new_vocab"), lit(0L))).over(w).as("vocab"))
        .orderBy("nib")
    }),

    // TOKEN BURSTINESS (Church & Gale): content words CLUMP — when a
    // document mentions a topic word it mentions it repeatedly —
    // while function words spread evenly. burst = tf/df (mean
    // occurrences per containing doc, exact micro-integer) separates
    // the two: high burst = topical/template vocabulary (the term
    // worth indexing or the boilerplate worth killing), burst ≈ 1 =
    // glue. Support floor tf ≥ 10 keeps hapax noise out; top-25 rides
    // a TakeOrdered bounded heap over the vocab-bounded stats frame.
    // CROSS-LANGUAGE VOCABULARY OVERLAP — the multilingual corpus
    // diagnostic behind script/language-routing decisions and
    // cross-lingual leakage checks: the Jaccard of each language
    // pair's vocabularies (word TYPES, not tokens). High overlap
    // between nominally distinct languages flags shared boilerplate,
    // code-switching, or mislabeled langid — exactly the state of
    // this synthetic corpus, where every language shares the same
    // jargon vocabulary and the matrix says so. One distinct
    // (lang, word) frame (checkpointed), a word-keyed self-join for
    // intersections (posting-bounded: a word joins only the ≤langs
    // rows that share it), sizes broadcast back; langs²-bounded
    // output, integer ppm.
    "ta_vocab_overlap" -> ((s, dir) => {
      val v = Tables.documents(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .distinct()
        .localCheckpoint(false)
      val sizes = v.groupBy("lang").agg(count(lit(1)).as("n"))
      val inter = v.as("a").join(v.as("b"),
          col("a.w") === col("b.w") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sizes.select(col("lang").as("lang_a"),
          col("n").as("na"))), "lang_a")
        .join(broadcast(sizes.select(col("lang").as("lang_b"),
          col("n").as("nb"))), "lang_b")
        .select(col("lang_a"), col("lang_b"), col("n_common"),
          col("na"), col("nb"),
          expr("(n_common * 1000000) DIV (na + nb - n_common)")
            .as("jaccard_ppm"))
        .orderBy("lang_a", "lang_b")
    }),

    // WEIGHTED-LEXICON SCORING — the operator shape behind sentiment,
    // toxicity, and safety-wordlist scoring (AFINN/VADER's additive
    // core, Hutto & Gilbert 2014, minus the float valence): tokens
    // join a broadcast (word, weight) dictionary, per-doc score =
    // the integer weight sum, verdict = its sign. The dictionary here
    // weights the corpus's own performance adjectives (fast/slow/
    // big/small/dup) so the operator exercises real hits; swapping
    // the wordlist swaps the classifier, the plan is invariant. At
    // 100 TB the lexicon is always broadcast-scale by construction
    // (dictionaries are thousands of rows) and the join is map-side;
    // one explode, one aggregation, no shuffle beyond the doc key.
    "ta_lexicon_score" -> ((s, dir) => {
      import s.implicits._
      val lex = LexiconWeights.toSeq.toDF("w", "wt")
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"), lower(col("tok")).as("w"))
        .join(broadcast(lex), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("wt").isNotNull, 1L).otherwise(0L)).as("n_hits"),
          sum(coalesce(col("wt"), lit(0L))).as("score"))
        .withColumn("verdict",
          when(col("score") > 0, "pos").when(col("score") < 0, "neg")
            .otherwise("neu"))
        .orderBy("doc_id")
    }),

    // SIMPSON LEXICAL DIVERSITY — the pure-rational member of the
    // diversity family (Simpson 1949): the probability two tokens
    // drawn without replacement from a document are the SAME type,
    // Σc(c−1) / (n(n−1)) in ppm. Entropy needs a log; Simpson is
    // integer cross-multiplication end to end, so unlike ta_lang_entropy
    // it rides the cross-engine contract with zero fixed-point
    // machinery — and as a repeat-probability it is the
    // template-boilerplate signal TTR (n_types/n) is insensitive to
    // on long docs. Per doc: token/type counts + simpson_ppm (0 when
    // n < 2; numerator ≤ n² so BIGINT holds to ~3e9 tokens/doc). One
    // explode into two map-side-combined aggregations, doc-keyed.
    "ta_simpson" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(expr("c * (c - 1)")).as("rep2"))
        .withColumn("simpson_ppm", expr(
          "CASE WHEN n_tokens >= 2 THEN (rep2 * 1000000) DIV " +
            "(n_tokens * (n_tokens - 1)) ELSE 0L END"))
        .select("doc_id", "n_tokens", "n_types", "simpson_ppm")
        .orderBy("doc_id")
    }),

    "ta_burstiness" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("w").agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
          max(col("c")).as("max_in_doc"))
        .filter(col("tf") >= 10)
        .withColumn("burst_micro", expr(
          "CAST((CAST(tf AS DECIMAL(38,0)) * 1000000) DIV df AS BIGINT)"))
        .orderBy(col("burst_micro").desc, col("w").asc)
        .limit(25)
    }),

    // CODE-VS-PROSE DETECTION — the training-mix router every LLM
    // corpus needs before language-specific handling: integer counts
    // of code-significant characters (braces/semicolons/operators)
    // and digits, cross-multiplied to basis points of the doc length,
    // with the verdict an integer threshold (≥ 150 bp of code chars).
    // The signals are the standard fastText-router features in their
    // rule form; all string ops, one codegen scan, no shuffle.
    "ta_code_detect" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .withColumn("code_chars",
          (col("len") - length(regexp_replace(col("text"),
            lit("[{};=()<>\\[\\]]"), lit("")))).cast("long"))
        .withColumn("digit_chars",
          (col("len") - length(regexp_replace(col("text"),
            lit("[0-9]"), lit("")))).cast("long"))
      d.select(col("doc_id"), col("len").cast("long").as("n_chars"),
          col("code_chars"), col("digit_chars"),
          when(col("len") > 0, expr("code_chars * 10000 DIV len"))
            .otherwise(lit(0L)).as("code_bp"),
          when(col("len") > 0, expr("digit_chars * 10000 DIV len"))
            .otherwise(lit(0L)).as("digit_bp"))
        .withColumn("is_code", (col("code_bp") >= 150).cast("int"))
        .orderBy("doc_id")
    }),

    // FLESCH–KINCAID READABILITY — the classic document-difficulty
    // feature (grade = 0.39·words/sentences + 11.8·syllables/words
    // − 15.59) every quality-scoring stack carries next to the Gopher
    // integer gates: the counts are pure integers (sentences by the
    // ta_sentences terminal-punctuation rule, words by the W1
    // tokenizer, syllables as vowel GROUPS [aeiouy]+ per word with a
    // 1-per-word floor — the standard heuristic), and the grade
    // itself is two exactly-rounded IEEE divisions + products (the
    // determinism doctrine's carve-out; no transcendental). One
    // narrow scan, all inside whole-stage codegen — no shuffle at
    // all until the presentation sort.
    "ta_readability" -> ((s, dir) => {
      val sents = filter(
        transform(split(col("text"), "[.!?]+", -1), x => trim(x)),
        x => x =!= "")
      val syl = (t: org.apache.spark.sql.Column) =>
        greatest(size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0))), lit(1))
      Tables.documents(s, dir)
        .select(col("doc_id"), size(sents).cast("long").as("n_sents"),
          tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          col("n_sents"),
          coalesce(aggregate(transform(col("toks"), t => syl(t).cast("long")),
            lit(0L), (a, x) => a + x), lit(0L)).as("n_syllables"))
        .withColumn("fk4",
          when(col("n_words") > 0 && col("n_sents") > 0,
            round(lit(0.39) * (col("n_words").cast("double") / col("n_sents"))
              + lit(11.8) * (col("n_syllables").cast("double") / col("n_words"))
              - lit(15.59), 4))
            .otherwise(lit(0.0)))
        .orderBy("doc_id")
    }),

    // Compression-ratio quality signal (the RefinedWeb/Gopher-family
    // redundancy gate): deflated size / raw size per document — very
    // low ratios flag templated or repeated text, very high ones
    // random noise. One java.util.zip.Deflater per PARTITION, reset
    // per row (the native zlib stream allocates ~256 KB; per-row
    // construction would dominate), output counted straight off the
    // deflate loop with a reused buffer — nothing text-sized survives
    // the map. DuckDB has no deflate, so the oracle records a
    // rows-only check; byte-exact determinism, the round trip through
    // Inflater, and the redundant-vs-noisy ordering are pinned in
    // CompressRatioSpec (same exemption class as the sketches).
    // Round 11: the zlib exemption gets the mm_decode_jpeg sidecar
    // treatment — the first execution per (session, dir) ALSO pins
    // its result as a sidecar parquet, and the DuckDB oracle joins
    // that pin against ARITHMETIC byte lengths from the documents
    // table, recomputing ratio4 in SQL. The deflate byte count
    // itself stays codec-defined (pinned for determinism + repeat
    // integrity); n_bytes and the division/rounding are genuinely
    // cross-engine. CompressRatioSpec's byte-exact reference pins
    // remain on top.
    "ta_compress_ratio" -> ((s, dir) => {
      graft.Scratch.pin("ta_compress_ratio", graft.CacheRegistry.cached[String](
          deflateCache, s, dir, "deflateSidecar") {
        val p = graft.Scratch.process(dir, "deflate_pin")
        compressRatioOf(s, dir).write.mode("overwrite").parquet(p)
        p
      })
      compressRatioOf(s, dir) // FRESH — the bench row measures deflate
    }),

    // Positional tokenization: (doc, position, token) rows — the
    // layout feeding positional indexes and n-gram-with-offset
    // features. posexplode keeps the array index (0-based) alongside
    // each element; a narrow per-doc transform, embarrassingly
    // parallel.
    "ta_posexplode" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .select(col("doc_id"), col("pos").cast("int").as("pos"), col("col").as("word"))
        .orderBy("doc_id", "pos")
    }),

    // Rolling-hash fingerprint via the native codegen Expression
    // (graft.functions.RollingHash). The DuckDB oracle replays the
    // same 64-bit wraparound fold in HUGEINT arithmetic mod 2^64
    // (list_reduce over the char codes — the corpus is all-ASCII, so
    // code point = UTF-8 byte); exactness against a reference JVM fold
    // is additionally pinned by RollingHashSpec.
    "ta_rolling_fp" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.RollingHash.rolling_hash(col("text")).as("rfp"))
        .orderBy("doc_id")
    }),

    // One BPE merge-learning iteration: the most frequent adjacent
    // character pairs over the corpus, weighted by word frequency —
    // the inner step of tokenizer training at corpus scale. State is
    // bounded by vocabulary × word length (pair counts), never corpus
    // size: one word-count aggregation, one pair explode over the
    // VOCABULARY (not the corpus), TakeOrderedAndProject for the
    // top-10, rank assigned inside that 10-row frame only.
    "ta_bpe_merge" -> ((s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("wc"))
      val pairs = wc.filter(length(col("word")) >= 2)
        .select(col("wc"), explode(
          expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("pair")).limit(10)
      import org.apache.spark.sql.expressions.Window
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("pair"))))
        .select(col("rank").cast("int").as("rank"), col("pair"), col("cnt"))
        .orderBy("rank")
    }),

    // (bpeTrain holds the shared loop body for ta_bpe_train and
    // ta_bpe_encode — see its doc below.)
    //
    // The full BPE training loop — BpeTrainRounds chained iterations
    // of ta_bpe_merge's inner step, each one: count adjacent symbol
    // pairs over the VOCABULARY (weighted by word frequency, never
    // corpus-sized state), pick the single most frequent pair
    // (deterministic ties: cnt desc, then both symbols), then re-
    // segment every word by merging that pair leftmost-greedy
    // non-overlapping (the standard BPE merge; an `aggregate` HOF fold
    // whose accumulator-tail check implements exactly the greedy
    // scan). Output = the learned merges table, the artifact a
    // tokenizer trainer actually produces. The oracle mirrors the loop
    // as unrolled CTEs with the greedy merge done positionally
    // (run-parity selection — equivalent to the fold: matches can only
    // overlap when s1 = s2, where greedy takes every other one).
    "ta_bpe_train" -> ((s, dir) => {
      val (merges, _) = bpeTrain(s, dir)
      merges
        .select(col("iter").cast("int").as("iter"), col("s1"), col("s2"),
          concat(col("s1"), col("s2")).as("merged"), col("cnt"))
        .orderBy("iter")
    }),

    // BPE ENCODE with the trained merges — the serving half of
    // ta_bpe_train: after the fixed merge rounds, each vocabulary
    // word's final symbol array IS its encoding, so encoding the
    // corpus is the word-frequency-weighted aggregation of that
    // vocab-sized frame (the corpus never re-tokenizes row by row —
    // the segmentation map is vocabulary-sized and would broadcast to
    // the token stream at 100 TB). Output: the effective symbol
    // vocabulary with corpus occurrence counts and word coverage —
    // what a tokenizer ships alongside its merges table.
    "ta_bpe_encode" -> ((s, dir) => {
      val (_, syms) = bpeTrain(s, dir)
      syms.select(col("word"), col("wc"), explode(col("syms")).as("sym"))
        .groupBy("sym")
        .agg(sum(col("wc")).as("n_occ"),
          countDistinct(col("word")).as("n_words"))
        .orderBy("sym")
    }),

    // TOKENIZER FERTILITY — the cost metric a trained tokenizer is
    // judged by: symbols emitted per word occurrence (fertility ≈ 1
    // means words survive whole; high fertility inflates sequence
    // length and training cost linearly). Corpus-weighted off the
    // SAME trained segmentation ta_bpe_encode ships: Σ wc·|syms| over
    // Σ wc in exact micro, plus the vocab-level shape numbers
    // (single-symbol word share, worst split). All integers; the
    // vocab-sized frame is the only input.
    "ta_bpe_fertility" -> ((s, dir) => {
      val (_, syms) = bpeTrain(s, dir)
      syms.select(col("wc"), size(col("syms")).cast("long").as("ns"))
        .agg(count(lit(1)).as("n_vocab_words"),
          sum(col("wc")).as("n_word_occ"),
          sum(col("wc") * col("ns")).as("n_symbol_occ"),
          sum(when(col("ns") === 1, 1L).otherwise(0L)).as("n_whole_words"),
          max(col("ns")).as("max_split"))
        .withColumn("fertility_micro",
          expr("CAST((CAST(n_symbol_occ AS DECIMAL(38,0)) * 1000000) " +
            "DIV n_word_occ AS BIGINT)"))
    }),

    // Exact per-language heavy hitters (vocabulary-building gate):
    // tokens holding ≥0.5% of their language's token mass, as an
    // integer cross-multiplication. One corpus-scan aggregation; the
    // per-language totals are a tiny rollup OF THE COUNTS (no second
    // scan) joined back by broadcast.
    "ta_heavy_hitters" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
        // consumed by both the hitter filter and the totals rollup —
        // materialize the (lang, vocab)-bounded frame once instead of
        // re-running the corpus explode+agg per leg
        .localCheckpoint(false)
      val totals = counts.groupBy("lang").agg(sum(col("cnt")).as("total"))
      counts.join(broadcast(totals), "lang")
        .filter(col("cnt") * 200 >= col("total"))
        .select("lang", "word", "cnt", "total")
        .orderBy("lang", "word")
    }),

    // AHO-CORASICK BLOCKLIST SCAN — multi-pattern substring counting
    // in ONE text pass (Aho & Corasick 1975): the banned-phrase /
    // PII-lexicon / contamination-probe filter every corpus pipeline
    // runs, where the naive plan scans the corpus once PER PATTERN
    // and the automaton scans it once TOTAL. The pattern set nests
    // deliberately ("scan" ⊃ "can" ⊃ "an"; "data" ⊃ "ta" ⊃ "a") so
    // the dictionary-suffix output links — the part naive substring
    // code gets wrong — are load-bearing, and matching is substring-
    // level and OVERLAPPING, exactly what the brute-force positional
    // oracle counts. The automaton builds once per PARTITION inside
    // mapPartitions (never serialized, amortized over every row the
    // task scans — at 100 TB, once per task for millions of docs);
    // justified as a narrow map for the same reason as the codecs: no
    // Catalyst expression walks a failure-link automaton.
    "ta_aho_corasick" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions { it =>
          val ac = new graft.functions.AhoCorasick(AcPatterns)
          it.flatMap { case (id, text) =>
            val c = ac.countMatches(text)
            AcPatterns.indices.iterator
              .filter(c(_) > 0)
              .map(i => (id, AcPatterns(i), c(i)))
          }
        }
        .toDF("doc_id", "pattern", "n_matches")
        .orderBy("doc_id", "pattern")
    }),

    // LLM-WATERMARK DETECTION (Kirchenbauer et al. 2023) — the
    // greenlist test a training pipeline runs to keep WATERMARKED
    // MODEL OUTPUT out of the next model's corpus: a watermarking
    // decoder biases token t+1 toward a pseudorandom "green" half of
    // the vocabulary seeded by token t, so watermarked text shows a
    // green fraction ≫ ½ while human text sits at ½. The detector is
    // exact integer: a bigram is green iff md5(w1|w2) starts below
    // nibble 8 (a deterministic 50% split seeded by the previous
    // token — the md5-parity arm discipline), and the one-proportion
    // z² against ½ is (2·n_green − n)²·10⁹ DIV n in nano with the
    // χ²(1) α=0.001 critical value 10.827566 as a fixed literal (the
    // ev_ab_srm idiom). This corpus is human-shaped, so the flag
    // stays quiet — the spec plants a constructed watermarked doc
    // and demands it fires. One token pass, per-doc aggregation, no
    // shuffle beyond the doc key.
    "ta_watermark_score" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.WordShingles.word_shingles(col("text"), 2))
            .as("bg"))
        .withColumn("green",
          when(substring(md5(regexp_replace(col("bg"), " ", "|")), 1, 1)
            < "8", 1L).otherwise(0L))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pairs"), sum(col("green")).as("n_green"))
        .withColumn("green_ppm", expr("(n_green * 1000000) DIV n_pairs"))
        .withColumn("z2_nano", expr(
          "CAST(CAST(2 * n_green - n_pairs AS DECIMAL(38,0)) " +
            "* (2 * n_green - n_pairs) * 1000000000 DIV n_pairs AS BIGINT)"))
        .withColumn("watermark_suspect",
          col("z2_nano") > lit(10827566000L) && col("n_green") * 2 > col("n_pairs"))
        .orderBy("doc_id")
    }),

    // BEST-PASSAGE SELECTION (SumBasic scoring, Nenkova &
    // Vanderwende 2005, over fixed 16-token chunks — this corpus has
    // no sentence punctuation, and fixed-size chunks ARE the RAG
    // passage unit anyway): chunk score = mean corpus-frequency of
    // its tokens in exact micro (Σ pm DIV n — the "pick the passage
    // made of central words" extractive heuristic), argmax chunk per
    // doc with the earliest-chunk tie break. Dataflow: one token
    // pass into the vocabulary-bounded prob frame (pm = cnt·10⁶ DIV
    // total — broadcast), one posexplode with chunk = pos DIV 16,
    // one grouped mean, one per-doc argmax window (partitioned by
    // doc — never global). Everything integer until the reader.
    "ta_best_passage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      val counts = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // prob frame read by totals + join
      val total = counts.agg(sum(col("cnt")).as("total"))
      val probs = counts.crossJoin(broadcast(total))
        // corpus token counts × 10⁶ clear int64 at ~9.2e12 tokens —
        // inside the 100 TB domain, so the cross-multiply rides
        // DECIMAL(38,0)
        .select(col("word"), expr(
          "CAST((CAST(cnt AS DECIMAL(38,0)) * 1000000) DIV total " +
            "AS BIGINT)").as("pm"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_micro").desc, col("chunk_idx").asc)
      toks.withColumn("chunk_idx", expr("pos DIV 16"))
        .join(broadcast(probs), "word")
        .groupBy("doc_id", "chunk_idx")
        .agg(count(lit(1)).as("n_tokens"), sum(col("pm")).as("spm"))
        .withColumn("score_micro", expr("spm DIV n_tokens"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          col("n_tokens"), col("score_micro"))
        .orderBy("doc_id")
    })
  )

  private val toksSql = OracleSql.toks

  /** ta_aho_corasick blocklist: nested patterns ("scan" ⊃ "can" ⊃
    * "an", "data" ⊃ "ta" ⊃ "a") so dictionary-suffix output links are
    * exercised on every match.
    */
  val AcPatterns: Vector[String] =
    Vector("a", "an", "can", "data", "scan", "ta")

  private val deflateCache = graft.CacheRegistry.newCache()

  /** The ta_compress_ratio pipeline body (per-doc deflate census),
    * run fresh by the query and once more at sidecar-pin time.
    */
  private def compressRatioOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_SPEED, false)
        // free zlib native memory when the TASK completes, not when
        // the iterator drains — an early-terminating consumer
        // (limit/take/show) never exhausts the iterator and would
        // leak ~256 KB of native state per task until the Cleaner
        // runs
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit](_ => d.end())
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          d.reset(); d.setInput(bytes); d.finish()
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          (id, bytes.length.toLong, n)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflated")
      .withColumn("ratio4",
        when(col("n_bytes") === 0, lit(null))
          .otherwise(round(col("n_deflated").cast("double") / col("n_bytes"), 4)))
      .orderBy("doc_id")
  }
  private def hitsSql(ws: Seq[String]) =
    s"len(list_filter(t, x -> list_contains(${sqlList(ws)}, x)))"

  /** DuckDB mirror of ta_bpe_train: symbol arrays bs0 (per-char), then
    * [[BpeTrainRounds]] unrolled rounds of pair-count (bp) → best pair
    * (bb) → greedy-merge positions (bm: run-parity — matches only
    * overlap when s1 = s2, where leftmost-greedy takes every other
    * position of each consecutive run) → re-segmented arrays (bs).
    */
  private val bpeTrainCtes: String = {
    val head =
      s"""w2 AS (SELECT unnest($toksSql) AS word FROM documents),
         |wc2 AS (SELECT word, count(*) AS wc FROM w2 GROUP BY word),
         |bs0 AS (
         |  SELECT word, wc,
         |    list_transform(range(1, length(word) + 1),
         |      i -> substring(word, CAST(i AS INT), 1)) AS syms
         |  FROM wc2)""".stripMargin
    val rounds = (1 to BpeTrainRounds).map { r =>
      val prev = s"bs${r - 1}"
      s"""bp$r AS (
         |  SELECT syms[CAST(i AS INT)] AS s1, syms[CAST(i + 1 AS INT)] AS s2,
         |    CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (SELECT wc, syms, unnest(range(1, len(syms))) AS i FROM $prev)
         |  GROUP BY 1, 2),
         |bb$r AS (SELECT s1, s2, cnt FROM bp$r ORDER BY cnt DESC, s1, s2 LIMIT 1),
         |bm$r AS (
         |  SELECT word, p FROM (
         |    SELECT word, p,
         |      row_number() OVER (PARTITION BY word, grp ORDER BY p) AS rix
         |    FROM (
         |      SELECT word, p,
         |        p - row_number() OVER (PARTITION BY word ORDER BY p) AS grp
         |      FROM (
         |        SELECT word, unnest(range(1, len(syms))) AS p, syms FROM $prev)
         |      WHERE syms[CAST(p AS INT)] = (SELECT s1 FROM bb$r)
         |        AND syms[CAST(p + 1 AS INT)] = (SELECT s2 FROM bb$r)))
         |  WHERE rix % 2 = 1),
         |bs$r AS (
         |  SELECT t.word, t.wc,
         |    list(CASE WHEN sm.p IS NOT NULL
         |              THEN t.syms[CAST(t.i AS INT)] || t.syms[CAST(t.i + 1 AS INT)]
         |              ELSE t.syms[CAST(t.i AS INT)] END ORDER BY t.i) AS syms
         |  FROM (SELECT word, wc, syms, unnest(range(1, len(syms) + 1)) AS i
         |        FROM $prev) t
         |  LEFT JOIN bm$r sm ON t.word = sm.word AND t.i = sm.p
         |  LEFT JOIN bm$r sp ON t.word = sp.word AND t.i - 1 = sp.p
         |  WHERE sp.p IS NULL
         |  GROUP BY t.word, t.wc)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** Assembled at ACCESS time: ta_compress_ratio's oracle reads the
    * sidecar parquet THIS process pinned ([[graft.Scratch.pin]] —
    * graft.Verify runs every query, which pins it, before dumping
    * oracle_sql.json; without a run the path does not exist and
    * DuckDB fails loudly): n_bytes and ratio4 recompute
    * ARITHMETICALLY from the documents table, only the deflate byte
    * count rides the pin.
    */
  def oracleSql: Map[String, String] = staticOracleSql +
    ("ta_compress_ratio" ->
      s"""WITH sc AS (SELECT * FROM
         |  read_parquet('${graft.Scratch.pinned("ta_compress_ratio")}/*.parquet'))
         |SELECT d.doc_id,
         |  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
         |  sc.n_deflated,
         |  CASE WHEN octet_length(encode(d.text)) = 0 THEN NULL
         |    ELSE round(CAST(sc.n_deflated AS DOUBLE)
         |      / octet_length(encode(d.text)), 4) END AS ratio4
         |FROM documents d JOIN sc ON sc.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin)

  private val staticOracleSql: Map[String, String] = Map(
    "ta_bpe_train" -> {
      val legs = (1 to BpeTrainRounds).map { r =>
        s"SELECT CAST($r AS INT) AS iter, s1, s2, s1 || s2 AS merged, cnt FROM bb$r"
      }
      s"""WITH $bpeTrainCtes
         |SELECT * FROM (
         |${legs.mkString("\nUNION ALL\n")})
         |ORDER BY iter""".stripMargin
    },
    // The encode oracle reads the LAST re-segmented CTE (bs{N}): each
    // word's final symbol array is its encoding.
    "ta_bpe_encode" ->
      s"""WITH $bpeTrainCtes
         |SELECT sym,
         |  CAST(sum(wc) AS BIGINT) AS n_occ,
         |  CAST(count(DISTINCT word) AS BIGINT) AS n_words
         |FROM (SELECT word, wc, unnest(syms) AS sym FROM bs$BpeTrainRounds)
         |GROUP BY sym ORDER BY sym""".stripMargin,
    // Same trained chain; fertility off the final segmentation.
    "ta_bpe_fertility" ->
      s"""WITH $bpeTrainCtes
         |SELECT count(*)::BIGINT AS n_vocab_words,
         |  CAST(sum(wc) AS BIGINT) AS n_word_occ,
         |  CAST(sum(wc * len(syms)) AS BIGINT) AS n_symbol_occ,
         |  CAST(sum(CASE WHEN len(syms) = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_whole_words,
         |  CAST(max(len(syms)) AS BIGINT) AS max_split,
         |  CAST((CAST(sum(wc * len(syms)) AS HUGEINT) * 1000000)
         |    // sum(wc) AS BIGINT)
         |    AS fertility_micro
         |FROM bs$BpeTrainRounds""".stripMargin,
    "ta_bpe_merge" ->
      s"""WITH w AS (SELECT unnest($toksSql) AS word FROM documents),
         |wc AS (SELECT word, count(*) AS wc FROM w GROUP BY word),
         |p AS (
         |  SELECT substring(word, CAST(i AS INT), 2) AS pair,
         |    CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM wc, UNNEST(range(1, length(word))) AS u(i)
         |  WHERE length(word) >= 2 GROUP BY pair),
         |top AS (
         |  SELECT pair, cnt FROM p ORDER BY cnt DESC, pair LIMIT 10)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank,
         |  pair, cnt
         |FROM top ORDER BY rank""".stripMargin,
    "ta_heavy_hitters" ->
      s"""WITH w AS (
         |  SELECT lang, unnest($toksSql) AS word FROM documents),
         |c AS (SELECT lang, word, count(*) AS cnt FROM w GROUP BY lang, word),
         |t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS total FROM c GROUP BY lang)
         |SELECT c.lang, c.word, c.cnt, t.total
         |FROM c JOIN t ON c.lang = t.lang
         |WHERE c.cnt * 200 >= t.total
         |ORDER BY c.lang, c.word""".stripMargin,
    "ta_langid" ->
      s"""SELECT lang, pred_lang, count(*) AS n_docs FROM (
         |  SELECT lang,
         |    CASE
         |      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |      WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |      WHEN s_fr >= s_zh THEN 'fr'
         |      ELSE 'zh' END AS pred_lang
         |  FROM (
         |    SELECT lang,
         |      ${hitsSql(stopEn)} AS s_en, ${hitsSql(stopDe)} AS s_de,
         |      ${hitsSql(stopEs)} AS s_es, ${hitsSql(stopFr)} AS s_fr,
         |      ${hitsSql(stopZh)} AS s_zh
         |    FROM (SELECT lang, $toksSql AS t FROM documents)))
         |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    "ta_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_obs,
         |  CAST(sum_len AS DOUBLE) / len(t) AS avg_token_len,
         |  CAST(n_stop AS DOUBLE) / len(t) AS stop_ratio,
         |  CAST(least(len(t), 100) AS DOUBLE) / 100.0 * 0.4
         |    + CAST(n_stop AS DOUBLE) / len(t) * 0.3
         |    + CASE WHEN CAST(sum_len AS DOUBLE) / CAST(len(t) AS DOUBLE)
         |                BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.1 END
         |    AS quality_score
         |FROM (
         |  SELECT doc_id, text, t,
         |    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len,
         |    CAST(${hitsSql(stopEn)} AS BIGINT) AS n_stop
         |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "ta_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
         |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re_tokens,
         |  CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr
         |FROM (SELECT doc_id, text, $toksSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "ta_langid_mixed" -> {
      def h(tn: String, ws: Seq[String]) =
        s"len(list_filter($tn, x -> list_contains(${sqlList(ws)}, x)))"
      def scores(p: String, tn: String) = Seq(
        s"${h(tn, stopEn)} AS ${p}_en", s"${h(tn, stopDe)} AS ${p}_de",
        s"${h(tn, stopEs)} AS ${p}_es", s"${h(tn, stopFr)} AS ${p}_fr",
        s"${h(tn, stopZh)} AS ${p}_zh").mkString(",\n      ")
      def predSql(p: String) =
        s"""CASE
           |      WHEN ${p}_en >= ${p}_de AND ${p}_en >= ${p}_es
           |       AND ${p}_en >= ${p}_fr AND ${p}_en >= ${p}_zh THEN 'en'
           |      WHEN ${p}_de >= ${p}_es AND ${p}_de >= ${p}_fr
           |       AND ${p}_de >= ${p}_zh THEN 'de'
           |      WHEN ${p}_es >= ${p}_fr AND ${p}_es >= ${p}_zh THEN 'es'
           |      WHEN ${p}_fr >= ${p}_zh THEN 'fr'
           |      ELSE 'zh' END""".stripMargin
      s"""SELECT pred_first, pred_second, count(*) AS n_docs FROM (
         |  SELECT ${predSql("a")} AS pred_first,
         |    ${predSql("b")} AS pred_second
         |  FROM (
         |    SELECT
         |      ${scores("a", "t1")},
         |      ${scores("b", "t2")}
         |    FROM (
         |      SELECT list_slice(t, 1, len(t) // 2) AS t1,
         |        list_slice(t, len(t) // 2 + 1, len(t)) AS t2
         |      FROM (SELECT $toksSql AS t FROM documents))))
         |GROUP BY 1, 2 ORDER BY pred_first, pred_second""".stripMargin
    },
    "ta_sentences" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
        |      x -> x <> '') AS sents
        |  FROM documents)
        |SELECT doc_id, CAST(len(sents) AS INT) AS n_sentences,
        |  CAST(coalesce(list_sum(list_transform(sents, x -> length(x))), 0)
        |    AS BIGINT) AS sum_sent_chars,
        |  CAST(coalesce(list_max(list_transform(sents, x -> length(x))), 0)
        |    AS INT) AS max_sent_chars
        |FROM s ORDER BY doc_id""".stripMargin,
    // Min-nibble attribution makes the cumulative vocabulary a
    // running sum; spine = range(16) so empty prefixes carry zeros.
    "ta_heaps_curve" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    strpos('0123456789abcdef',
         |      substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib,
         |    ${OracleSql.toks} AS toks
         |  FROM documents),
         |ds AS (
         |  SELECT nib, count(*)::BIGINT AS new_docs,
         |    CAST(sum(len(toks)) AS BIGINT) AS new_tokens
         |  FROM d GROUP BY 1),
         |va AS (
         |  SELECT nib, count(*)::BIGINT AS new_vocab FROM (
         |    SELECT w, min(nib) AS nib
         |    FROM (SELECT nib, unnest(toks) AS w FROM d)
         |    GROUP BY w)
         |  GROUP BY 1),
         |spine AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS nib)
         |SELECT s.nib,
         |  CAST(sum(COALESCE(ds.new_docs, 0)) OVER (ORDER BY s.nib
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs,
         |  CAST(sum(COALESCE(ds.new_tokens, 0)) OVER (ORDER BY s.nib
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_tokens,
         |  CAST(sum(COALESCE(va.new_vocab, 0)) OVER (ORDER BY s.nib
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
         |FROM spine s
         |LEFT JOIN ds ON s.nib = ds.nib
         |LEFT JOIN va ON s.nib = va.nib
         |ORDER BY s.nib""".stripMargin,
    "ta_vocab_overlap" ->
      s"""WITH v AS (
         |  SELECT DISTINCT lang, unnest(${OracleSql.toks}) AS w
         |  FROM documents),
         |sizes AS (SELECT lang, count(*)::BIGINT AS n FROM v GROUP BY 1),
         |inter AS (
         |  SELECT a.lang AS lang_a, b.lang AS lang_b,
         |    count(*)::BIGINT AS n_common
         |  FROM v a JOIN v b ON a.w = b.w AND a.lang < b.lang
         |  GROUP BY 1, 2)
         |SELECT i.lang_a, i.lang_b, i.n_common,
         |  sa.n AS na, sb.n AS nb,
         |  (i.n_common * 1000000) // (sa.n + sb.n - i.n_common)
         |    AS jaccard_ppm
         |FROM inter i
         |JOIN sizes sa ON sa.lang = i.lang_a
         |JOIN sizes sb ON sb.lang = i.lang_b
         |ORDER BY lang_a, lang_b""".stripMargin,
    "ta_lexicon_score" -> {
      val vals = LexiconWeights.toSeq.sortBy(_._1)
        .map { case (w, v) => s"('$w', $v)" }.mkString(", ")
      s"""WITH lex AS (
         |  SELECT w, CAST(wt AS BIGINT) AS wt
         |  FROM (VALUES $vals) AS v(w, wt)),
         |t AS (
         |  SELECT doc_id, lower(unnest(${OracleSql.toks})) AS w
         |  FROM documents),
         |d AS (
         |  SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
         |    CAST(sum(CASE WHEN lex.wt IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits,
         |    CAST(sum(COALESCE(lex.wt, 0)) AS BIGINT) AS score
         |  FROM t LEFT JOIN lex ON t.w = lex.w
         |  GROUP BY 1)
         |SELECT doc_id, n_tokens, n_hits, score,
         |  CASE WHEN score > 0 THEN 'pos' WHEN score < 0 THEN 'neg'
         |       ELSE 'neu' END AS verdict
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "ta_simpson" ->
      s"""WITH per_doc AS (
         |  SELECT doc_id, w, count(*)::BIGINT AS c
         |  FROM (SELECT doc_id, unnest(${OracleSql.toks}) AS w FROM documents)
         |  GROUP BY 1, 2),
         |d AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    count(*)::BIGINT AS n_types,
         |    CAST(sum(c * (c - 1)) AS BIGINT) AS rep2
         |  FROM per_doc GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types,
         |  CAST(CASE WHEN n_tokens >= 2
         |    THEN (rep2 * 1000000) // (n_tokens * (n_tokens - 1))
         |    ELSE 0 END AS BIGINT) AS simpson_ppm
         |FROM d ORDER BY doc_id""".stripMargin,
    "ta_burstiness" ->
      s"""WITH per_doc AS (
         |  SELECT doc_id, w, count(*)::BIGINT AS c
         |  FROM (SELECT doc_id, unnest(${OracleSql.toks}) AS w FROM documents)
         |  GROUP BY 1, 2),
         |stats AS (
         |  SELECT w, count(*)::BIGINT AS df,
         |    CAST(sum(c) AS BIGINT) AS tf,
         |    CAST(max(c) AS BIGINT) AS max_in_doc
         |  FROM per_doc GROUP BY 1)
         |SELECT w, df, tf, max_in_doc,
         |  CAST((CAST(tf AS HUGEINT) * 1000000) // df AS BIGINT) AS burst_micro
         |FROM stats WHERE tf >= 10
         |ORDER BY burst_micro DESC, w ASC LIMIT 25""".stripMargin,
    "ta_code_detect" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - length(regexp_replace(text, '[{};=()<>\[\]]', '', 'g'))
        |    AS BIGINT) AS code_chars,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |    AS BIGINT) AS digit_chars,
        |  CASE WHEN length(text) > 0 THEN CAST((length(text)
        |      - length(regexp_replace(text, '[{};=()<>\[\]]', '', 'g')))
        |      * 10000 // length(text) AS BIGINT) ELSE 0 END AS code_bp,
        |  CASE WHEN length(text) > 0 THEN CAST((length(text)
        |      - length(regexp_replace(text, '[0-9]', '', 'g')))
        |      * 10000 // length(text) AS BIGINT) ELSE 0 END AS digit_bp,
        |  CAST(CASE WHEN length(text) > 0 AND (length(text)
        |      - length(regexp_replace(text, '[{};=()<>\[\]]', '', 'g')))
        |      * 10000 // length(text) >= 150 THEN 1 ELSE 0 END AS INT) AS is_code
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same integer counts; the grade is the identical IEEE op tree.
    "ta_readability" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(
        |      list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)),
        |      x -> x <> '')) AS BIGINT) AS n_sents,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words, n_sents,
        |    CAST(coalesce(list_sum(list_transform(toks,
        |      x -> greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1))), 0)
        |      AS BIGINT) AS n_syllables
        |  FROM s)
        |SELECT doc_id, n_words, n_sents, n_syllables,
        |  CASE WHEN n_words > 0 AND n_sents > 0
        |    THEN round(0.39 * (CAST(n_words AS DOUBLE) / n_sents)
        |           + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
        |           - 15.59, 4)
        |    ELSE 0.0 END AS fk4
        |FROM c ORDER BY doc_id""".stripMargin,
    "ta_edit_distance" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INT) AS dist
        |FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
        |WHERE a.doc_id < 100 AND b.doc_id < 100
        |ORDER BY doc_a""".stripMargin,
    "ta_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT)
        |    AS n_bpe_tokens,
        |  CAST(length(text) AS DOUBLE)
        |    / len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'))
        |    AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_char_entropy" ->
      s"""WITH RECURSIVE hist AS MATERIALIZED (
         |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
         |        FROM documents)
         |  WHERE ch <> '' GROUP BY 1, 2),
         |nn AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_distinct
         |  FROM hist GROUP BY 1),
         |hrel AS (
         |  SELECT h.doc_id, h.ch, h.c, nn.n AS num, h.c AS den,
         |    nn.n, nn.n_distinct
         |  FROM hist h JOIN nn USING (doc_id)),
         |${OracleSql.log2microCtes("ce", "hrel", Seq("doc_id", "ch"))}
         |SELECT r.doc_id, max(r.n) AS n_chars,
         |  max(r.n_distinct) AS n_distinct,
         |  CAST(sum(r.c * lg.lrm) // max(r.n) AS BIGINT) AS h_micro
         |FROM hrel r
         |JOIN ce_lg lg ON lg.doc_id = r.doc_id AND lg.ch = r.ch
         |GROUP BY 1 ORDER BY r.doc_id""".stripMargin,
    "ta_burrows_delta" ->
      s"""WITH nt AS (
         |  SELECT doc_id, unnest($toksSql) AS word FROM documents),
         |docn AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS ntk FROM nt GROUP BY 1),
         |topw AS (
         |  SELECT word FROM (
         |    SELECT word, count(*) AS c FROM nt GROUP BY 1
         |    ORDER BY c DESC, word ASC LIMIT $DeltaWords)),
         |cw AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
         |  FROM nt GROUP BY 1, 2),
         |f AS MATERIALIZED (
         |  SELECT d.doc_id, t.word,
         |    (COALESCE(cw.c, 0) * 1000000) // d.ntk AS fp
         |  FROM docn d CROSS JOIN topw t
         |  LEFT JOIN cw ON cw.doc_id = d.doc_id AND cw.word = t.word),
         |st AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS d,
         |    CAST(sum(fp) AS BIGINT) AS s1,
         |    CAST(sum(CAST(fp AS HUGEINT) * fp) AS HUGEINT) AS s2
         |  FROM f GROUP BY 1),
         |stv AS (
         |  SELECT word, d, s1,
         |    d * s2 - CAST(s1 AS HUGEINT) * s1 AS varnum
         |  FROM st WHERE d * s2 - CAST(s1 AS HUGEINT) * s1 > 0)
         |SELECT f.doc_id,
         |  CAST(sum((CAST(f.fp * v.d - v.s1 AS HUGEINT) *
         |    (f.fp * v.d - v.s1) * 1000000) // v.varnum) AS BIGINT)
         |    AS delta2_micro,
         |  CAST(count(*) AS BIGINT) AS n_words
         |FROM f JOIN stv v USING (word)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "ta_vocab_coverage" ->
      s"""WITH counts AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest($toksSql) AS word FROM documents)
         |  GROUP BY 1),
         |cum AS (
         |  SELECT cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)
         |      AS rk,
         |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, word ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum,
         |    CAST(count(*) OVER () AS BIGINT) AS n_vocab,
         |    CAST(sum(cnt) OVER () AS BIGINT) AS n_tokens
         |  FROM counts),
         |ks AS (SELECT CAST(k AS BIGINT) AS vocab_k
         |  FROM UNNEST([4, 16, 64, 256]) AS u(k))
         |SELECT k.vocab_k,
         |  CAST(max(c.cum) AS BIGINT) AS tokens_covered,
         |  max(c.n_vocab) AS n_vocab, max(c.n_tokens) AS n_tokens,
         |  CAST((CAST(max(c.cum) AS HUGEINT) * 1000000) // max(c.n_tokens) AS BIGINT)
         |    AS coverage_ppm
         |FROM ks k JOIN cum c ON c.rk <= k.vocab_k
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ta_zipf" ->
      s"""WITH counts AS (
         |  SELECT w AS word, count(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  GROUP BY w),
         |topk AS (SELECT word, cnt FROM counts
         |         ORDER BY cnt DESC, word ASC LIMIT $ZipfK),
         |top AS (SELECT max(cnt) AS top_cnt FROM topk)
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS INT) AS rk,
         |  word, cnt, CAST(cnt AS DOUBLE) / top_cnt AS freq_ratio
         |FROM topk, top ORDER BY rk""".stripMargin,
    "ta_zipf_alpha" ->
      s"""WITH RECURSIVE counts AS (
         |  SELECT w AS word, count(*) AS cnt
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  GROUP BY w),
         |topk AS (
         |  SELECT word, CAST(cnt AS BIGINT) AS cnt,
         |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT) AS rk
         |  FROM counts ORDER BY cnt DESC, word ASC LIMIT ${graft.operators.TextAnalysis.ZipfK}),
         |xr AS (SELECT rk, rk AS num, CAST(1 AS BIGINT) AS den FROM topk),
         |${graft.operators.OracleSql.log2microCtes("zx", "xr", Seq("rk"))},
         |yr AS (SELECT rk, cnt AS num, CAST(1 AS BIGINT) AS den FROM topk),
         |${graft.operators.OracleSql.log2microCtes("zy", "yr", Seq("rk"))},
         |pts AS (
         |  SELECT zx_lg.rk, zx_lg.lrm AS x, zy_lg.lrm AS y
         |  FROM zx_lg JOIN zy_lg USING (rk)),
         |agg AS (
         |  SELECT count(*)::BIGINT AS n_ranks,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM pts)
         |SELECT n_ranks,
         |  (n_ranks * sxy - sx * sy)::BIGINT AS slope_num,
         |  (n_ranks * sxx - sx * sx)::BIGINT AS slope_den,
         |  CAST((-(n_ranks * sxy - sx * sy)::HUGEINT * 1000)
         |    // (n_ranks * sxx - sx * sx) AS BIGINT) AS alpha_milli
         |FROM agg""".stripMargin,
    "ta_doc_bits" ->
      s"""WITH RECURSIVE bg AS (
         |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t), 1))) AS u(i)
         |  WHERE len(t) >= 2),
         |cnt AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cnt GROUP BY 1),
         |mp AS (
         |  SELECT cnt.w1, cnt.w2,
         |    greatest(CAST((CAST(c12 AS HUGEINT) * 1000000) // c1 AS BIGINT), 1)
         |      AS num,
         |    CAST(1000000 AS BIGINT) AS den
         |  FROM cnt JOIN c1 USING (w1)),
         |${graft.operators.OracleSql.log2microCtes("bz", "mp", Seq("w1", "w2"))},
         |model AS (SELECT w1, w2, -lrm AS bits_micro FROM bz_lg)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(bits_micro) AS BIGINT) AS sum_bits_micro,
         |  CAST(CAST(sum(bits_micro) AS BIGINT) // count(*) AS BIGINT)
         |    AS mean_bits_micro
         |FROM bg JOIN model USING (w1, w2)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_doc_lm_score" ->
      s"""WITH bg AS (
         |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t), 1))) AS u(i)
         |  WHERE len(t) >= 2),
         |model AS (
         |  SELECT w1, w2,
         |    CAST((CAST(c12 AS HUGEINT) * 1000000)
         |      // CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT)
         |      AS BIGINT) AS microp
         |  FROM (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2))
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(microp) AS DOUBLE) / count(*) / 1000000.0 AS mean_bigram_p
         |FROM bg JOIN model USING (w1, w2)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_lang_entropy" ->
      s"""WITH RECURSIVE cnt AS (
         |  SELECT lang, w, count(*) AS c
         |  FROM (SELECT lang, unnest($toksSql) AS w FROM documents)
         |  GROUP BY 1, 2),
         |nl AS (
         |  SELECT lang, CAST(sum(c) AS BIGINT) AS n, count(*) AS vocab
         |  FROM cnt GROUP BY 1),
         |t0 AS (
         |  SELECT cnt.lang, cnt.w, c, n, vocab,
         |    CAST(c AS BIGINT) AS num, n AS den
         |  FROM cnt JOIN nl USING (lang)),
         |${graft.operators.OracleSql.log2microCtes("lz", "t0", Seq("lang", "w"))},
         |t AS (
         |  SELECT t0.lang, c, n, vocab, -lz_lg.lrm AS lnm
         |  FROM t0 JOIN lz_lg USING (lang, w))
         |SELECT lang, CAST(max(n) AS BIGINT) AS n_tokens,
         |  CAST(max(vocab) AS BIGINT) AS vocab,
         |  round(CAST(CAST(sum(c * lnm) AS BIGINT) AS DOUBLE) / max(n)
         |    / CAST(1000000.0 AS DOUBLE), 4) AS entropy4
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "ta_trigram_backoff" ->
      s"""WITH tg AS MATERIALIZED (
         |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
         |  WHERE len(t) >= 3),
         |tri AS MATERIALIZED (
         |  SELECT w1, w2, w3, count(*) AS c123 FROM tg
         |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
         |  GROUP BY 1, 2, 3),
         |b12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12 FROM tri GROUP BY 1, 2),
         |b23 AS (SELECT w2, w3, CAST(sum(c123) AS BIGINT) AS c23 FROM tri GROUP BY 1, 2),
         |u2 AS (SELECT w2, CAST(sum(c123) AS BIGINT) AS c2 FROM tri GROUP BY 1),
         |u3 AS (SELECT w3, CAST(sum(c123) AS BIGINT) AS c3 FROM tri GROUP BY 1),
         |tot AS (SELECT CAST(sum(c123) AS BIGINT) AS n FROM tri),
         |sc AS (
         |  SELECT tg.doc_id,
         |    CASE WHEN c123 IS NOT NULL THEN 3
         |         WHEN c23 IS NOT NULL THEN 2
         |         WHEN c3 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
         |    CASE WHEN c123 IS NOT NULL THEN
         |        CAST((CAST(c123 AS HUGEINT) * 1000000) // c12 AS BIGINT)
         |      WHEN c23 IS NOT NULL THEN (4 * CAST((CAST(c23 AS HUGEINT)
         |        * 1000000) // c2 AS BIGINT)) // 10
         |      WHEN c3 IS NOT NULL THEN (16 * CAST((CAST(c3 AS HUGEINT)
         |        * 1000000) // n AS BIGINT)) // 100
         |         ELSE 0 END AS microp
         |  FROM tg
         |  LEFT JOIN tri USING (w1, w2, w3)
         |  LEFT JOIN b12 USING (w1, w2)
         |  LEFT JOIN b23 USING (w2, w3)
         |  LEFT JOIN u2 USING (w2)
         |  LEFT JOIN u3 USING (w3), tot)
         |SELECT doc_id, count(*) AS n_tri, CAST(sum(microp) AS BIGINT) AS sum_microp,
         |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_l3,
         |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_l2,
         |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_l1,
         |  CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same bg/model chain as ta_doc_lm_score; `//` on non-negative
    // operands matches Spark DIV, and sum() casts back to BIGINT
    // before the division (DuckDB sums BIGINT into HUGEINT).
    "pipe_ppl_buckets" ->
      s"""WITH bg AS (
         |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t), 1))) AS u(i)
         |  WHERE len(t) >= 2),
         |model AS (
         |  SELECT w1, w2,
         |    CAST((CAST(c12 AS HUGEINT) * 1000000)
         |      // CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT)
         |      AS BIGINT) AS microp
         |  FROM (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2)),
         |sc AS (
         |  SELECT doc_id, count(*) AS nb,
         |    CAST(sum(microp) AS BIGINT) // count(*) AS m
         |  FROM bg JOIN model USING (w1, w2) GROUP BY doc_id),
         |tot AS (SELECT count(*) AS n FROM sc),
         |cumh AS (
         |  SELECT m, CAST(sum(c) OVER (ORDER BY m) AS BIGINT) AS cum
         |  FROM (SELECT m, count(*) AS c FROM sc GROUP BY m)),
         |th AS (
         |  SELECT min(CASE WHEN cum * 3 >= n THEN m END) AS t1,
         |         min(CASE WHEN cum * 3 >= n * 2 THEN m END) AS t2
         |  FROM cumh, tot)
         |SELECT bucket, count(*) AS n_docs, CAST(sum(nb) AS BIGINT) AS n_bigrams,
         |  min(m) AS min_microp, max(m) AS max_microp
         |FROM (
         |  SELECT CASE WHEN m <= t1 THEN 'tail'
         |              WHEN m <= t2 THEN 'middle'
         |              ELSE 'head' END AS bucket, nb, m
         |  FROM sc, th)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ta_inverted_index" ->
      s"""SELECT w AS word, count(*) AS df,
         |  array_to_string(list_sort(list(doc_id)), ',') AS postings
         |FROM (SELECT DISTINCT doc_id, unnest($toksSql) AS w FROM documents)
         |GROUP BY w ORDER BY word""".stripMargin,
    // DuckDB window sum(BIGINT) yields HUGEINT → explicit BIGINT cast.
    "ta_kn_bigram" ->
      s"""WITH bg AS (
         |  SELECT t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t), 1))) AS u(i)
         |  WHERE len(t) >= 2),
         |c2f AS MATERIALIZED (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS (
         |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n1u
         |  FROM c2f GROUP BY 1),
         |n1w AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1w FROM c2f GROUP BY 1),
         |n1all AS (SELECT CAST(count(*) AS BIGINT) AS n1all FROM c2f)
         |SELECT f.w1, f.w2, f.c2, c1.c1,
         |  CAST((CAST(3 * c1.n1u AS HUGEINT) * 1000000) // (4 * c1.c1)
         |    AS BIGINT) AS lambda_micro,
         |  CAST((CAST(greatest(4 * f.c2 - 3, 0) AS HUGEINT) * 1000000)
         |      // (4 * c1.c1)
         |    + (CAST((CAST(3 * c1.n1u AS HUGEINT) * 1000000) // (4 * c1.c1)
         |         AS HUGEINT)
         |       * CAST((CAST(n1w.n1w AS HUGEINT) * 1000000) // n1all.n1all
         |           AS HUGEINT)) // 1000000
         |    AS BIGINT) AS p_kn_micro
         |FROM c2f f
         |JOIN c1 ON c1.w1 = f.w1
         |JOIN n1w ON n1w.w2 = f.w2
         |CROSS JOIN n1all
         |WHERE f.c2 >= 3
         |ORDER BY f.w1, f.w2""".stripMargin,
    "ta_bigram_lm" ->
      s"""WITH bg AS (
         |  SELECT t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t), 1))) AS u(i)
         |  WHERE len(t) >= 2),
         |cnt AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |scored AS (
         |  SELECT w1, w2, c12,
         |    CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
         |    row_number() OVER (PARTITION BY w1 ORDER BY c12 DESC, w2 ASC) AS rk
         |  FROM cnt)
         |SELECT w1, w2, c12, c1, CAST(c12 AS DOUBLE) / c1 AS p, CAST(rk AS INT) AS rk
         |FROM scored WHERE rk <= 5 ORDER BY w1, rk""".stripMargin,
    // The identical DP, unrolled: one MATERIALIZED CTE round per
    // character position (the kcore/lloyd unroll discipline —
    // MATERIALIZED is load-bearing: round j is referenced by round
    // j+1 AND the running union, so inlining would re-evaluate the
    // whole chain exponentially).
    "ta_unigram_viterbi" -> {
      def round(j: Int) =
        s"""dp$j AS MATERIALIZED (
           |  SELECT c.doc_id, min(pr.s + 1000000 + v.rnk) AS s
           |  FROM (
           |    SELECT d.doc_id, substring(d.p, $j - u.l + 1, u.l) AS piece,
           |      $j - u.l AS prev
           |    FROM d, UNNEST([${(1 to VitMaxPieceLen).mkString(", ")}]) AS u(l)
           |    WHERE d.plen >= $j AND $j - u.l >= 0) c
           |  JOIN vocab v ON v.piece = c.piece
           |  JOIN a${j - 1} pr ON pr.doc_id = c.doc_id AND pr.j = c.prev
           |  GROUP BY c.doc_id),
           |a$j AS MATERIALIZED (
           |  SELECT * FROM a${j - 1}
           |  UNION ALL SELECT doc_id, $j AS j, s FROM dp$j)""".stripMargin
      s"""WITH d AS (
         |  SELECT doc_id, substring(text, 1, $VitMaxChars) AS p,
         |    length(substring(text, 1, $VitMaxChars)) AS plen
         |  FROM documents),
         |grams AS (
         |  SELECT substring(p, i, l) AS piece
         |  FROM d, UNNEST([${(2 to VitMaxPieceLen).mkString(", ")}]) AS ul(l),
         |       UNNEST(range(1, greatest(length(p) - l + 1, 0) + 1)) AS ui(i)),
         |top AS (
         |  SELECT piece, count(*)::BIGINT AS cnt FROM grams GROUP BY piece
         |  ORDER BY cnt DESC, piece LIMIT $VitVocabK),
         |sc AS (
         |  SELECT piece, count(*)::BIGINT AS cnt FROM (
         |    SELECT substring(p, i, 1) AS piece
         |    FROM d, UNNEST(range(1, length(p) + 1)) AS ui(i))
         |  GROUP BY piece),
         |vocab AS (
         |  SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece) AS rnk
         |  FROM (SELECT * FROM top UNION ALL SELECT * FROM sc)),
         |a0 AS (SELECT doc_id, 0 AS j, 0::BIGINT AS s FROM d),
         |${(1 to VitMaxChars).map(round).mkString(",\n")}
         |SELECT d.doc_id,
         |  CAST(a.s // 1000000 AS BIGINT) AS n_pieces,
         |  CAST(a.s % 1000000 AS BIGINT) AS rank_sum
         |FROM d JOIN a$VitMaxChars a ON a.doc_id = d.doc_id AND a.j = d.plen
         |ORDER BY d.doc_id""".stripMargin
    },
    // Same fixed-round micro-integer recursion as dd_pagerank
    // (GraphQueries.undirectedPrSql) over the window-2 co-occurrence
    // pairs.
    "ta_textrank" -> {
      val pairsSql =
        s"""SELECT DISTINCT least(a, b) AS doc_a, greatest(a, b) AS doc_b FROM (
           |    SELECT t[i] AS a, t[i + 1] AS b
           |    FROM (SELECT $toksSql AS t FROM documents),
           |         UNNEST(range(1, greatest(len(t), 1))) AS u(i)
           |    WHERE len(t) >= 2
           |    UNION ALL
           |    SELECT t[i] AS a, t[i + 2] AS b
           |    FROM (SELECT $toksSql AS t FROM documents),
           |         UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
           |    WHERE len(t) >= 3)
           |  WHERE a <> b""".stripMargin
      s"""WITH ${GraphQueries.undirectedPrSql(pairsSql)}
         |SELECT CAST(rk AS INT) AS rk, id AS word, CAST(pr AS BIGINT) AS pr_micro
         |FROM (SELECT id, pr, row_number() OVER (ORDER BY pr DESC, id ASC) AS rk
         |      FROM pr${GraphQueries.Iters})
         |WHERE rk <= $TextRankK ORDER BY rk""".stripMargin
    },
    // Classic soundex rebuilt RE2-safe — the shared
    // [[OracleSql.soundexSql]] reconstruction (one definition with
    // dd_er_blocking).
    "ta_soundex" ->
      s"""WITH w AS (
         |  SELECT unnest($toksSql) AS word FROM documents),
         |wf AS (
         |  SELECT word, count(*)::BIGINT AS n FROM w
         |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
         |sx AS (
         |  SELECT word, n, ${OracleSql.soundexSql("word")} AS sdx
         |  FROM wf)
         |SELECT sdx, count(*)::BIGINT AS n_words,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  min(word) AS first_word, max(word) AS last_word
         |FROM sx GROUP BY sdx ORDER BY sdx""".stripMargin,
    "ta_rake" ->
      s"""WITH toks AS (
         |  SELECT doc_id, i AS pos, t[i] AS w,
         |    CASE WHEN t[i] IN (${QualityQueries.Stopwords.map("'" + _ + "'").mkString(", ")})
         |         THEN 1 ELSE 0 END AS is_stop
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t), 0) + 1)) AS u(i)),
         |words AS (
         |  SELECT doc_id, pos, w,
         |    sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM toks QUALIFY is_stop = 0),
         |ph AS (
         |  SELECT doc_id, grp, count(*)::BIGINT AS plen,
         |    string_agg(w, ' ' ORDER BY pos) AS phrase
         |  FROM words GROUP BY doc_id, grp),
         |wsc AS (
         |  SELECT w, CAST(CAST(sum(plen) AS HUGEINT) * 1000000
         |    // count(*) AS BIGINT) AS wscore
         |  FROM words JOIN ph USING (doc_id, grp)
         |  GROUP BY w),
         |psc AS (
         |  SELECT doc_id, grp, CAST(sum(wscore) AS BIGINT) AS score_micro
         |  FROM words JOIN wsc USING (w) GROUP BY doc_id, grp)
         |SELECT phrase, count(*)::BIGINT AS n_occur,
         |  CAST(max(score_micro) AS BIGINT) AS score_micro
         |FROM psc JOIN ph USING (doc_id, grp)
         |WHERE plen <= $RakeMaxLen
         |GROUP BY phrase
         |ORDER BY score_micro DESC, phrase ASC LIMIT 10""".stripMargin,
    "ta_collocations" ->
      s"""WITH toks AS (SELECT unnest($toksSql) AS w FROM documents),
         |bg AS (
         |  SELECT t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t), 1))) AS u(i)
         |  WHERE len(t) >= 2),
         |uc AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w),
         |tot AS (SELECT (SELECT count(*) FROM toks)::BIGINT AS nt,
         |               (SELECT count(*) FROM bg)::BIGINT AS nb),
         |bc AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg
         |       GROUP BY 1, 2 HAVING count(*) >= $CollocMinSupport),
         |scored AS (
         |  SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
         |    ((CAST((CAST(c12 AS HUGEINT) * 1000000) // nb AS HUGEINT)
         |        * 1000000000000)
         |      // (CAST((CAST(u1.c AS HUGEINT) * 1000000) // nt AS HUGEINT)
         |         * CAST((CAST(u2.c AS HUGEINT) * 1000000) // nt AS HUGEINT))
         |    )::BIGINT AS lift_micro
         |  FROM bc, tot, uc u1, uc u2
         |  WHERE u1.w = bc.w1 AND u2.w = bc.w2)
         |SELECT w1, w2, c12, c1, c2, lift_micro FROM scored
         |WHERE lift_micro >= $CollocMinLiftMicro
         |ORDER BY lift_micro DESC, w1, w2""".stripMargin,
    // Multiplicity-preserving shingles (no DISTINCT — repetition IS
    // the signal); top shingle = min shingle among max-count ones.
    "ta_repetition" ->
      s"""WITH sh AS (
         |  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
         |  WHERE len(t) >= 3),
         |cnt AS (SELECT doc_id, shingle, count(*) AS rep FROM sh GROUP BY 1, 2),
         |mx AS (SELECT doc_id, max(rep) AS max_rep,
         |              count(*) AS n_distinct_shingles
         |       FROM cnt GROUP BY 1)
         |SELECT doc_id, max_rep, min(shingle) AS top_shingle, n_distinct_shingles
         |FROM cnt JOIN mx USING (doc_id)
         |WHERE rep = max_rep
         |GROUP BY doc_id, max_rep, n_distinct_shingles
         |ORDER BY doc_id""".stripMargin,
    // Ratio of integers rounded at 4dp (the dd_embed_cos rationale);
    // sums CAST to BIGINT against DuckDB's HUGEINT widening.
    "ta_dup_ngram_frac" ->
      s"""WITH sh AS (
         |  SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
         |  WHERE len(t) >= 3),
         |cnt AS (SELECT doc_id, shingle, count(*) AS rep FROM sh GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(rep) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN rep >= 2 THEN rep ELSE 0 END) AS BIGINT)
         |    AS n_dup_grams,
         |  round(CAST(sum(CASE WHEN rep >= 2 THEN rep ELSE 0 END) AS DOUBLE)
         |    / sum(rep), 4) AS dup_frac4
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ta_posexplode" ->
      s"""SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[i] AS word
         |FROM (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id < 20),
         |     UNNEST(range(1, len(t) + 1)) AS u(i)
         |ORDER BY doc_id, pos""".stripMargin,
    // h ← (h·31 + byte) mod 2^64 in HUGEINT, then two's-complement map
    // to signed BIGINT — bit-identical to the JVM's wrapping long fold.
    "ta_rolling_fp" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808
        |            THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS rfp
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT))),
        |      (a, c) -> (a * 31 + c) % 18446744073709551616) AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Brute force IS the oracle: count every position where the
    // pattern matches — overlapping, substring-level — so one wrong
    // failure/output link in the automaton reds the row.
    "ta_aho_corasick" -> {
      val pats = AcPatterns.map(p => s"('$p', ${p.length})").mkString(", ")
      s"""WITH p AS (SELECT * FROM (VALUES $pats) v(pat, plen)),
         |hits AS (
         |  SELECT d.doc_id, p.pat, CAST(count(*) AS BIGINT) AS n
         |  FROM documents d CROSS JOIN p,
         |       UNNEST(range(1, length(d.text) - p.plen + 2)) AS u(i)
         |  WHERE substring(d.text, CAST(i AS INT), p.plen) = p.pat
         |  GROUP BY 1, 2)
         |SELECT doc_id, pat AS pattern, n AS n_matches
         |FROM hits ORDER BY doc_id, pattern""".stripMargin
    },

    "ta_watermark_score" ->
      s"""WITH bg AS (
         |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t), 1))) AS u(i)
         |  WHERE len(t) >= 2),
         |g AS (
         |  SELECT doc_id,
         |    CASE WHEN substring(md5(w1 || '|' || w2), 1, 1) < '8'
         |      THEN 1 ELSE 0 END AS green
         |  FROM bg),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(green) AS BIGINT) AS n_green
         |  FROM g GROUP BY doc_id)
         |SELECT doc_id, n_pairs, n_green,
         |  (n_green * 1000000) // n_pairs AS green_ppm,
         |  CAST(CAST(2 * n_green - n_pairs AS HUGEINT)
         |    * (2 * n_green - n_pairs) * 1000000000 // n_pairs
         |    AS BIGINT) AS z2_nano,
         |  (CAST(CAST(2 * n_green - n_pairs AS HUGEINT)
         |     * (2 * n_green - n_pairs) * 1000000000 // n_pairs AS BIGINT)
         |       > 10827566000
         |   AND n_green * 2 > n_pairs) AS watermark_suspect
         |FROM agg ORDER BY doc_id""".stripMargin,

    "ta_best_passage" ->
      s"""WITH toks AS (
         |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS word
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, len(t) + 1)) AS u(i)),
         |cnts AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |         FROM toks GROUP BY word),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnts),
         |probs AS (SELECT word,
         |            CAST((CAST(cnt AS HUGEINT) * 1000000) // total
         |              AS BIGINT) AS pm
         |          FROM cnts, tot),
         |ch AS (
         |  SELECT t.doc_id, t.pos // 16 AS chunk_idx,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(p.pm) AS BIGINT) AS spm
         |  FROM toks t JOIN probs p ON p.word = t.word
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, n_tokens,
         |    CAST(spm // n_tokens AS BIGINT) AS score_micro,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY spm // n_tokens DESC, chunk_idx ASC) AS rn
         |  FROM ch)
         |SELECT doc_id, chunk_idx, n_tokens, score_micro
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin
  )
}
