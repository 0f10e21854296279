package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import TextOps._

/** Deduplication operators for an LLM data pipeline, each with a
  * different cost/recall point:
  *
  *  - exact:      hash-groupBy on the raw text — one shuffle on md5.
  *  - minhash:    MinHash + banded LSH. Signature = 16 independent
  *                min-hashes over word 3-gram shingles (permutations
  *                simulated by salted md5; taking the lexicographic MIN
  *                of a salted hash is a valid uniform min-hash).
  *                4 bands × 4 rows → candidate pairs share a full band.
  *                At 100 TB the only wide ops are the signature
  *                aggregation (shuffle keyed by doc) and the band
  *                self-join (shuffle keyed by band hash — bounded
  *                bucket sizes, no O(n²) blow-up).
  *  - simhash:    16-bit sign-of-sums simhash from per-token md5 bits;
  *                equal-simhash buckets are near-dup candidates.
  *  - ngram:      exact 3-gram Jaccard, verifying the banded-LSH
  *                candidate pairs (LSH → verify, the standard two-stage
  *                near-dup pipeline). Direct shingle-join blocking is
  *                quadratic on low-entropy corpora, so candidates come
  *                from the signature bands and only those pairs pay the
  *                exact set-intersection join.
  *  - embedding:  cosine near-dup with sign-bit LSH blocking (8-bit
  *                bucket from the signs of the first 8 dims) — turns
  *                O(n²) into per-bucket O(c²).
  */
object Dedup {

  val NumHashes = 16

  /** Document-frequency cap for dd_containment_capped's candidate
    * stage: above it a shingle is "boilerplate" and generates no
    * candidates. 16 sits above every clean-corpus prefix df (max 12 at
    * sf0.1) and below the smallest clone-class df the adversarial
    * stress mints (20), so the capped row is value-identical to
    * dd_containment on clean data while bounding the hot-shingle
    * candidate blowup.
    */
  val ContainmentDfCap = 16L
  /** CDC boundary rule: rolling hash of the trailing [[CdcWindow]]
    * chars has its low 6 bits zero → expected chunk ≈ 64 chars.
    */
  val CdcWindow = 16
  val CdcMask   = 63L

  /** Winnowing window (dd_winnowing): every run of WinnowW consecutive
    * 3-gram hashes contributes its rightmost minimum.
    */
  val WinnowW = 4
  /** Fragments shorter than this are excluded from the shared-chunk
    * report (a production chunker clamps at cut time with a greedy
    * min-size rule; that fold is sequential per doc, so the relational
    * form cuts at every boundary and filters the report instead —
    * chunks ≥ the floor are identical under both rules whenever the
    * greedy clamp keeps the same boundaries).
    */
  val CdcMinChunk = 8
  val Bands     = 4
  val RowsPerBand = NumHashes / Bands

  /** OPH bin count (dd_oph_minhash): one hash per shingle binned into
    * k buckets replaces k independent minhashes.
    */
  val OphBuckets = 16

  /** Sorted-neighborhood comparison window (dd_sorted_neighborhood):
    * each doc is compared with the next W docs in blocking-key order.
    */
  val SnmWindow = 5

  /** (doc_id, sig0..sig15): min-hash signature. Each salted md5 yields
    * four independent 32-bit (8-hex-char) hashes, so 16 signatures cost
    * 4 md5 evaluations per shingle, not 16. The min is taken over raw
    * (non-distinct) shingle occurrences — min is multiplicity-blind, so
    * the distinct shuffle is skipped entirely.
    *
    * Signatures are LONGS — the four 32-bit digest pieces extracted
    * from the native [[graft.functions.Md5Longs]] `[hi, lo]` halves
    * with shifts/masks, never a 32-char hex string: `min(string)`
    * forces SortAggregate (string agg buffers aren't
    * HashAggregate-mutable), which sorts every shingle row; `min(long)`
    * stays in hash aggregation. Fixed-width lowercase hex is
    * order-isomorphic to its numeric value, so the minimum picks the
    * SAME hash — and no output column surfaces the representation, so
    * the hex-string oracle is unchanged.
    */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    signaturesOf(Tables.documents(s, dir))

  private def signaturesOf(documents: DataFrame): DataFrame = {
    val withDigests = (0 until NumHashes / 4).foldLeft(
      documents
        .select(col("doc_id"), explode(shinglesOf(col("text"))).as("shingle"))) {
      (df, salt) =>
        df.withColumn(s"h$salt",
          graft.functions.Md5Longs.md5_longs(concat(lit(s"${salt}_"), col("shingle"))))
    }
    // INVARIANT (load-bearing, do not break): every sig_i is
    // NON-NEGATIVE — both extraction forms (shiftrightunsigned by 32,
    // & 0xFFFFFFFF) yield values in [0, 2³²). dd_bbit_minhash takes
    // low bytes via `sig % 256`, which is byte truncation ONLY on
    // non-negative inputs; a signed-hash refactor here would silently
    // turn `%` into a negative-remainder bug on BOTH engines at once
    // (the oracle mirrors the expression, so the gate would stay
    // green). [[signatureFloorAudit]] + DedupAuditSpec enforce this.
    val aggs = (0 until NumHashes).map { i =>
      val salt = i / 4
      val half = if (i % 4 < 2) s"h$salt[0]" else s"h$salt[1]"
      val piece =
        if (i % 2 == 0) s"shiftrightunsigned($half, 32)"
        else s"$half & 4294967295"
      min(expr(piece)).as(s"sig$i")
    }
    withDigests.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** One-row audit of the signature non-negativity invariant: the
    * least value across all [[NumHashes]] minhash signature columns
    * AND the OPH bucket signatures. `% 256` byte truncation
    * (dd_bbit_minhash) and `% OphBuckets` binning are only
    * remainder-safe on non-negative inputs; DedupAuditSpec pins
    * min_sig >= 0 so a signed-hash refactor fails CI, not review.
    */
  def signatureFloorAudit(s: SparkSession, dir: String): DataFrame = {
    val sigMins = (0 until NumHashes).map(i => min(col(s"sig$i")))
    val minSig = signatures(s, dir).select(least(sigMins: _*).as("min_sig"))
    val minOph = ophSignatures(s, dir).agg(min(col("sig")).as("min_oph"))
    minSig.crossJoin(minOph)
  }

  /** (doc_id, band_idx, band_hash): band key = concatenated signature
    * rows (no extra hashing needed — equality is what the join tests).
    */
  private def bands(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { j =>
      val cols = (0 until RowsPerBand).map(i => col(s"sig${j * RowsPerBand + i}"))
      struct(lit(j).as("band_idx"), concat_ws("|", cols: _*).as("band_hash"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx").as("band_idx"), col("b.band_hash").as("band_hash"))
  }

  /** Densified OPH signature frame (doc_id, bucket, sig, src_dist):
    * ONE md5 per shingle, top-32-bit hash binned into [[OphBuckets]],
    * per-bucket min, empty buckets borrowing the nearest non-empty
    * bucket to the cyclic right (Li, Owen & Zhang 2012; Shrivastava &
    * Li 2014). Docs with no shingles emit nothing. Body of the
    * dd_oph_minhash build row; [[ophSignatures]] memoizes it for
    * consumers.
    */
  private def ophSignaturesOf(documents: DataFrame): DataFrame = {
    val ne = documents
      .select(col("doc_id"), explode(shinglesOf(col("text"))).as("shingle"))
      .withColumn("hl",
        graft.functions.Md5Longs.md5_longs(col("shingle")))
      .withColumn("h", expr("shiftrightunsigned(hl[0], 32)"))
      .withColumn("bucket", expr(s"CAST(h % $OphBuckets AS INT)"))
      .groupBy("doc_id", "bucket").agg(min(col("h")).as("sig"))
      .localCheckpoint(false) // spine + borrow legs re-read it
    val spine = ne.select("doc_id").distinct()
      .withColumn("bucket",
        explode(expr(s"sequence(0, ${OphBuckets - 1})")))
      .withColumn("bucket", col("bucket").cast("int"))
    val emp = spine.join(ne, Seq("doc_id", "bucket"), "left_anti")
    val cand = emp
      .withColumn("d",
        explode(expr(s"sequence(1, ${OphBuckets - 1})")))
      .withColumn("d", col("d").cast("int"))
      .withColumn("src",
        expr(s"CAST((bucket + d) % $OphBuckets AS INT)"))
      .join(ne.select(col("doc_id"), col("bucket").as("src"),
        col("sig")), Seq("doc_id", "src"))
    val bd = cand.groupBy("doc_id", "bucket")
      .agg(min(col("d")).as("src_dist"))
    val bor = cand.as("c").join(bd.as("b"),
        col("c.doc_id") === col("b.doc_id") &&
          col("c.bucket") === col("b.bucket") &&
          col("c.d") === col("b.src_dist"))
      .select(col("c.doc_id"), col("c.bucket"), col("c.sig"),
        col("b.src_dist"))
    ne.withColumn("src_dist", lit(0).cast("int"))
      .select("doc_id", "bucket", "sig", "src_dist")
      .unionByName(bor)
  }

  private val ophCache = graft.CacheRegistry.newCache()
  private def ophSignatures(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached[DataFrame](ophCache, s, dir, "ophSigs")(
      ophSignaturesOf(Tables.documents(s, dir)).localCheckpoint(false))

  /** md5-sampled half-corpus — the reproducible pipe_hash_sample
    * membership rule shared by the whole recall/audit tier
    * (dd_lsh_recall, dd_oph_recall, dd_lsh_band_sweep).
    */
  private def hashSample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < "8000")

  /** Exact PPJoin ground-truth pairs over [[hashSample]], memoized per
    * (session, dir) — round-11 verdict #4: three audit rows each
    * recomputed this identical truth set per execution. dd_truth_build
    * stays the cache-BYPASSING construction row (the
    * dd_simhash64_build convention), so bench still measures the
    * truth-set build itself.
    */
  private val truthCache = graft.CacheRegistry.newCache()
  private def sampledTruthPairs(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached[DataFrame](truthCache, s, dir, "sampledTruth")(
      jaccardPrefixPairs(hashSample(s, dir)).select("doc_a", "doc_b")
        .localCheckpoint(false))

  /** Banded candidate pairs over an OPH signature frame: 4 bands of 4
    * consecutive buckets, salted pair generation, matching-bucket
    * fraction as the similarity estimate.
    */
  private def ophPairsFrom(sigs: DataFrame): DataFrame = {
    val sv = sigs.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("bucket"), col("sig"))))
        .as("st"))
      .select(col("doc_id"),
        transform(col("st"), e => e.getField("sig")).as("sigv"))
    val bandStructs = (0 until 4).map { j =>
      struct(lit(j).as("band_idx"),
        concat_ws("|", (0 until 4).map(i =>
          element_at(col("sigv"), j * 4 + i + 1)): _*).as("band_hash"))
    }
    val b = sv.select(col("doc_id"), col("sigv"),
        explode(array(bandStructs: _*)).as("bd"))
      .select(col("doc_id"), col("sigv"),
        col("bd.band_idx").as("band_idx"),
        col("bd.band_hash").as("band_hash"))
    val eqCnt = size(filter(
      zip_with(col("a.sigv"), col("b.sigv"), (x, y) => x === y), p => p))
    PairGen.saltedPairs(
        b.select(col("band_idx"), col("band_hash"),
          struct(col("doc_id"), col("sigv")).as("v")),
        Seq("band_idx", "band_hash"), "doc_id")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        eqCnt.as("eq"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"), max(col("eq")).as("eq"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        (col("eq").cast("double") / OphBuckets).as("est_jaccard"))
  }

  /** Where pipe_forget publishes its post-forget artifacts for `dir`
    * (session scope, [[graft.Scratch.session]]).
    */
  private[graft] def forgetRoot(s: SparkSession, dir: String): String =
    graft.Scratch.session(s, dir, "forget")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: one hash-shuffle; min(doc_id) is the deterministic
    // survivor ("keep first").
    "dd_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .orderBy("fp")
    }),

    // ONE-PERMUTATION HASHING (Li, Owen & Zhang 2012) with rotation
    // densification (Shrivastava & Li 2014) — the minhash cost model
    // at 100 TB: classic k-signature minhash pays k (here
    // NumHashes/4 md5) digests per shingle; OPH pays ONE, binning the
    // single hash into k buckets and taking the per-bucket min, so
    // the signature pass is ~4× cheaper at identical shuffle shape
    // (the real reason production near-dup runs OPH). Empty buckets
    // (short docs) borrow the nearest non-empty bucket to the
    // cyclic right, reported as src_dist (> 0 ⇔ densified) so the
    // estimator downstream can apply the offset trick. Dataflow: one
    // shingle pass → (doc, bucket) min-agg; the densification runs
    // on the (docs × k × d) spine — k² = 256 rows per doc worst
    // case, never corpus-quadratic. Hash = top 32 bits of the md5,
    // non-negative, so long-min ≡ hex-min and `%` ≡ `//`-mod on both
    // engines. Docs with no shingles (< 3 tokens) emit nothing —
    // both engines derive the spine from shingle-bearing docs.
    // This row is the CONSTRUCTION measurement (fresh every run, the
    // dd_simhash64_build convention); dd_oph_pairs reads the
    // registry-memoized frame.
    "dd_oph_minhash" -> ((s, dir) =>
      ophSignaturesOf(Tables.documents(s, dir)).orderBy("doc_id", "bucket")),

    // OPH END-TO-END: LSH band pairs over the densified OPH
    // signatures — 4 bands × 4 consecutive buckets, the dd_minhash
    // banding on the 4×-cheaper signature table. est_jaccard =
    // matching-bucket fraction over all 16 (exact dyadic /16, no
    // rounding needed). Pair generation rides the same salted,
    // buffer-bounded [[PairGen.saltedPairs]]; the signature frame is
    // served from the session registry (built once per (session,
    // dir); dd_oph_minhash above stays the cache-bypassing build
    // row).
    "dd_oph_pairs" -> ((s, dir) =>
      ophPairsFrom(ophSignatures(s, dir)).orderBy("doc_a", "doc_b")),

    // RECALL CONTRACT for OPH banding — same harness as
    // dd_lsh_recall: the exact prefix-filter truth set over the
    // md5-sampled half-corpus vs the OPH band candidates. 16 buckets
    // is a deliberately coarse dial (one hash per shingle); the row
    // REPORTS what that buys and costs instead of claiming classic
    // minhash recall — the production dial is more buckets, not more
    // hashes.
    "dd_oph_recall" -> ((s, dir) => {
      val sample = hashSample(s, dir)
      val exact = sampledTruthPairs(s, dir)
      val oph = ophPairsFrom(ophSignaturesOf(sample))
        .select("doc_a", "doc_b")
      val hit = exact.join(oph, Seq("doc_a", "doc_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_true"))
        .crossJoin(oph.agg(count(lit(1)).as("n_oph")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_true"), col("n_oph"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true"), 4)
            .as("recall4"))
    }),

    // Exact dedup after canonicalization — catches the trivial
    // variants raw-byte md5 misses (case, whitespace runs, stray
    // edge spacing): fingerprint = md5 of lowercased text with
    // whitespace runs collapsed to single spaces and trimmed
    // (script-preserving — an alphabet-stripping normalization would
    // collapse every CJK doc into one class). Same one-shuffle shape
    // as dd_exact; in a production pipeline this IS the exact-dedup
    // step, since normalization rides the same projection for free.
    "dd_exact_normalized" -> ((s, dir) => {
      val norm = trim(regexp_replace(lower(col("text")), "[ \\t\\r\\n]+", " "))
      Tables.documents(s, dir)
        .groupBy(md5(norm).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .orderBy("fp")
    }),

    // MinHash LSH candidate pairs + signature-estimated Jaccard.
    // Each band row carries the full signature vector, so the pair
    // generation produces both signatures directly — no re-join
    // against the signature table, and [[PairGen.saltedPairs]] keeps
    // the band rows one single-execution plan tree. LSH bounds
    // TRUE-similarity buckets, but an exact-duplicate class lands
    // whole in one bucket; the salted two-level generation keeps every
    // aggregation buffer ≤ ~2·cap members no matter how large the
    // class (identical pair multiset; see PairGen).
    "dd_minhash" -> ((s, dir) => {
      val sigs = signatures(s, dir)
        .withColumn("sigv", array((0 until NumHashes).map(i => col(s"sig$i")): _*))
      val bandStructs = (0 until Bands).map { j =>
        val cols = (0 until RowsPerBand).map(i => col(s"sig${j * RowsPerBand + i}"))
        struct(lit(j).as("band_idx"), concat_ws("|", cols: _*).as("band_hash"))
      }
      val b = sigs
        .select(col("doc_id"), col("sigv"), explode(array(bandStructs: _*)).as("bd"))
        .select(col("doc_id"), col("sigv"),
          col("bd.band_idx").as("band_idx"), col("bd.band_hash").as("band_hash"))
      val eqCnt = size(filter(zip_with(col("a.sigv"), col("b.sigv"), (x, y) => x === y), p => p))
      PairGen.saltedPairs(
          b.select(col("band_idx"), col("band_hash"),
            struct(col("doc_id"), col("sigv")).as("v")),
          Seq("band_idx", "band_hash"), "doc_id")
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), eqCnt.as("eq"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared_bands"), max(col("eq")).as("max_eq"))
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          (col("max_eq").cast("double") / NumHashes).as("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // B-BIT MINWISE HASHING (Li & König 2010) — the storage dial of
    // the minhash index: keep only the LOW 8 BITS of each of the 16
    // signatures (4× smaller signature table than 32-bit pieces,
    // 64× smaller than raw 64-bit minhashes) and correct the
    // estimator for accidental byte collisions:
    // Ĵ = (m/k − 2⁻ᵇ)/(1 − 2⁻ᵇ), exact ppm integers with the m = 0
    // branch clamped BEFORE the division (a negative numerator would
    // split Spark truncation from DuckDB floor). Blocking stays on
    // the FULL band hashes — b-bit is the per-pair estimator payload,
    // not the recall dial — so candidates are identical to
    // dd_minhash's and the row isolates exactly what the truncation
    // costs: est_jaccard_ppm vs dd_minhash's est_jaccard on the same
    // pairs. At 100 TB the signature table is the thing you
    // materialize per snapshot; shrinking it 4× is the point.
    "dd_bbit_minhash" -> ((s, dir) => {
      val sigs = signatures(s, dir)
        .withColumn("bitv",
          array((0 until NumHashes).map(i => expr(s"sig$i % 256")): _*))
      val bandStructs = (0 until Bands).map { j =>
        val cols = (0 until RowsPerBand).map(i => col(s"sig${j * RowsPerBand + i}"))
        struct(lit(j).as("band_idx"), concat_ws("|", cols: _*).as("band_hash"))
      }
      val b = sigs
        .select(col("doc_id"), col("bitv"), explode(array(bandStructs: _*)).as("bd"))
        .select(col("doc_id"), col("bitv"),
          col("bd.band_idx").as("band_idx"), col("bd.band_hash").as("band_hash"))
      val eq8 = size(filter(
        zip_with(col("a.bitv"), col("b.bitv"), (x, y) => x === y), p => p))
      PairGen.saltedPairs(
          b.select(col("band_idx"), col("band_hash"),
            struct(col("doc_id"), col("bitv")).as("v")),
          Seq("band_idx", "band_hash"), "doc_id")
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          eq8.as("eq"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared_bands"), max(col("eq")).as("m8"))
        .withColumn("est_jaccard_ppm", expr(
          s"""CASE WHEN m8 = 0 THEN 0L
             |ELSE (m8 * 16000000L - 1000000L) DIV 255 END""".stripMargin))
        .select("doc_a", "doc_b", "n_shared_bands", "m8", "est_jaccard_ppm")
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental (delta-vs-corpus) dedup — the nightly-crawl
    // operational shape: a new batch (doc_id ≡ 7 mod 10 stands in for
    // the delta) dedups against the EXISTING corpus, never against
    // itself all-pairs. Stage 1: exact — anti-join the delta's md5
    // fingerprints against the corpus fingerprint set (one hash
    // shuffle). Stage 2: near-dup — the delta's minhash bands join the
    // corpus bands on (band_idx, band_hash); any collision marks the
    // new doc a near-dup candidate (the conservative drop policy;
    // LSH-bounded bucket sizes as in dd_minhash). Signatures for BOTH
    // sides come from one corpus pass, split by membership — at 100 TB
    // the corpus side is the precomputed signature index, so only the
    // delta pays shingling. Per delta doc: exact_dup | near_dup | kept.
    "pipe_incremental_dedup" -> ((s, dir) => {
      val isNew = pmod(col("doc_id"), lit(10)) === 7
      val docs = Tables.documents(s, dir)
      val exactDups = docs.filter(isNew)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .join(docs.filter(!isNew).select(md5(col("text")).as("fp")).distinct(),
          Seq("fp"), "left_semi")
        .select(col("doc_id"), lit(true).as("exact_dup"))
      val b = bands(signatures(s, dir))
      val nearDups = b.filter(isNew)
        .join(b.filter(!isNew)
            .select(col("band_idx"), col("band_hash")),
          Seq("band_idx", "band_hash"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("near_dup", lit(true))
      docs.filter(isNew).select(col("doc_id"))
        .join(exactDups, Seq("doc_id"), "left")
        .join(nearDups, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_dup"), "exact_dup")
            .when(col("near_dup"), "near_dup")
            .otherwise("kept").as("status"))
        .orderBy("doc_id")
    }),

    // Bloom-filter prefiltered delta dedup — pipe_incremental_dedup's
    // exact stage re-shaped for the 100 TB asymmetry where the corpus
    // fingerprint set is far too large to ship but a bitset over it is
    // not: k=4 16-bit hash slices of each corpus fingerprint set bits
    // in an m=2¹⁶-bit filter, aggregated as ≤2048 (word, bits) rows
    // (bit_or partial-aggregates map-side, so the shuffle carries at
    // most 1024 rows per partition regardless of corpus size). The
    // delta probes the filter through a BROADCAST join on the word
    // index — pure Catalyst bit math, no UDF, no driver-side bitset —
    // and only BF-positive docs pay the exact fingerprint join (Bloom
    // filters have no false negatives, so the final is_dup set is
    // EXACT; bf_hit additionally surfaces the false-positive rate the
    // filter trades for its size). This is the manual form of the
    // runtime bloom-filter join Spark injects for selective joins
    // (spark.sql.optimizer.runtime.bloomFilter.*), materialized as an
    // operator so the filter can be built once and reused across
    // nightly deltas. Oracle mirrors the exact same bit positions, so
    // even the false positives are engine-exact, not just the verdict.
    "pipe_bloom_dedup" -> ((s, dir) => {
      val isNew = pmod(col("doc_id"), lit(10)) === 7
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
      val posOf = (off: Int) =>
        conv(substring(col("h"), off, 4), 16, 10).cast("long")
      val positions = explode(array(Seq(1, 5, 9, 13).map(posOf): _*)).as("p")
      val bf = docs.filter(!isNew)
        .select(positions)
        .groupBy((col("p") / 32).cast("long").as("word"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)))")
          .as("bits"))
      val probed = docs.filter(isNew)
        .select(col("doc_id"), positions)
        .join(broadcast(bf), (col("p") / 32).cast("long") === col("word"), "left")
        .withColumn("ok",
          when(col("bits").isNotNull &&
            expr("bits & shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))") =!= 0,
            1L).otherwise(0L))
        .groupBy("doc_id").agg((sum(col("ok")) === 4).as("bf_hit"))
      docs.filter(isNew)
        .join(docs.filter(!isNew).select(col("h"))
            .distinct().withColumn("is_dup", lit(true)),
          Seq("h"), "left")
        .join(probed, Seq("doc_id"))
        .select(col("doc_id"), col("bf_hit"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .orderBy("doc_id")
    }),

    // 16-bit SimHash per document from per-token md5 bits. Per token,
    // the native Md5PrefixLong expression yields the digest's top 64
    // bits as ONE long; the bit-majority vote is a single typed
    // accumulator aggregate (one int[17] buffer per doc, one tight
    // update loop per token row) — one shuffle keyed by doc, no
    // (token × bit) row explosion and no per-bit aggregate columns.
    "dd_simhash" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .withColumn("hl", graft.functions.Md5PrefixLong.md5_prefix_long(col("word")))
        .groupBy("doc_id")
        .agg(graft.functions.SimhashAgg.simhash(16)(col("hl")).as("simhash"))
        .orderBy("doc_id")
    }),

    // 64-bit SimHash near-dup pairs via Hamming banding: the 64 bits
    // split into 4 × 16-bit bands; a pair within Hamming distance 3
    // must agree on at least one whole band (pigeonhole), so the
    // band-equality join is a complete candidate generator for d≤3.
    // Exact Hamming distance then filters via bit_count(xor).
    "dd_simhash64_pairs" -> ((s, dir) =>
      simhash64Pairs(s, dir).orderBy("doc_a", "doc_b")),

    // CACHE-BYPASS build row (round-10 ADVICE nit): the row above
    // serves the session-memoized checkpoint on repeat executions, so
    // its bench min-of-2 measures a checkpoint read, not the simhash
    // pipeline. This row runs the signature pipeline fresh on every
    // execution — the ss_kmeans_train / ss_pq_train
    // bypass-the-cache convention — keeping the CONSTRUCTION cost a
    // measured number in every bench round.
    "dd_simhash64_build" -> ((s, dir) =>
      simhash64PairsFresh(s, dir).orderBy("doc_a", "doc_b")),

    // Exact n-gram Jaccard verification of the LSH candidates — the
    // textbook LSH→verify pipeline. Shingle-join blocking alone is
    // quadratic when the vocabulary is small (measured 1.1M candidate
    // pairs at sf0.1: with 31 distinct words the average shingle
    // appears in ~10 docs, so no useful "rare shingle" exists); the
    // banded-LSH candidate set is bounded by true similarity instead.
    "dd_ngram_jaccard" -> ((s, dir) => ngramJaccardPairs(s, dir)),

    // SORTED-NEIGHBORHOOD blocking (Hernández–Stolfo) — the classic
    // record-linkage alternative to LSH: sort the corpus by a
    // blocking key (here the text itself — clone-edit near-dups share
    // prefixes), compare only rows within [[SnmWindow]] ranks, verify
    // candidates with EXACT distinct-shingle Jaccard. O(n·W)
    // candidates instead of O(n²); on this corpus the single text
    // key recovers every true pair dd_ngram_jaccard finds (25/25 at
    // τ=0.5, measured vs brute force) — production runs multiple
    // passes with different keys for recall on prefix-divergent
    // edits. Scale shape: NO corpus-wide single-partition window —
    // the global rank is two-phase exactly like pipe_range_shards
    // (per-prefix-block ranks via a PARTITIONED window + block
    // offsets from a cumulative sum over the value-bounded block
    // frame; (prefix, text, doc_id) order ≡ (text, doc_id) order
    // because a fixed-length prefix is monotone in the string), and
    // the W-neighbor pairing is an EQUI-join on rank via a 1..W
    // explode — never a range self-join. Threshold is the integer
    // cross-multiply 2·|∩| ≥ |∪| (no float, no micro literal).
    // PHONETIC-BLOCKED ENTITY RESOLUTION — the third blocking scheme
    // next to LSH (dd_minhash) and sorted-neighborhood
    // (dd_sorted_neighborhood): block records by SOUNDEX code (the
    // ta_soundex contract), generate within-block candidate pairs
    // through the salted bounded-buffer [[PairGen]] (a hot code is a
    // mega-block — the same skew PairGen exists for), verify with
    // exact Levenshtein ≤ 2 (both engines' classic built-in). The
    // RECORD SET is the corpus vocabulary plus four deterministic
    // corruptions per word (last letter doubled, trailing 'e',
    // trailing 'h', trailing 'eaea' — the record-linkage-benchmark
    // dirty-data idiom, derived not random): each corruption provably
    // keeps the source's soundex code (a doubled code collapses,
    // vowel/'h' tails strip), so true links always co-block and the
    // machinery demonstrably FIRES — on the raw vocabulary alone
    // every code is a singleton and the operator would gate on an
    // empty frame (the ss_ivf_range_clustered lesson: a green row
    // whose path never executes proves nothing). The 'eaea' tail is
    // the NEGATIVE control: same-sounding (same block) but ≥3 edits
    // from every sibling, so the verify stage must reject it — the
    // census shows matches strictly below pairs, i.e. blocking and
    // verification each doing distinct work. Census per block: pair
    // volume vs C(n,2) — a PairGen exactness pin — match count,
    // first-match witness. Scale: vocab is Heaps-bounded (token
    // TYPES); blocks shuffle-partition on the code; verify is
    // per-pair O(len²) on short strings.
    "dd_er_blocking" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .distinct()
      val vocab = base.select(col("w"))
        .unionAll(base.select(
          concat(col("w"), substring(col("w"), -1, 1)).as("w")))
        .unionAll(base.select(concat(col("w"), lit("e")).as("w")))
        .unionAll(base.select(concat(col("w"), lit("h")).as("w")))
        .unionAll(base.select(concat(col("w"), lit("eaea")).as("w")))
        .distinct()
        .withColumn("sdx", soundex(col("w")))
        .localCheckpoint(false) // census + pair generation both read it
      val pairs = PairGen.saltedPairs(
          vocab.select(col("sdx"), struct(col("w").as("w")).as("v")),
          Seq("sdx"), "w")
        .select(col("a.w").as("w1"), col("b.w").as("w2"))
        .withColumn("lev", levenshtein(col("w1"), col("w2")))
      val agg = pairs.withColumn("sdx", soundex(col("w1")))
        .groupBy("sdx")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("lev") <= 2, 1L).otherwise(0L)).as("n_matches"),
          min(when(col("lev") <= 2,
            concat_ws("|", col("w1"), col("w2")))).as("first_match"))
      vocab.groupBy("sdx").agg(count(lit(1)).as("n_words"))
        .filter(col("n_words") >= 2)
        .join(agg, Seq("sdx"))
        .select(col("sdx"), col("n_words"), col("n_pairs"),
          col("n_matches"), col("first_match"))
        .orderBy("sdx")
    }),

    "dd_sorted_neighborhood" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          array_distinct(graft.functions.WordShingles
            .word_shingles(col("text"), 3)).as("sh"))
        .filter(size(col("sh")) >= 1)
        .withColumn("blk", substring(col("text"), 1, 8))
      val blocks = docs.groupBy("blk").agg(count(lit(1)).as("cnt"))
      val wOff = Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = blocks
        .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
        .select("blk", "off")
      // materialize once: both sides of the rank equi-join read this
      // frame, and without the checkpoint each side re-derives the
      // full shingle+window subtree (visible as twin subplans in the
      // Explain dump)
      val ranked = docs.join(offsets, "blk")
        .withColumn("rk", col("off") + row_number()
          .over(Window.partitionBy("blk").orderBy("text", "doc_id")))
        .select("doc_id", "sh", "rk")
        .localCheckpoint(false)
      val lhs = ranked
        .select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("rk"))
        .withColumn("j", explode(sequence(lit(1), lit(SnmWindow))))
        .select(col("id_a"), col("sh_a"), (col("rk") + col("j")).as("rk_b"))
      val rhs = ranked.select(col("doc_id").as("id_b"),
        col("sh").as("sh_b"), col("rk").as("rk_b"))
      lhs.join(rhs, "rk_b")
        .withColumn("n_inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("n_union",
          size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")
            - col("n_inter"))
        .filter(col("n_inter") * 2 >= col("n_union"))
        .select(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"),
          col("n_inter"), col("n_union"))
        .orderBy("doc_a", "doc_b")
    }),

    // Substring-level duplication (the Lee et al. 2022 "Deduplicating
    // Training Data" shape, word-5-gram granularity): spans repeated
    // ACROSS documents — ta_repetition's within-doc gate can't see a
    // boilerplate sentence that appears once per doc in a million
    // docs. Positionally exploded 5-gram spans; a span is duplicated
    // when its shingle occurs in ≥2 distinct docs; per-doc report =
    // total spans, duplicated spans, duplicated fraction. Scale: the
    // distinct (shingle, doc) projection and df aggregate shuffle
    // posting-bounded rows; the dup set semi-joins back keyed by
    // shingle — never an all-pairs comparison. Production would cut
    // the covered char ranges; the span counts are the decision
    // signal and keep the oracle exact.
    "dd_repeated_spans" -> ((s, dir) => {
      import graft.functions.WordShingles.word_shingles
      val spans = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(word_shingles(col("text"), 5)).as(Seq("pos", "sh")))
      val dup = spans.select("sh", "doc_id").distinct()
        .groupBy("sh").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select("sh")
      val totals = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      val dups = spans.join(dup, Seq("sh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
      totals.join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
        .withColumn("dup_frac4",
          round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
        .orderBy("doc_id")
    }),

    // EXACT repeated-SUBSTRING dedup via distributed suffix-class
    // doubling (round-13 verdict #3 — the Lee et al. 2022 operator at
    // its native granularity: raw characters, not n-gram proxies):
    // emit every MAXIMAL span of ≥ [[SuffixSpanL]] consecutive chars
    // that also occurs in ANOTHER document. dd_repeated_spans counts
    // duplicated word-5-grams; this row finds the exact char ranges a
    // cutter would remove. Algorithm = prefix doubling over per-doc
    // suffixes, re-expressed shuffle-native: positions start in
    // single-char equality classes, and each of the log₂(L) fixed
    // unrolled rounds (the lloydRounds pattern) refines
    // cls_{k+1}(p) = class of (cls_k(p), cls_k(p+2^k)) — a
    // doc-partitioned lead() window (per-task sort, NEVER global),
    // one pair-keyed aggregate, one join back. Class ids are the
    // min packed (doc_id·2²⁰ + pos) of each group — a plain hash
    // aggregate, so no global ranking anywhere (a textbook suffix
    // array densifies ranks with a corpus-wide sort per round; only
    // EQUALITY matters here, and equality classes shuffle-partition).
    // Exactness: by induction a round-k class identifies the exact
    // (content, truncation-shape) of min(2^k, len−p+1) chars, so for
    // positions with ≥ L chars remaining, class equality IS L-char
    // substring equality — no hashing, no collisions, and the oracle
    // states the semantics as the brute-force substring join.
    // Duplicated starts (class spans ≥2 distinct docs) merge into
    // maximal spans by the gaps-and-islands rule per doc. Scale:
    // corpus×len rows (the dd_cdc_chunks class) through log₂(L)
    // rounds of linear shuffles; the positional pack asserts
    // pos < 2²⁰ loudly (the dd_winnowing contract).
    "dd_suffix_spans" -> ((s, dir) =>
      suffixSpansOf(Tables.documents(s, dir), SuffixSpanL)
        .orderBy("doc_id", "span_start")),

    // SUFFIX GRAM INDEX — PUBLISH (round-15: the index tier completing
    // the suffix family's batch/index/streaming triangle, the
    // ss_ivf_persist_build analogue): the static corpus slice's
    // distinct L-grams published as a parquet index table
    // ([[publishedSuffixGramIndex]] — publish-once per session, read
    // by st_suffix_admit's every micro-batch), and the census read
    // BACK from the published table (per-first-char distinct-gram
    // counts — the round-trip proof the persist rows all carry).
    // Round 16: the published rows are `(c, fp1, fp2)` — 128-bit
    // [[gramFp]] fingerprints + the first-char prefix — so the census
    // groups by the stored prefix and counts fingerprint rows; the
    // oracle counts distinct gram STRINGS from the raw corpus, equal
    // because distinct grams ↔ distinct fingerprints (no collisions,
    // see [[gramFp]]). Scale: ONE distinct over corpus-chars rows
    // (the same row count every shingle pass in this module
    // shuffles); the stored index is 16 B + 1 char per gram instead
    // of L chars — the serving tier range-partitions by the prefix
    // the census groups by.
    "dd_suffix_index_build" -> ((s, dir) => {
      val root = publishedSuffixGramIndex(s, dir)
      s.read.parquet(root)
        .groupBy(col("c"))
        .agg(count(lit(1)).as("n_grams"))
        .orderBy("c")
    }),

    // SPAN CUT + REASSEMBLY (round-14: the Lee et al. pipeline's last
    // mile) — dd_suffix_spans finds the exact duplicated char ranges;
    // this row REMOVES every occurrence after the first and emits the
    // cleaned corpus: per doc the span/cut census, distinct cut-char
    // count, and the stitched text's length + fingerprint. Algorithm,
    // keep-first rule, overlap handling, and the conservation law
    // (clean_len + cut_chars = len) in [[suffixCleanOf]]'s doc.
    "pipe_suffix_clean" -> ((s, dir) =>
      suffixCleanOf(Tables.documents(s, dir), SuffixSpanL)
        .orderBy("doc_id")),

    // RIGHT-TO-BE-FORGOTTEN CASCADE (round-14): given a delete list
    // (doc_id % 97 = 13 — the deterministic ~1% slice standing in for
    // a legal erasure request), audit the removal across EVERY derived
    // artifact a training-data pipeline materializes from the corpus:
    // the corpus itself, the exact-dup fingerprint index, the LSH band
    // index, the shingle postings, the shingle vocabulary, the vector
    // store, and (round 16) the served suffix gram index. Two deletion
    // regimes, both load-bearing:
    // per-doc ROW artifacts (documents, bands, postings, embeddings)
    // drop by ANTI-JOIN against the delete list — at 100 TB these are
    // doc-keyed tables where forget is a partition-filtered rewrite
    // (the ss_ivf_admit/rebalance segment-overwrite idiom); SHARED SET
    // artifacts (fingerprints, shingle vocabulary) are rebuilt as the
    // distinct over SURVIVORS, so an entry co-owned by a surviving doc
    // STAYS (deleting it would break dedup for unrelated documents —
    // the GDPR nuance a naive cascade gets wrong). Each row reports
    // rows_before/after/removed plus leftover_refs — and the audit is
    // NOT computed against the cascade's own lineage (that check is a
    // tautology: a frame anti-joined by a predicate trivially holds no
    // rows matching it — the round-14 advice finding). Instead every
    // "after" artifact is REPUBLISHED to parquet and re-SCANNED (the
    // ss_ivf_forget read-back idiom), so leftover_refs audits the
    // object a downstream consumer actually reads: after-rows in the
    // published file still matching the delete predicate (row regime)
    // or survivor-recomputed entries the published index lost (set
    // regime: over-deletion — the survivor recompute is an
    // INDEPENDENT lineage from the published file, so a lossy or
    // wrong write shows up as leftover > 0 and hash-mismatches the
    // oracle's zeros). Physically this prices forget as what it is at
    // 100 TB: a rewrite of each doc-keyed artifact (partition-
    // filtered in production; full republish at test scale).
    // Scale: each leg is one scan + one broadcast anti-join (the
    // delete list is the small side by construction) + one republish;
    // the shingle legs share the one explode pass per frame; no
    // corpus×corpus stage.
    "pipe_forget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val delDocs = docs.filter(col("doc_id") % 97 === 13).select("doc_id")
      val survDocs = docs.filter(col("doc_id") % 97 =!= 13)
      def postingsOf(d: DataFrame) = d.select(col("doc_id"),
        explode(array_distinct(shinglesOf(col("text")))).as("shingle"))
      def cnt(df: DataFrame, as: String) =
        df.agg(count(lit(1)).as(as))
      def audit(name: String, before: DataFrame, after: DataFrame,
          leftover: DataFrame) =
        cnt(before, "rows_before")
          .crossJoin(cnt(after, "rows_after"))
          .crossJoin(cnt(leftover, "leftover_refs"))
          .select(lit(name).as("artifact"), col("rows_before"),
            col("rows_after"),
            (col("rows_before") - col("rows_after")).as("rows_removed"),
            col("leftover_refs"))
      // republish + read back: the audit's "after" frame is always a
      // parquet scan of the published artifact, never the write's own
      // lineage (idempotent overwrite per (session, sf dir) — the
      // segment-overwrite idiom, safe across bench reps)
      val root = forgetRoot(s, dir)
      def publish(df: DataFrame, name: String): DataFrame = {
        df.write.mode("overwrite").parquet(s"$root/$name")
        s.read.parquet(s"$root/$name")
      }
      // row regime: anti-join the delete list, republish, re-scan.
      // The two derived-index frames each feed the before count AND
      // the cut — localCheckpoint so the signature and explode
      // pipelines run once
      def cut(df: DataFrame) =
        df.join(broadcast(delDocs), Seq("doc_id"), "left_anti")
      val emb = Tables.embeddings(s, dir)
      val delVecs = emb.filter(col("vec_id") % 97 === 13).select("vec_id")
      val staticSurv = survDocs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      // the served suffix index resolves on THIS thread (CacheRegistry
      // — the Overlap rule) before any lane starts
      val sgBefore = s.read.parquet(publishedSuffixGramIndex(s, dir))
      // The cascade's checkpoint+publish legs were ~10 sequential
      // driver actions with only four genuine dependency chains —
      // overlapped as four lanes (guide §2.6, round 18): band
      // signatures, shingle explode (+ its two publishes), the three
      // plain row/set republishes, and the survivor gram pass. Each
      // lane is internally ordered; the audits below consume the
      // lanes' results exactly as before.
      val (laneBands, (lanePost, laneRow, laneSg)) = graft.Overlap.par(
        {
          val bandsAll = bandFrameOf(docs).localCheckpoint(false)
          (bandsAll, publish(cut(bandsAll), "bands"))
        },
        graft.Overlap.par3(
          {
            val postAll = postingsOf(docs).localCheckpoint(false)
            val postAfter = publish(cut(postAll), "postings")
            val shAfter = publish(postAll.join(broadcast(delDocs),
              Seq("doc_id"), "left_anti").select("shingle").distinct(),
              "shingles")
            (postAll, postAfter, shAfter)
          },
          {
            val docsAfter = publish(survDocs, "documents")
            val embAfter = publish(
              emb.join(broadcast(delVecs), Seq("vec_id"), "left_anti"),
              "embeddings")
            val fpAfter = publish(
              survDocs.select(md5(col("text")).as("fp")).distinct(),
              "fingerprints")
            (docsAfter, embAfter, fpAfter)
          },
          {
            // ONE survivor gram pass, localCheckpointed, feeds both
            // the republish and the audit recompute (round-17
            // optimization — see the audit note below).
            val survGrams = suffixGramsOf(staticSurv, SuffixSpanL)
              .select("g").distinct().localCheckpoint(false)
            val sgAfter = publish(
              survGrams.select(
                substring(col("g"), 1, 1).as("c") +: gramFp(col("g")): _*),
              "suffix_grams")
            (survGrams, sgAfter)
          }))
      val (bandsAll, bandsAfter) = laneBands
      val (postAll, postAfter, shAfter) = lanePost
      val (docsAfter, embAfter, fpAfter) = laneRow
      val (survGrams, sgAfter) = laneSg
      // set regime: rebuild from survivors and republish; leftover =
      // survivor-owned entries the PUBLISHED index lost, recomputed
      // from the raw corpus (independent lineage vs the read-back)
      val fpAll = docs.select(md5(col("text")).as("fp")).distinct()
      val fpLost = survDocs.select(md5(col("text")).as("fp")).distinct()
        .join(fpAfter, Seq("fp"), "left_anti")
      val shAll = postAll.select("shingle").distinct()
      val shLost = postingsOf(survDocs).select("shingle").distinct()
        .join(shAfter, Seq("shingle"), "left_anti")
      // suffix gram index (round-16 verdict #2): the served L-gram
      // index ([[publishedSuffixGramIndex]] — the static %10≠7 slice)
      // is a shared SET artifact like the shingle vocabulary: a
      // forgotten doc's unique L-grams must leave it, grams co-owned
      // by a surviving static doc must STAY. before = the PUBLISHED
      // serving index read back; after = the fingerprint index
      // rebuilt over static-slice survivors and republished; leftover
      // audits BOTH failure directions against a survivor recompute
      // independent of the published FILE: under-deletion
      // (published entries no survivor owns — the forgotten doc's
      // grams linger in the serving tier, the GDPR breach) plus
      // over-deletion (survivor-owned grams the republish lost —
      // dedup broken for unrelated documents).
      // (one survivor gram pass shared by republish + recompute —
      // round-17 optimization; the round-16 form ran the corpus-chars
      // explode + distinct twice. The audit's independence contract is
      // FROM THE PUBLISHED FILE, preserved: sgRecompute reads the
      // checkpointed in-memory survivor grams while sgAfter is the
      // parquet re-scan of what was written — a lossy, truncated or
      // corrupted publish still surfaces as leftover > 0 / a hash
      // mismatch.)
      val sgRecompute = survGrams.select(gramFp(col("g")): _*)
      // symmetric difference in ONE shuffle: both sides are distinct
      // sets, so a tagged union aggregates to 1 (recompute-only =
      // over-deletion), 2 (published-only = under-deletion), or 3
      // (agreeing) per fingerprint — cheaper than two sort-merge
      // anti-joins over the ~corpus-gram-sized sets
      val sgLeft = sgRecompute.select(col("fp1"), col("fp2"), lit(1L).as("m"))
        .unionByName(sgAfter.select(col("fp1"), col("fp2"), lit(2L).as("m")))
        .groupBy("fp1", "fp2").agg(sum(col("m")).as("ms"))
        .filter(col("ms") =!= 3L)
      audit("bands", bandsAll, bandsAfter,
          bandsAfter.filter(col("doc_id") % 97 === 13))
        .unionByName(audit("documents", docs, docsAfter,
          docsAfter.filter(col("doc_id") % 97 === 13)))
        .unionByName(audit("embeddings", emb, embAfter,
          embAfter.filter(col("vec_id") % 97 === 13)))
        .unionByName(audit("fingerprints", fpAll, fpAfter, fpLost))
        .unionByName(audit("postings", postAll, postAfter,
          postAfter.filter(col("doc_id") % 97 === 13)))
        .unionByName(audit("shingles", shAll, shAfter, shLost))
        .unionByName(audit("suffix_grams", sgBefore, sgAfter, sgLeft))
        .orderBy("artifact")
    }),

    // Paragraph-level corpus dedup with reassembly (the C4 rule: drop
    // every occurrence of a repeated paragraph except the first, then
    // keep the cleaned document). The test corpus has no newlines, so
    // the "paragraph" unit is the non-overlapping 8-token block —
    // same mechanics, unit swapped at one expression. Keep-first is
    // deterministic: the surviving occurrence of a block is the one
    // with the minimum (doc_id, block_idx), encoded as the single
    // long `ord = doc_id·2²⁰ + blk` so the winner per block is ONE
    // hash-aggregated min — never min(struct(...)) (SortAggregate
    // trap, see the signature pipeline note) and never a window over
    // the block's occurrence group (a boilerplate block occurring 10M
    // times would funnel 10M rows through one window partition; the
    // agg absorbs them map-side). Reassembly collects each doc's kept
    // blocks — bounded by document length, the safe collect_list
    // shape. Scale: two shuffles (winner agg keyed by block text,
    // per-doc reassembly keyed by doc_id) plus the winner join, whose
    // only skew — a mega-duplicated block — joins against exactly one
    // winner row per key (AQE skew-split applies; no pair blowup by
    // construction).
    "dd_paragraph_dedup" -> ((s, dir) => {
      val blkArr = expr(
        """transform(sequence(0, CAST((size(toks) + 7) DIV 8 AS INT) - 1),
          |  i -> struct(i AS blk,
          |              array_join(slice(toks, i * 8 + 1, 8), ' ') AS btext))
          |""".stripMargin)
      val blocks = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), explode(blkArr).as("b"))
        .select(col("doc_id"), col("b.blk").as("blk"), col("b.btext").as("btext"),
          (col("doc_id") * lit(1048576L) + col("b.blk")).as("ord"))
      val winners = blocks.groupBy("btext").agg(min(col("ord")).as("keep_ord"))
      blocks.join(winners, Seq("btext"))
        .withColumn("kept", col("ord") === col("keep_ord"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("blk"), col("btext"))))),
            x => x("btext")), " ")).as("clean_fp"))
        .orderBy("doc_id")
    }),

    // Content-defined chunking (Rabin/Gear-style CDC, the storage-
    // dedup primitive): a chunk boundary falls wherever the rolling
    // hash of the trailing 16-char window has its low 6 bits zero
    // (expected chunk ≈ 64 chars), so boundaries survive insertions/
    // deletions — unlike the reference's fixed-size line chunking
    // (Worker.cc:128-137), an edit near the front of a doc doesn't
    // shift every later chunk. Output: chunks shared across ≥2 docs
    // (the cross-doc redundancy CDC exists to find), deterministic
    // top-50. Scale: chunks come from the one-pass
    // [[graft.functions.CdcChunks]] expression (r18 — the old
    // per-position explode+substring chain walked the string from
    // byte 0 for EVERY position, O(len²) per doc, needed a boundary
    // aggregate exchange plus a doc-keyed join to re-attach the list,
    // and then paid a second from-byte-0 substring walk PER CHUNK to
    // extract it; now boundaries are found and chunks sliced by byte
    // offset in one O(window·len) pass map-side on the document row,
    // so the only exchange left is the chunk aggregate — one row per
    // distinct chunk) and the top-50 is TakeOrderedAndProject — never
    // a global sort. Fragments below [[CdcMinChunk]] are excluded
    // from the report (see that constant for why the clamp lives in
    // the report, not the cut).
    "dd_cdc_chunks" -> ((s, dir) => {
      import graft.functions.RollingHash.cdc_chunks
      val chunks = Tables.documents(s, dir)
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"),
          explode(cdc_chunks(col("text"), CdcWindow, CdcMask)).as("chunk"))
      chunks
        .select(col("doc_id"), md5(col("chunk")).as("chunk_md5"),
          length(col("chunk")).as("chunk_len"))
        .filter(col("chunk_len") >= CdcMinChunk)
        .groupBy("chunk_md5", "chunk_len")
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("chunk_md5").asc)
        .limit(50)
    }),

    // WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken,
    // SIGMOD 2003 — the MOSS algorithm): from each doc's positional
    // 3-gram hash stream, every window of WinnowW consecutive hashes
    // contributes its minimum (ties → rightmost), and the distinct
    // (hash, position) picks are the doc's fingerprint set. The
    // guarantee CDC/minhash lack: any shared run of ≥ WinnowW + k − 1
    // tokens between two docs yields an IDENTICAL fingerprint in
    // both — local, position-aware plagiarism/overlap detection with
    // a density bound of ~2/(w+1) selected per position. The
    // rightmost-tie argmin packs into ONE BIGINT key —
    // h·2²⁰ + (2²⁰−1 − pos) — so the window min IS the selection (no
    // struct ordering). Round 9 widened the position field from 11 to
    // 20 bits (hash 40 bits, key 60 bits — sign-safe): the old
    // pos < 2048 ceiling was only a comment, and an out-of-contract
    // doc silently inverted the tie order. Now docs up to 2²⁰ = 1M
    // positional shingles pack exactly, and a per-row assert_true
    // FAILS LOUDLY beyond that instead of corrupting the argmin
    // (the oracle shares the formula, so the gate alone could never
    // catch it). Report: per-doc
    // fingerprint count, order-free XOR, and min fingerprint. Scale:
    // the per-position window is doc-partitioned (co-partitioned on
    // the shard key, frames of WinnowW rows); nothing global anywhere.
    "dd_winnowing" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      val g = d.select(col("doc_id"),
          posexplode(shinglesOf(col("text"))).as(Seq("pos", "sh")))
        .withColumn("h",
          conv(substring(md5(col("sh")), 1, 10), 16, 10).cast("long"))
        .withColumn("key",
          col("h") * lit(1048576L) + (lit(1048575L) - col("pos")) +
            coalesce(assert_true(col("pos") < 1048576,
              lit("dd_winnowing: position >= 2^20 breaks the packed argmin contract"))
              .cast("long"), lit(0L)))
      val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(0, WinnowW - 1)
      val wDoc = Window.partitionBy(col("doc_id"))
      val picks = g
        .withColumn("pick", min(col("key")).over(wWin))
        .withColumn("n", count(lit(1)).over(wDoc))
        .filter(col("pos") <=
          greatest(lit(0L), col("n") - lit(WinnowW.toLong)))
        .select(col("doc_id"), col("n"), col("pick")).distinct()
      val agg = picks.groupBy("doc_id")
        .agg(max(col("n")).as("n_grams"),
          count(lit(1)).as("n_fp"),
          expr("bit_xor(pick DIV 1048576)").as("fp_xor"),
          min(expr("pick DIV 1048576")).as("min_fp"))
      d.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          coalesce(col("fp_xor"), lit(0L)).as("fp_xor"),
          coalesce(col("min_fp"), lit(0L)).as("min_fp"))
        .orderBy("doc_id")
    }),

    // EXACT shingle Jaccard similarity join via prefix filtering
    // (PPJoin / AllPairs): unlike the LSH path this has RECALL 1 by
    // theorem, not in expectation — two sets with J ≥ t MUST share an
    // element within their first |d| − ⌈t·|d|⌉ + 1 elements when every
    // doc's shingles are sorted by one global rarity order (df asc).
    // Same basis and threshold as dd_ngram_jaccard (distinct 3-gram
    // shingles, J ≥ 0.5), so this is the exact-recall ground truth the
    // LSH→verify pipeline approximates: its output must be a SUPERSET
    // of dd_ngram_jaccard's (pinned in OperatorsSpec, with brute-force
    // equality at sf0.001). Token sets would be degenerate here — the
    // 31-word vocabulary makes 41% of ALL doc pairs word-set-similar —
    // but the 27k-shingle space has avg df ~10, so rarity-ordered
    // prefixes genuinely prune: candidate groups key on each doc's
    // RAREST half, and the length filter (2·na ≥ nb both ways) culls
    // cross-size pairs before any verify. Threshold math is integer
    // cross-multiplication (t = 0.5 ⇒ 2·inter ≥ union), engine-exact.
    // Exact-duplicate classes would make candidate groups quadratic in
    // OUTPUT (those pairs genuinely qualify); the generation buffers
    // stay bounded via the salted pair-gen below.
    "dd_jaccard_prefix" -> ((s, dir) =>
      jaccardPrefixPairsFrom(postingsSubstrate(s, dir).docs)
        .orderBy("doc_a", "doc_b")),

    // Cache-bypassing CONSTRUCTION row for the shingle→df→postings
    // substrate (round-13 verdict #2; the dd_truth_build convention):
    // dd_jaccard_prefix / dd_containment / dd_containment_capped read
    // the registry-memoized frames; this row rebuilds both fresh every
    // execution — the checkpoints ARE the construction cost — and its
    // oracle gates the substrate's exact contents: per doc, the
    // distinct-shingle count, the rarest shingle under the global
    // (df asc, shingle asc) order (= shs[1], so the sorted array is
    // genuinely computed), and the max df over its shingles.
    "dd_postings_build" -> ((s, dir) => {
      val sub = postingsSubstrateOf(
        Tables.documents(s, dir), checkpointDocSh = true)
      val maxDf = sub.docSh.groupBy("doc_id").agg(max(col("sdf")).as("max_df"))
      sub.docs
        .select(col("doc_id"), col("n").as("n_shingles"),
          element_at(col("shs"), 1).as("rarest_shingle"))
        .join(maxDf, "doc_id")
        .orderBy("doc_id")
    }),

    // Cache-bypassing CONSTRUCTION row for the sampled exact truth set
    // (the dd_simhash64_build convention): dd_lsh_recall /
    // dd_oph_recall / dd_lsh_band_sweep read the registry-memoized
    // frame; this row rebuilds it fresh every execution so the bench
    // keeps pricing the PPJoin truth-set construction itself, and the
    // oracle keeps gating its exact contents.
    "dd_truth_build" -> ((s, dir) =>
      jaccardPrefixPairs(hashSample(s, dir)).select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")),

    // Sampled recall estimation for the dedup stack — the evaluation
    // harness ss_ann_recall is for ANN, pointed at near-dup detection:
    // on a hash-sampled half of the corpus (membership by the same
    // reproducible md5-range mechanism as pipe_hash_sample), run BOTH
    // the LSH→verify pipeline and the exact PPJoin ground truth, and
    // report |LSH ∩ exact| / |exact|. This is exactly how recall IS
    // measured at 100 TB: the exact join is unaffordable on the full
    // corpus (that's why LSH exists), but on a hash sample it prices
    // in at the sample's quadratic density, and pair recall between
    // sampled docs estimates corpus pair recall (each true pair
    // survives sampling with probability p², uniformly — band counts
    // and thresholds are tuned against this number).
    "dd_lsh_recall" -> ((s, dir) => {
      val sample = hashSample(s, dir)
      val exact = sampledTruthPairs(s, dir)
      val lsh = verifiedPairsOf(sample, dedup = true).select("doc_a", "doc_b")
      val hit = exact.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_true"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_true"), col("n_lsh"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true"), 4).as("recall4"))
    }),

    // EXACT shingle-containment join (|A∩B| ≥ 0.8·|A|) — the
    // ASYMMETRIC near-dup case Jaccard is blind to: a paragraph quoted
    // whole inside a much larger page has tiny Jaccard (union is
    // page-sized) but containment ~1. Jaccard LSH misses it for the
    // same reason, so the blocking must change too: prefix filtering
    // on the SMALL side only — if |A∩B| ≥ 0.8·|A|, B must hit one of
    // A's ⌊0.2·|A|⌋+1 rarest shingles — joined against the full
    // posting list (an equi-join, so a hot shingle spills in
    // sort-merge rather than growing any buffer; rarity ordering
    // keeps prefix postings short). Verify is the same
    // array-intersect, threshold as integer cross-multiplication
    // (5·inter ≥ 4·|A|). Output: (doc_small ⊂~ doc_big), both
    // directions possible, self excluded.
    "dd_containment" -> ((s, dir) => {
      // rides the memoized shingle→df→postings substrate (round-13
      // verdict #2) — construction priced by dd_postings_build
      val sub = postingsSubstrate(s, dir)
      val docSh = sub.docSh
      val docs = sub.docs
      // prefix = the ⌊n/5⌋+1 rarest shingles of the SMALL side
      val pre = docs
        .withColumn("plen", (expr("n DIV 5") + 1).cast("int"))
        .select(col("doc_id").as("doc_small"),
          explode(slice(col("shs"), lit(1), col("plen"))).as("shingle"))
      val cand = pre
        .join(docSh.select(col("doc_id").as("doc_big"), col("shingle")), "shingle")
        .filter(col("doc_small") =!= col("doc_big"))
        .select("doc_small", "doc_big")
        .distinct()
      // merge-join hint, as in verifiedPairs: the candidate set's size
      // is data-dependent and its stats mislead the planner into
      // broadcasting it; sort-merge spills instead.
      cand.hint("merge")
        .join(docs.select(col("doc_id").as("doc_small"), col("shs").as("sa"),
          col("n").as("na")), "doc_small")
        .join(docs.select(col("doc_id").as("doc_big"), col("shs").as("sb")),
          "doc_big")
        .withColumn("n_inter",
          size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .filter(col("n_inter") * 5 >= col("na") * 4)
        .select(col("doc_small"), col("doc_big"), col("n_inter"), col("na"),
          (col("n_inter").cast("double") / col("na")).as("containment"))
        .orderBy("doc_small", "doc_big")
    }),

    // Df-capped containment join — the bounded-cost production variant
    // of dd_containment: shingles with document frequency above
    // [[ContainmentDfCap]] are excluded from the CANDIDATE stage (both
    // the small side's prefix and the posting list); verify stays the
    // same exact array-intersect over FULL shingle sets. Recall
    // contract: a containing pair (A ⊂~ B) is still guaranteed
    // whenever A's ⌊|A|/5⌋+1 rarest shingles all sit under the cap —
    // true for every doc on the clean corpus (measured max prefix df:
    // 3 at sf0.01, 12 at sf0.1, both < 16), so this row is
    // value-identical to dd_containment there. What the cap buys: a
    // boilerplate shingle shared by thousands of docs can no longer
    // mint a quadratic candidate block — the uncapped 20×-clone
    // stress was output-dominated at 130 s; under the cap the clone
    // classes (every shingle df ≥ 20 > cap) generate zero candidates.
    // The tradeoff is documented instead of silent: the dropped pairs
    // are those whose small side is boilerplate-only, exactly the
    // docs exact dedup removes upstream in the production ordering.
    "dd_containment_capped" -> ((s, dir) => {
      // rides the memoized shingle→df→postings substrate (round-13
      // verdict #2) — docSh carries sdf, so the cold filter is a
      // scan of the materialized postings, not a rebuild
      val sub = postingsSubstrate(s, dir)
      val docs = sub.docs
      val cold = sub.docSh.filter(col("sdf") <= lit(ContainmentDfCap))
      val coldArr = cold
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("sdf"), col("shingle")))).as("st"))
        .select(col("doc_id"),
          transform(col("st"), e => e.getField("shingle")).as("cold_shs"))
      // prefix = the ⌊n/5⌋+1 rarest COLD shingles (n = FULL shingle
      // count — the containment bound is about |A|, not the cold
      // subset); a doc with fewer cold shingles gets a shorter prefix
      // (slice stops at the array end), a boilerplate-only doc gets
      // none
      val pre = docs.join(coldArr, "doc_id")
        .withColumn("plen", (expr("n DIV 5") + 1).cast("int"))
        .select(col("doc_id").as("doc_small"),
          explode(slice(col("cold_shs"), lit(1), col("plen"))).as("shingle"))
      val cand = pre
        .join(cold.select(col("doc_id").as("doc_big"), col("shingle")), "shingle")
        .filter(col("doc_small") =!= col("doc_big"))
        .select("doc_small", "doc_big")
        .distinct()
      cand.hint("merge")
        .join(docs.select(col("doc_id").as("doc_small"), col("shs").as("sa"),
          col("n").as("na")), "doc_small")
        .join(docs.select(col("doc_id").as("doc_big"), col("shs").as("sb")),
          "doc_big")
        .withColumn("n_inter",
          size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .filter(col("n_inter") * 5 >= col("na") * 4)
        .select(col("doc_small"), col("doc_big"), col("n_inter"), col("na"),
          (col("n_inter").cast("double") / col("na")).as("containment"))
        .orderBy("doc_small", "doc_big")
    }),

    // Banding tuning table — the (b, r) decision every minhash-LSH
    // deployment makes, MEASURED instead of assumed: on the same hash
    // sample as dd_lsh_recall, band the 16 signatures as 2×8, 4×4,
    // 8×2 and 16×1, and report per configuration the candidate volume
    // (the cost axis: more bands ⇒ more pairs to verify) and the
    // verified-pair count against the exact PPJoin ground truth (the
    // recall axis). Signatures compute ONCE (checkpointed; four band
    // legs re-band the same frame); all four candidate sets verify in
    // one union pass against one shingle-set frame. The b=4 row is
    // the production configuration dd_minhash runs.
    "dd_lsh_band_sweep" -> ((s, dir) => {
      val sample = hashSample(s, dir)
      val sigs = signaturesOf(sample).localCheckpoint(false)
      val shing = sample
        .select(col("doc_id"), array_distinct(shinglesOf(col("text"))).as("shset"))
        .select(col("doc_id"), col("shset"), size(col("shset")).cast("long").as("n"))
        .localCheckpoint(false)
      val legs = Seq(2, 4, 8, 16).map { b =>
        val rpb = NumHashes / b
        val bandStructs = (0 until b).map { j =>
          val cols = (0 until rpb).map(i => col(s"sig${j * rpb + i}"))
          struct(lit(j).as("band_idx"), concat_ws("|", cols: _*).as("band_hash"))
        }
        val banded = sigs
          .select(col("doc_id"), explode(array(bandStructs: _*)).as("bd"))
          .select(col("doc_id"), col("bd.band_idx").as("band_idx"),
            col("bd.band_hash").as("band_hash"))
        PairGen.saltedPairs(
            banded.select(col("band_idx"), col("band_hash"),
              struct(col("doc_id")).as("v")),
            Seq("band_idx", "band_hash"), "doc_id")
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
          .select(lit(b).as("bands"), col("doc_a"), col("doc_b"))
      }
      val cand = legs.reduce(_ union _)
      val sweep = cand
        .join(shing.select(col("doc_id").as("doc_a"), col("shset").as("sa"),
          col("n").as("na")), "doc_a")
        .join(shing.select(col("doc_id").as("doc_b"), col("shset").as("sb"),
          col("n").as("nb")), "doc_b")
        .withColumn("ni", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("ok",
          (col("ni") * 2 >= col("na") + col("nb") - col("ni")).cast("long"))
        .groupBy("bands")
        .agg(count(lit(1)).as("n_candidates"), sum(col("ok")).as("n_verified"))
      val nTrue = sampledTruthPairs(s, dir)
        .agg(count(lit(1)).as("n_true"))
      sweep.crossJoin(broadcast(nTrue))
        .select(col("bands").cast("int").as("bands"),
          (lit(NumHashes) / col("bands")).cast("int").as("rows_per_band"),
          col("n_candidates"), col("n_verified"), col("n_true"),
          round(col("n_verified").cast("double") / col("n_true"), 4).as("recall4"))
        .orderBy("bands")
    }),

    // Embedding cosine near-dup with sign-bit LSH blocking.
    // Deliberate rounding asymmetry vs the jaccard queries: a cosine is
    // quasi-continuous (midpoint hit probability ~1e-12 per value), so
    // round(,4) is midpoint-safe here and buys robustness against any
    // future accumulation-order difference in either engine's dot
    // product. Small-denominator rationals (jaccard, quality) are the
    // opposite: they LAND on midpoints, so those stay unrounded.
    "dd_embed_cos" -> ((s, dir) => {
      val v = Vec.bucketedVectors(Tables.embeddings(s, dir))
        .select("vec_id", "e", "bucket", "nrm")
      v.as("a")
        .join(v.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          round(dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 4))
        .filter(col("cos") >= 0.3)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
        .orderBy("vec_a", "vec_b")
    }),

    // Cross-modal audit — SemDeDup's own validity question: do
    // semantic near-dups (embedding cosine, sign-bucket blocked)
    // coincide with TEXTUAL near-dups? Each semantic pair (vec ids
    // align with doc ids in this corpus) picks up its exact shingle
    // Jaccard and a textual-dup verdict at the dd_ngram_jaccard
    // threshold. High cosine with low Jaccard = paraphrase mass
    // (what semantic dedup uniquely removes); both high = redundancy
    // the cheaper text pipeline would have caught anyway. One
    // embedding self-join (bucket-blocked) + two doc-keyed lookups.
    "dd_semantic_text_check" -> ((s, dir) => {
      val v = Vec.bucketedVectors(Tables.embeddings(s, dir))
        .select("vec_id", "e", "bucket", "nrm")
      val pairs = v.as("a")
        .join(v.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          round(dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 4))
        .filter(col("cos") >= 0.3)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), array_distinct(shinglesOf(col("text"))).as("shset"))
        .select(col("doc_id"), col("shset"), size(col("shset")).cast("long").as("n"))
      val denom = col("na") + col("nb") - col("n_inter")
      // LEFT joins + coalesce, matching the oracle: a vec_id with no
      // documents row keeps its pair with n = 0 (→ null jaccard)
      // instead of silently dropping it — parity no longer rests on
      // the corpus's vec_id ⊆ doc_id alignment.
      pairs
        .join(sh.select(col("doc_id").as("vec_a"), col("shset").as("sa"),
          col("n").as("na0")), Seq("vec_a"), "left")
        .join(sh.select(col("doc_id").as("vec_b"), col("shset").as("sb"),
          col("n").as("nb0")), Seq("vec_b"), "left")
        .withColumn("na", coalesce(col("na0"), lit(0L)))
        .withColumn("nb", coalesce(col("nb0"), lit(0L)))
        .withColumn("n_inter",
          when(col("sa").isNull || col("sb").isNull, lit(0L))
            .otherwise(size(array_intersect(col("sa"), col("sb"))).cast("long")))
        .select(col("vec_a"), col("vec_b"), col("cos"), col("n_inter"),
          when(denom === 0, lit(null))
            .otherwise(col("n_inter").cast("double") / denom).as("jaccard"),
          when(denom === 0, lit(null))
            .otherwise(col("n_inter") * 2 >= denom).as("textual_dup"))
        .orderBy("vec_a", "vec_b")
    }),

    // Multi-probe variant: each vector also probes the `bits` buckets
    // at Hamming distance 1 from its own (flip one sign bit via XOR on
    // the integer bucket), recovering pairs that a single sign-LSH
    // bucket misses when a coordinate sits near zero. Candidate volume
    // grows (bits+1)×, still O(n·c) — the standard recall/cost dial of
    // LSH at scale, riding the computed bit dial (Vec.signBucketBits).
    // Semantic dedup survivors (the SemDeDup shape): within-bucket
    // cosine near-dup pairs (same blocking + threshold as
    // dd_embed_cos), victims = the larger vec_id of any qualifying
    // pair (keep-first, deterministic, no iteration needed — victimhood
    // is monotone), then a per-label report of kept vs total. The
    // production semantic-dedup loop is exactly this with IVF cells
    // for buckets and a trained embedding; the plan — blocked pair
    // generation, a distinct victim projection, one anti-join — is
    // what survives the swap.
    "dd_semantic_survivors" -> ((s, dir) => {
      val v = Vec.bucketedVectors(Tables.embeddings(s, dir))
        .select("vec_id", "label", "e", "bucket", "nrm")
      val victims = v.as("a")
        .join(v.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .filter(round(dot(col("a.e"), col("b.e")) /
          (col("a.nrm") * col("b.nrm")), 4) >= 0.3)
        .select(col("b.vec_id").as("vec_id")).distinct()
      v.join(victims, Seq("vec_id"), "left_anti")
        .groupBy("label").agg(count(lit(1)).as("n_kept"))
        .join(v.groupBy("label").agg(count(lit(1)).as("n_vecs")), Seq("label"))
        .select(col("label"), col("n_vecs"), col("n_kept"))
        .orderBy("label")
    }),

    "dd_embed_multiprobe" -> ((s, dir) => {
      val v = Vec.bucketedVectors(Tables.embeddings(s, dir))
        .select("vec_id", "e", "bucket", "nrm", "bits")
      val probes = v.select(col("vec_id"), col("e"), col("nrm"),
        explode(expr("concat(array(bucket), transform(sequence(0, bits - 1), " +
          "k -> bucket ^ shiftleft(CAST(1 AS BIGINT), k)))")).as("probe"))
      probes.as("a")
        .join(v.as("b"),
          col("a.probe") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(dot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 4).as("cos"))
        .filter(col("cos") >= 0.3)
        .distinct()
        .orderBy("vec_a", "vec_b")
    }),

    // Corpus novelty curve — the diminishing-returns signal a crawl
    // operator watches: per doc (in ingestion = doc_id order), what
    // fraction of its distinct shingles has never appeared in any
    // earlier doc. "First appearance" is min(doc_id) per shingle —
    // one map-side-combined aggregation keyed by shingle, then a
    // co-partitioned join back on the same key (no second shuffle of
    // the shingle frame) and a per-doc count. A novelty fraction
    // trending to zero says the crawl is re-reading the web; the
    // 100 TB shape is exactly this plan with shingle-keyed bucketing.
    // BENCHMARK DECONTAMINATION — the GPT-3/PaLM eval-overlap scan
    // (Brown et al. 2020 appx. C): a training document is contaminated
    // if it shares any 13-token n-gram with the held-out eval set
    // (here: the md5 < '0800' slice, ~3% of the corpus, standing in
    // for a benchmark suite). The production shape is exactly this
    // plan: the eval set's distinct 13-grams form a bounded index —
    // benchmark suites are MBs, not TBs — that BROADCASTS to every
    // worker, and the training stream is scanned map-side with NO
    // shuffle of training data at all; only the (tiny) hit frame
    // aggregates. Output: each contaminated training doc with its
    // total/hit gram counts and how many distinct eval docs it
    // collides with. Docs shorter than 13 tokens have no 13-grams and
    // cannot be flagged — the method's documented blind spot.
    "dd_decontaminate" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(
            graft.functions.WordShingles.word_shingles(col("text"), 13)))
            .as("gram"))
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 4) < "0800"
      val evalG = grams.filter(isEval)
        .select(col("doc_id").as("eval_doc"), col("gram"))
      grams.filter(!isEval)
        .join(broadcast(evalG), "gram")
        .groupBy("doc_id")
        .agg(countDistinct(col("gram")).as("n_hit_grams"),
          countDistinct(col("eval_doc")).as("n_eval_docs"))
        .join(Tables.documents(s, dir).select(col("doc_id"),
          greatest(size(tokens(col("text"))) - 12, lit(0))
            .cast("long").as("n_grams")), "doc_id")
        .select("doc_id", "n_grams", "n_hit_grams", "n_eval_docs")
        .orderBy("doc_id")
    }),

    // SPAN-LEVEL DECONTAMINATION — the surgical variant (the PaLM-2
    // treatment): instead of dropping a contaminated document whole
    // (dd_decontaminate's verdict), excise only the token spans
    // covered by eval-matching 13-grams and keep the rest. A hit at
    // position p covers tokens [p, p+12]; overlapping or ADJACENT
    // covered ranges merge into one span (the island trick over the
    // per-doc hit positions — doc-bounded windows, never corpus-wide).
    // Output per contaminated doc: token total, span count, removed
    // and kept token counts — the cut list a pipeline applies before
    // packing. Same broadcast-eval-index scan as dd_decontaminate: no
    // shuffle of training data.
    "dd_decontaminate_spans" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.WordShingles.word_shingles(col("text"), 13))
            .as(Seq("p", "gram")))
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 4) < "0800"
      val evalG = grams.filter(isEval).select("gram").distinct()
      val hits = grams.filter(!isEval)
        .join(broadcast(evalG), "gram")
        .select(col("doc_id"), col("p").cast("long").as("p"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val isl = hits
        .withColumn("prev_end", max(col("p") + 12)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk", when(col("prev_end").isNull ||
          col("p") > col("prev_end") + 1, 1L).otherwise(0L))
        .withColumn("island", sum(col("brk"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val spans = isl.groupBy("doc_id", "island")
        .agg(min(col("p")).as("st"), (max(col("p")) + lit(12L)).as("en"))
      spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("en") - col("st") + 1).as("n_removed"))
        .join(Tables.documents(s, dir).select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")), "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("n_removed"),
          (col("n_tokens") - col("n_removed")).as("n_kept"))
        .orderBy("doc_id")
    }),

    "dd_novelty_curve" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(shinglesOf(col("text")))).as("shingle"))
      val first = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
        .withColumn("novel4",
          round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 4))
        .orderBy("doc_id")
    }),

    // Dedup ablation report — what each tier actually removes, the
    // table every dedup paper and every pipeline review asks for:
    // tier 1 = raw corpus, tier 2 = exact-duplicate survivors (min
    // doc_id per md5 class), tier 3 = near-dup survivors (connected-
    // component victims of the LSH+verify graph built OVER tier 2 —
    // tiers nest, matching production order where exact dedup always
    // runs first; this is also why tier-3 cost is bounded: the pair
    // generator never sees an exact-duplicate class). Output: three
    // rows of (docs, tokens) + per-tier removal. Composes the same
    // scale-shaped stages the individual queries run.
    "dd_ablation" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          size(tokens(col("text"))).cast("long").as("nt"))
        .localCheckpoint(false)
      val wFp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      val exact = docs.withColumn("fp", md5(col("text")))
        .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
        .select("doc_id", "text", "nt")
        .localCheckpoint(false) // reused by pairs + the report + anti-join
      val pairs = verifiedPairsOf(exact, dedup = false)
        .select("doc_a", "doc_b")
      val victims = DedupClusters.connectedComponents(pairs)
        .filter(col("id") =!= col("label")).select(col("id"))
      val near = exact.join(victims, exact("doc_id") === victims("id"),
        "left_anti")
      def tier(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
          .select(lit(name).as("tier"), col("n_docs"), col("n_tokens"))
      tier("1_raw", docs)
        .unionByName(tier("2_exact", exact))
        .unionByName(tier("3_near", near))
        .orderBy("tier")
    })
  )

  /** SimHash-64 near-dup pairs (hamming ≤ 3 via 4×16-bit banding) —
    * the dd_simhash64_pairs body, shared with [[DedupClusters]]'s
    * cluster-agreement audit. Same native-long bit extraction as
    * dd_simhash; the 64-bit majority vote is ONE typed accumulator
    * aggregate (int[65] buffer per doc), not 64 per-bit sum columns.
    * Candidate pairs come from [[PairGen.saltedPairs]]
    * (single-execution plan tree) — bounded aggregation buffers even
    * when an exact-duplicate class lands a whole corpus slice in one
    * 16-bit band bucket. Materialized once per (session, dir) through
    * [[graft.CacheRegistry]] — the dd_simhash64_pairs row and the
    * cluster-agreement audit share the signature pipeline, same as
    * [[verifiedPairs]].
    */
  private val shPairsCache = graft.CacheRegistry.newCache()
  private[operators] def simhash64Pairs(s: SparkSession, dir: String): DataFrame =
    graft.CacheRegistry.cached[DataFrame](shPairsCache, s, dir, "simhash64")(
      simhash64PairsFresh(s, dir).localCheckpoint(false))

  private def simhash64PairsFresh(s: SparkSession, dir: String): DataFrame = {
    val hashes = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .withColumn("hl", graft.functions.Md5PrefixLong.md5_prefix_long(col("word")))
      .groupBy("doc_id")
      .agg(graft.functions.SimhashAgg.simhash(64)(col("hl")).as("sh"))
    val banded = hashes.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band_idx"),
          expr(s"(sh >> ${16 * j}) & 65535").as("band_val"))): _*)).as("bd"))
      .select(col("doc_id"), col("sh"),
        col("bd.band_idx").as("band_idx"), col("bd.band_val").as("band_val"))
    PairGen.saltedPairs(
        banded.select(col("band_idx"), col("band_val"),
          struct(col("doc_id"), col("sh")).as("v")),
        Seq("band_idx", "band_val"), "doc_id")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.sh ^ b.sh) AS INT)").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** (doc_id, band_idx, band_hash) LSH band keys of `documents` — the
    * signature pipeline exposed for the streaming admission row
    * (st_incremental_dedup band-hashes each micro-batch with exactly
    * the pipeline the batch dual states).
    */
  private[graft] def bandFrameOf(documents: DataFrame): DataFrame =
    bands(signaturesOf(documents))

  /** Verified near-dup pairs (LSH candidates → exact 3-gram Jaccard
    * ≥ 0.5) — the textbook LSH→verify pipeline, exposed for
    * [[DedupClusters]]'s connected components as well as the
    * dd_ngram_jaccard query.
    */
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir, dedup = true).orderBy("doc_a", "doc_b")

  /** The LSH→verify pipeline without the presentation sort.
    * `dedup = false` additionally skips the candidate-pair distinct —
    * consumers that are multiplicity-blind (connected components: a
    * duplicate edge changes no min) save that exchange; the verify
    * joins then process each pair once per shared band (≤ Bands×).
    *
    * MATERIALIZED once per (session, dir, dedup) — round-9 mandate:
    * the ~8 graph/cluster consumers (dd_degree_hist, dd_label_prop,
    * dd_modularity, dd_medoid, dd_clusters, dd_survivors,
    * dd_pagerank*, dd_triangles) each used to rerun the LSH→verify
    * pipeline from the corpus. `localCheckpoint(eager = false)` makes
    * the first consumer pay the pipeline once and every later
    * consumer scan the materialized pair blocks — the production
    * shape at 100 TB, where verified pairs are computed once per
    * corpus snapshot and clustering jobs read the snapshot. (The
    * [[Similarity]] trained-model cache is the same pattern.)
    * Lifetime/staleness via [[graft.CacheRegistry]]: rewriting the
    * parquet under `dir` must go through `Tables.invalidate(dir)`
    * (drops the materialization with the table handle), and finished
    * sessions drop their entries via `Tables.invalidateSession`.
    */
  private val pairsCache = graft.CacheRegistry.newCache()
  private[operators] def verifiedPairs(
      s: SparkSession, dir: String, dedup: Boolean): DataFrame =
    graft.CacheRegistry.cached[DataFrame](pairsCache, s, dir, s"pairs|$dedup")(
      verifiedPairsOf(Tables.documents(s, dir), dedup)
        .localCheckpoint(false))

  /** Recall audit for [[ContainmentDfCap]]: per doc, the MAX document
    * frequency among its ⌊n/5⌋+1 rarest shingles (the would-be
    * containment prefix computed over ALL shingles, before the cold
    * filter). dd_containment_capped's recall contract — capped ≡
    * uncapped on a clean corpus — holds exactly when this max stays
    * below the cap for every doc: then no prefix shingle is
    * boilerplate-filtered and every qualifying pair still collides.
    * One row: (max_prefix_df, n_docs, n_docs_over_cap). Re-run per
    * scale factor / corpus refresh (DedupAuditSpec pins sf0.001 and
    * sf0.01; graft.Stress covers amplified corpora) so a corpus
    * change can't silently break the contract.
    */
  def containmentPrefixDfAudit(documents: DataFrame): DataFrame = {
    val docSh = documents
      .select(col("doc_id"),
        explode(array_distinct(shinglesOf(col("text")))).as("shingle"))
    val sdf = docSh.groupBy("shingle").agg(count(lit(1)).as("sdf"))
    val perDoc = docSh.join(sdf, "shingle")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("sdf"), col("shingle")))).as("st"))
      .select(col("doc_id"),
        transform(col("st"), e => e.getField("sdf")).as("dfs"))
      .withColumn("plen", (expr("size(dfs) DIV 5") + 1).cast("int"))
      .select(col("doc_id"),
        array_max(slice(col("dfs"), lit(1), col("plen"))).as("max_df"))
    perDoc.agg(
      max(col("max_df")).as("max_prefix_df"),
      count(lit(1)).as("n_docs"),
      sum(when(col("max_df") > ContainmentDfCap, 1L).otherwise(0L))
        .as("n_docs_over_cap"))
  }

  /** Minimum duplicated-span length in CHARS for dd_suffix_spans — a
    * power of two, so the class-doubling loop is exactly log₂(L)
    * fixed rounds (32 chars ≈ a 6-word run on this corpus; production
    * dials it to Lee et al.'s 50-token threshold and pays one more
    * round per doubling).
    */
  val SuffixSpanL = 32

  /** Seed gram width for [[suffixSpansOf]]'s prefix doubling: classes
    * enter the loop at base-char granularity, so rounds =
    * log₂(L/base). Power of two; every supported L must satisfy
    * L ≥ 2·base (the auto default clamps to spanL/2 for smaller L).
    * Round 17: 8 → 16, A/B-measured with `LegacyAb suffixab
    * sf0.1 32 8 16` (interleaved, span equality asserted): per-arm
    * min 9.70 s (base 8, two doubling rounds) vs 8.45 s (base 16,
    * ONE round) — one fewer round (a window + two corpus-position
    * shuffles) beats the wider 16-char seed keys in the one seed
    * aggregate, and the gap widens with data (the saved round
    * shuffles corpus-position rows; the seed-key widening is
    * amortized by the explode both arms pay).
    */
  val SuffixSeedBase = 16

  /** One row per position with ≥ [[SuffixSpanL]]-like `spanL` chars
    * remaining: (doc_id, p, g) where g is the full L-char gram at p —
    * the probeable form of the suffix-class index (membership of a
    * position's L-gram in a corpus's gram set IS L-char-span
    * duplication against that corpus; exact, no hashing). Shared by
    * the index-build row and the streaming admission's batch side.
    */
  private[graft] def suffixGramsOf(documents: DataFrame, spanL: Int): DataFrame =
    documents
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= spanL)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, len - ${spanL - 1}), i -> substring(text, i, $spanL))"))
        .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("p"), col("g"))

  /** 128-bit gram fingerprint: two independent codegen'd xxhash64
    * lanes. The salt comes FIRST in the second lane — Spark's
    * multi-arg xxhash64 folds the running hash in as the seed, so
    * `xxhash64(lit(1L), g)` hashes the gram under a different seed
    * (a genuinely different hash function), whereas the round-16 form
    * `xxhash64(g, lit(1L))` made fp2 a pure function of fp1 (any fp1
    * collision was automatically an (fp1,fp2) collision — 64-bit, not
    * 128-bit, resistance; the round-16 advice-high finding). With
    * independent lanes, collision odds for two DISTINCT grams are
    * ~2⁻¹²⁸ per pair — at 10¹² indexed grams (100 TB scale) the
    * birthday bound is ~10⁻¹⁵, so fingerprint equality is gram
    * equality for every practical corpus, and the index stores
    * 16 bytes + a 1-char partition prefix instead of the raw L chars
    * (round-16 verdict #3: the raw-gram publish was a corpus-chars ×
    * L-bytes artifact, ~4-8× the fingerprinted form). Output-invariant
    * by construction: fingerprints only ever key joins/groupings;
    * every declared row reports counts over them.
    */
  private[graft] def gramFp(g: Column): Seq[Column] =
    Seq(xxhash64(g).as("fp1"), xxhash64(lit(1L), g).as("fp2"))

  /** Publish (once per session × dir, idempotent overwrite) the served
    * L-gram index of the STATIC corpus slice (doc_id % 10 ≠ 7 — the
    * st_incremental_dedup admission scenario's nightly corpus; the
    * %10 = 7 slice is the arriving delta) and return the parquet
    * root — the suffix family's ss_ivf_persist analogue: the index a
    * serving tier reads, outliving any one job. One row per DISTINCT
    * gram, stored as `(c, fp1, fp2)` — the 128-bit [[gramFp]]
    * fingerprint plus the first char `c` (the census/range-partition
    * key); the raw gram string never leaves the build job. The DuckDB
    * oracle states membership on gram strings from the raw corpus —
    * counts agree because distinct grams ↔ distinct fingerprints
    * (no collisions at any tested or practical scale, see [[gramFp]]).
    */
  private val suffixIndexCache = graft.CacheRegistry.newCache()
  private[graft] def publishedSuffixGramIndex(s: SparkSession, dir: String): String =
    graft.CacheRegistry.cached[String](suffixIndexCache, s, dir, "suffixGramIdx") {
      val root = graft.Scratch.session(s, dir, "suffix_index")
      suffixGramsOf(
          Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(10)) =!= 7),
          SuffixSpanL)
        .select("g").distinct()
        .select(substring(col("g"), 1, 1).as("c") +: gramFp(col("g")): _*)
        .write.mode("overwrite").parquet(root)
      root
    }

  /** The dd_suffix_spans body over an arbitrary document frame,
    * parameterized by the span length (a power of two ≥ 2) so a sweep
    * over L measures the log₂(L)-round scaling directly (SCALE.md
    * round 14). See the query's comment for the algorithm and
    * exactness argument.
    */
  private[graft] def suffixSpansOf(documents: DataFrame, spanL: Int,
      base: Int = 0): DataFrame = {
    // base 0 = auto: the measured-best [[SuffixSeedBase]], clamped to
    // spanL/2 so CLI sweeps at small L keep a valid power-of-two seed
    val seedBase = if (base > 0) base else math.min(SuffixSeedBase, spanL / 2)
    // seedBase-char classes seed the loop (one short-string aggregate
    // beats extra long-key rounds; the doubling structure — and its
    // log₂ cost curve — is unchanged, just entered log₂(seedBase)
    // levels up; base 4 vs 8 A/B-measured in SCALE.md round 14, 8 vs
    // 16 in round 17, via the `LegacyAb suffixab` A/B). The base
    // parameter exists for that A/B harness only; queries use the
    // auto default. seedBase must itself be a power of two: the
    // doubling loop steps w = seedBase, 2·seedBase, 4·seedBase … and
    // exits at w == spanL only when spanL/seedBase is a power of two
    // — a non-power base (reachable via the suffixab CLI) would
    // overshoot spanL and silently return classes wider than L.
    require(seedBase >= 1 && (seedBase & (seedBase - 1)) == 0,
      s"seed base must be a power of two >= 1, got $seedBase")
    require(spanL >= 2 * seedBase && (spanL & (spanL - 1)) == 0,
      s"spanL must be a power of two >= ${2 * seedBase}, got $spanL")
    import org.apache.spark.sql.expressions.Window
    val pk = 1048576L
    // No localCheckpoint on the doc frame (round 18): its two
    // consumers are the gram explode (needs text) and the final
    // len-filter join (needs doc_id+len only, column-pruned at the
    // parquet scan) — materializing the full corpus TEXT to block
    // storage to save a two-narrow-column re-scan was a net loss.
    val d = documents.filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    // one row per position, packed to TWO LONGS (ord, cls) for the
    // whole loop — doc_id/p recompute from ord by div/mod, so each
    // round shuffles 16 bytes a position, not the full projection
    val grams = d
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, len), i -> substring(text, i, $seedBase))"))
        .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("g"))
      // BOTH halves of the packing contract fail loudly: pos < 2²⁰
      // (the field width) and doc_id < 2⁴³ (so doc_id·2²⁰ + p stays
      // inside a positive LONG — a silent overflow would collide
      // class ids and corrupt spans instead of erroring)
      .withColumn("ord",
        col("doc_id") * lit(pk) + col("p") +
          coalesce(assert_true(col("p") < lit(pk),
            lit("dd_suffix_spans: position >= 2^20 breaks the packed " +
              "class-id contract")).cast("long"), lit(0L)) +
          coalesce(assert_true(col("doc_id") < lit(8796093022208L),
            lit("dd_suffix_spans: doc_id >= 2^43 overflows the packed " +
              "(doc_id, pos) LONG")).cast("long"), lit(0L)))
    // seed: base-char equality classes, id = min packed position (a
    // truncated tail gram is a shorter string, so truncation shapes
    // are distinct classes from the start). Round 18 (guide §2.3/§2.4):
    // the old groupBy(g)+join-back shuffled every corpus position
    // TWICE keyed by the seed-gram STRING (partial aggregation buys
    // nothing — most seed grams are unique — so the aggregate exchange
    // carried ~one (g, min) row per position, and the join-back
    // re-shuffled and SORTED the position rows by the same string
    // key); one unbounded-frame min window computes the identical
    // cls = min(ord) over gram-equality classes with ONE exchange,
    // keyed by the 128-bit [[gramFp]] fingerprint — two fixed-width
    // longs instead of a string, the collision-resistance argument the
    // suffix index format already bakes in (fp equality = gram
    // equality to ~2⁻¹²⁸ per pair; outputs oracle-gated at every
    // tested sf). The window's unbounded frame aggregates each class
    // group once and emits per row, spilling per group if a
    // degenerate corpus makes one gram enormous — the same hot-key
    // exposure the old string join had in its sort.
    val wSeed = Window.partitionBy("f1", "f2")
    var t = grams
      .select(col("ord"), xxhash64(col("g")).as("f1"),
        xxhash64(lit(1L), col("g")).as("f2"))
      .select(col("ord"), min(col("ord")).over(wSeed).as("cls"))
    // positions are dense (one row per p), so a doc-partitioned lead
    // by w ROWS is the class at position p+w — per-task sort, never
    // global
    val wDoc = Window.partitionBy(expr(s"ord DIV $pk")).orderBy(col("ord"))
    // cls'(p) = class of (cls(p), cls(p+w)); -1 marks past-the-end so
    // truncation shapes stay distinguishable. Round 18: the class
    // re-labeling is the same window-min collapse as the seed —
    // min(ord) partitioned by the (clsa, clsb) pair replaces the
    // groupBy+join-back, cutting each round from three corpus-
    // position shuffles (doc window + aggregate + join) to two (doc
    // window + class window), and nothing in the loop is consumed
    // twice anymore, so the per-round localCheckpoints (two full
    // position-table materializations per round) are gone — the whole
    // operator is ONE linear plan whose stages back-feed through
    // shuffle files, not checkpoint blocks (and whose explain dump
    // shows every exchange; the r17 dumps could only show the last
    // checkpoint segment).
    var w = seedBase
    while (w * 2 < spanL) {
      t = t
        .withColumn("clsb", coalesce(lead(col("cls"), w).over(wDoc), lit(-1L)))
        .select(col("ord"), col("cls").as("clsa"), col("clsb"))
        .select(col("ord"), min(col("ord"))
          .over(Window.partitionBy("clsa", "clsb")).as("cls"))
      w *= 2
    }
    // Last doubling round: the SAME doc-window pass also computes
    // L-window eligibility — positions are dense, so p + L − 1 ≤ len
    // ⟺ a row L−1 ahead exists in the doc partition (round 18: this
    // replaces the join back to the doc table for `len`, the last
    // join in the operator; both leads share one window spec, one
    // WindowExec). Eligible rows filter MAP-SIDE before the final
    // class exchange: a class containing an eligible (full-L-window)
    // position contains ONLY eligible positions (truncation shapes
    // are distinct classes by construction, at every doubling level),
    // so dropping ineligible rows changes no surviving class id
    // (min(ord) over an all-eligible group) and no dup verdict below.
    val full = t
      .select(col("ord"), col("cls").as("clsa"),
        coalesce(lead(col("cls"), w).over(wDoc), lit(-1L)).as("clsb"),
        lead(col("ord"), spanL - 1).over(wDoc).isNotNull.as("elig"))
      .filter(col("elig"))
      .select(col("ord"), min(col("ord"))
        .over(Window.partitionBy("clsa", "clsb")).as("cls"))
      .select(expr(s"ord DIV $pk").as("doc_id"),
        expr(s"CAST(ord % $pk AS INT)").as("p"), col("cls"))
    // "class spans ≥2 distinct docs" without a corpus-position
    // distinct or a semi-join: cls = min packed ord of the class, so
    // cls DIV 2²⁰ IS the representative member's doc — a second doc
    // exists iff some member's doc differs from it, and that is a
    // per-class max-flag in ONE unbounded window over cls (round 18:
    // the r17 shape localCheckpointed `full` and consumed it twice —
    // a small distinct plus a semi-join probe of every position; the
    // flag window is one exchange of the eligible positions and keeps
    // the plan join-free). Row-identical: the semi-join kept exactly
    // the rows whose class has a member outside the representative's
    // doc — the flag's definition.
    val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    full
      .withColumn("dup",
        max(when(col("doc_id") =!= expr(s"cls DIV $pk"), 1).otherwise(0))
          .over(Window.partitionBy("cls")))
      .filter(col("dup") === 1)
      .withColumn("grp", col("p") - row_number().over(wIsl))
      .groupBy("doc_id", "grp")
      .agg(min(col("p")).as("s0"), max(col("p")).as("s1"))
      .select(col("doc_id"), col("s0").cast("long").as("span_start"),
        (col("s1") - col("s0") + spanL).cast("long").as("span_len"))
  }

  /** The pipe_suffix_clean body: consume [[suffixSpansOf]]'s maximal
    * duplicated spans, drop every occurrence after the first, and
    * stitch each doc's surviving text — the last mile of the Lee et
    * al. 2022 pipeline (dd_suffix_spans FINDS the char ranges; this
    * operator REMOVES them and emits the cleaned corpus).
    *
    * Keep-first is the dd_paragraph_dedup idiom at char level: spans
    * group by their exact TEXT, the surviving occurrence is the one
    * with min packed ord = doc_id·2²⁰ + span_start — ONE
    * hash-aggregated min per distinct span string (never a window
    * over the occurrence group: a boilerplate span repeated 10⁹×
    * absorbs map-side). Granularity note: the unit of "occurrence"
    * is the MAXIMAL merged span, so two docs sharing content but
    * merged to different extents hold distinct keys and both survive
    * — the conservative cut (never removes more than an exact
    * occurrence of a seen maximal span), stated identically in the
    * oracle.
    *
    * Two stitching subtleties, both oracle-gated:
    *  - adjacent islands can OVERLAP in covered chars (their start
    *    gap can be < L while each span extends L−1 past its last
    *    start), so the stitcher clamps segment length at 0 and
    *    advances the cursor monotonically to span_start + span_len
    *    (ends strictly increase with starts, so max() is not needed);
    *  - cut_chars counts DISTINCT covered positions — the
    *    interval-union length over each doc's sorted cut spans
    *    (Σ span_len would double-count the overlap) — giving the
    *    conservation law the spec asserts: clean_len + cut_chars =
    *    len for every doc.
    *
    * Scale: the span frame is output-bounded (spans, not positions);
    * the winner window shuffles one row per span occurrence keyed by
    * the 128-bit span-text fingerprint (round 18 — the raw span
    * STRING, up to a whole doc per row, used to ride the winner
    * aggregate's exchange AND the cut join's; fp equality = text
    * equality by the [[gramFp]] argument, oracle-gated); reassembly
    * collects per-doc span lists (bounded by doc length — the safe
    * collect_list shape). cut_chars is a per-doc interval-union fold
    * over that same sorted list (round 18: the old census EXPLODED
    * one row per covered char — a covered-chars-sized shuffle plus a
    * corpus-wide distinct — for a number derivable from the ≤
    * doc-length span list in one projection). The stitcher builds
    * each kept segment once and joins the array (two copies of the
    * output bytes), where the old running-concat fold re-copied the
    * accumulated prefix per cut — quadratic in per-doc cuts.
    */
  private[graft] def suffixCleanOf(documents: DataFrame, spanL: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pk = 1048576L
    val d = documents.filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
    val spans = suffixSpansOf(documents, spanL)
      // consumed by the cut pipeline AND the per-doc span census
      .localCheckpoint(false)
    // keep-first as ONE window over the span-text fingerprint: the
    // surviving occurrence of each distinct span text is min packed
    // ord; every other occurrence is a cut. (Never a window over a
    // SORTED occurrence group: min with an unbounded frame aggregates
    // per group and spills if a boilerplate span repeats 10⁹× —
    // row_number would buffer AND rank it.)
    val st = expr("substring(text, CAST(span_start AS INT), CAST(span_len AS INT))")
    val wSpan = Window.partitionBy("sf1", "sf2")
    val cuts = spans.join(d, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_len"),
        xxhash64(st).as("sf1"), xxhash64(lit(1L), st).as("sf2"),
        (col("doc_id") * lit(pk) + col("span_start")).as("ord"))
      .withColumn("keep_ord", min(col("ord")).over(wSpan))
      .filter(col("ord") =!= col("keep_ord"))
      .select("doc_id", "span_start", "span_len")
    val cutsPerDoc = cuts.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_len"))))
        .as("cs"), count(lit(1)).as("n_cut"))
    val spansPerDoc = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    d.join(spansPerDoc, Seq("doc_id"), "left")
      .join(cutsPerDoc, Seq("doc_id"), "left")
      // interval-union length of the sorted cut spans — identical to
      // counting distinct covered positions (ends strictly increase
      // with starts; greatest() guards the overlap)
      .withColumn("cut_chars", expr(
        """aggregate(
          |  coalesce(cs, CAST(array() AS ARRAY<STRUCT<span_start: BIGINT, span_len: BIGINT>>)),
          |  struct(CAST(0 AS BIGINT) AS tot, CAST(0 AS BIGINT) AS cur),
          |  (st, c) -> struct(
          |    st.tot + greatest(c.span_start + c.span_len
          |      - greatest(st.cur, c.span_start), CAST(0 AS BIGINT)) AS tot,
          |    greatest(st.cur, c.span_start + c.span_len) AS cur),
          |  st -> st.tot)""".stripMargin))
      // stitch: kept segment i ends at cut i's start and begins where
      // cut i−1 ended (cursor 1 before the first cut); the tail runs
      // from the last cut's end. Each segment is one substring into
      // its array slot; array_join copies the output once more.
      .withColumn("ct", expr(
        """CASE WHEN cs IS NULL OR size(cs) = 0 THEN text ELSE concat(
          |  array_join(transform(sequence(1, size(cs)), i ->
          |    substring(text,
          |      CAST(IF(i = 1, CAST(1 AS BIGINT),
          |        element_at(cs, i - 1).span_start + element_at(cs, i - 1).span_len) AS INT),
          |      CAST(greatest(element_at(cs, i).span_start
          |        - IF(i = 1, CAST(1 AS BIGINT),
          |          element_at(cs, i - 1).span_start + element_at(cs, i - 1).span_len),
          |        CAST(0 AS BIGINT)) AS INT))), ''),
          |  substring(text,
          |    CAST((element_at(cs, size(cs)).span_start
          |      + element_at(cs, size(cs)).span_len) AS INT),
          |    CAST(greatest(len - (element_at(cs, size(cs)).span_start
          |      + element_at(cs, size(cs)).span_len) + 1,
          |      CAST(0 AS BIGINT)) AS INT)))
          |END""".stripMargin))
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"),
        length(col("ct")).cast("long").as("clean_len"),
        md5(col("ct")).as("clean_fp"))
  }

  /** Shingle→df→rarity-postings substrate shared by the exact-join
    * family (dd_jaccard_prefix, dd_containment, dd_containment_capped):
    *
    *  - `docSh`: the exploded distinct-shingle postings joined with
    *    each shingle's document frequency — (doc_id, shingle, sdf);
    *  - `docs`: per-doc shingle arrays in one global rarity order
    *    (sdf asc, shingle asc) with their length — (doc_id, shs, n).
    *
    * Round-13 verdict #2: the three consumers each rebuilt this
    * identical prefix (shingle explode + df aggregate + sorted-array
    * collect) per execution — at 100 TB that's re-shingling the corpus
    * three times per analysis session. [[postingsSubstrate]] memoizes
    * it per (session, dir) through [[graft.CacheRegistry]] (the
    * verifiedPairs / trained-IVF convention: compute once per corpus
    * snapshot, every consumer scans the materialization; staleness via
    * `Tables.invalidate`). dd_postings_build stays the cache-BYPASSING
    * construction row (the dd_truth_build convention) so the bench
    * keeps pricing the substrate build itself and the oracle keeps
    * gating its exact contents.
    */
  private[operators] final case class PostingsSubstrate(
      docSh: DataFrame, docs: DataFrame)

  private[operators] def postingsSubstrateOf(
      documents: DataFrame, checkpointDocSh: Boolean): PostingsSubstrate = {
    val raw = documents
      .select(col("doc_id"),
        explode(array_distinct(shinglesOf(col("text")))).as("shingle"))
    val sdf = raw.groupBy("shingle").agg(count(lit(1)).as("sdf"))
    val joined = raw.join(sdf, "shingle")
    // single-query consumers skip this checkpoint (measured: a
    // native-expression re-shingle costs about what the checkpoint
    // write+read does); the CACHED substrate takes it so cross-query
    // consumers scan postings blocks instead of re-shingling
    val docSh = if (checkpointDocSh) joined.localCheckpoint(false) else joined
    val docs = docSh
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("sdf"), col("shingle")))).as("st"))
      .select(col("doc_id"),
        transform(col("st"), e => e.getField("shingle")).as("shs"))
      .withColumn("n", size(col("shs")).cast("long"))
      // consumed repeatedly (prefix explode + both verify sides, per
      // consumer) — materialize once instead of re-running the df join
      .localCheckpoint(false)
    PostingsSubstrate(docSh, docs)
  }

  private val postingsCache = graft.CacheRegistry.newCache()
  private[operators] def postingsSubstrate(
      s: SparkSession, dir: String): PostingsSubstrate =
    graft.CacheRegistry.cached[PostingsSubstrate](
      postingsCache, s, dir, "postings")(
      postingsSubstrateOf(Tables.documents(s, dir), checkpointDocSh = true))

  /** The exact PPJoin similarity join over an arbitrary document frame
    * (the dd_jaccard_prefix body — see that query's comment for the
    * algorithm): rarity-ordered prefixes, length + positional filters,
    * salted pair generation, array-intersect verify. Parameterized by
    * the doc frame so dd_lsh_recall can point the same ground-truth
    * machinery at a hash sample.
    */
  private[operators] def jaccardPrefixPairs(documents: DataFrame): DataFrame =
    jaccardPrefixPairsFrom(
      postingsSubstrateOf(documents, checkpointDocSh = false).docs)

  /** PPJoin body over a prebuilt rarity-array frame ([[PostingsSubstrate]]
    * `docs`) — the corpus rows ride the memoized substrate, the sample
    * rows build their own (sample df ≠ corpus df).
    */
  private[operators] def jaccardPrefixPairsFrom(docs: DataFrame): DataFrame = {
    // prefix length = n − ⌈0.5·n⌉ + 1; p = the shingle's 1-based
    // position in the doc's rarity order, for positional filtering
    val pre = docs
      .withColumn("plen", (col("n") - expr("(n + 1) DIV 2") + 1).cast("int"))
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("shs"), lit(1), col("plen"))).as(Seq("p0", "shingle")))
      .select(col("doc_id"), col("n"), (col("p0") + 1).as("p"), col("shingle"))
    // PPJoin positional filter on top of the length filter: a pair
    // whose FIRST shared prefix element sits at positions (pa, pb)
    // can overlap at most min(na−pa, nb−pb)+1 elements, and J ≥ 0.5
    // needs overlap ≥ ⌈(na+nb)/3⌉ — occurrences violating the bound
    // can't be the first shared element of a qualifying pair, so
    // dropping them keeps recall 1 while pruning the candidate set
    // before the distinct + verify. Pair generation per prefix-
    // shingle bucket goes through the salted two-level form
    // (bounded buffers even on a pathologically common shingle);
    // both filters stay symmetric in (a, b), so the id ordering the
    // generator fixes matches the oracle's a.doc_id < b.doc_id.
    val cand = PairGen.saltedPairs(
        pre.select(col("shingle"),
          struct(col("doc_id"), col("n"), col("p")).as("v")),
        Seq("shingle"), "doc_id")
      .filter(col("a.n") * 2 >= col("b.n") &&
        col("b.n") * 2 >= col("a.n") &&
        (least(col("a.n") - col("a.p"), col("b.n") - col("b.p")) + 1) * 3 >=
          col("a.n") + col("b.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // merge-join hint, as in dd_containment/verifiedPairs: the
    // candidate set's size is data-dependent and its stats mislead the
    // planner into a driver-side broadcast build (measured: 1 GB
    // collect → maxResultSize abort at 50× amplification); sort-merge
    // spills instead.
    cand.hint("merge")
      .join(docs.select(col("doc_id").as("doc_a"), col("shs").as("sa"),
        col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("shs").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(col("n_inter") * 2 >= col("na") + col("nb") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
          .as("jaccard"))
  }

  private[operators] def verifiedPairsOf(
      documents: DataFrame, dedup: Boolean): DataFrame = {

      // Candidates via salted within-bucket pair generation
      // ([[PairGen.saltedPairs]]) — the signature pipeline stays one
      // single-execution plan tree (the generator's window count adds
      // no second scan leg). True LSH buckets are similarity-bounded,
      // but an exact-duplicate class lands whole in one bucket; the
      // salting keeps every aggregation buffer ≤ ~2·cap members and
      // spreads a mega-bucket's cells across the cluster — measured at
      // the 100k-duplicate-class point in SCALE.md
      // (`pairgen_dup_class`).
      val b = bands(signaturesOf(documents))
      val candRaw = PairGen.saltedPairs(
          b.select(col("band_idx"), col("band_hash"),
            struct(col("doc_id")).as("v")),
          Seq("band_idx", "band_hash"), "doc_id")
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val cand = if (dedup) candRaw.distinct() else candRaw
      // Verify with per-doc shingle SETS carried as array columns:
      // n_inter = |array_intersect| — the same distinct-shingle
      // intersection the row-explosion form computes, without the
      // (doc, shingle) distinct shuffle, the two shingle-keyed joins,
      // or the separate per-doc count aggregation (that form cost 3
      // executions of the exploded shingle set plus ~5 exchanges). A
      // doc's shingle array is the same order of bytes as its text, so
      // the two doc-keyed joins shuffle candidate-bounded text-sized
      // rows — the scale ceiling is the candidate count, as before.
      // merge-join hint: the candidate set's size is data-dependent
      // (dup-heavy corpora yield millions of pairs) and its stats
      // mislead the planner into broadcasting it — observed OOM at a
      // 2 GB heap under 20× amplification. Sort-merge spills instead.
      val docs = documents
        .select(col("doc_id"), array_distinct(shinglesOf(col("text"))).as("shset"))
        .select(col("doc_id"), col("shset"), size(col("shset")).cast("long").as("n"))
      cand.hint("merge")
        .join(docs.as("ca"), col("doc_a") === col("ca.doc_id"))
        .join(docs.as("cb"), col("doc_b") === col("cb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ca.shset"), col("cb.shset"))).cast("long")
            .as("n_inter"),
          col("ca.n").as("na"), col("cb.n").as("nb"))
        // raw ratio, unrounded: a small-denominator rational can sit on
        // a decimal midpoint where round() diverges between engines;
        // the un-rounded division is bit-identical on both sides
        .withColumn("jaccard",
          col("n_inter").cast("double") /
            (col("na") + col("nb") - col("n_inter")))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
  }

  private val toksSql = OracleSql.toks

  /** DuckDB mirror of [[ophSignaturesOf]] as a self-contained
    * WITH…SELECT (nestable in parens): (doc_id, bucket, sig,
    * src_dist).
    */
  private def ophSqlFrom(src: String): String =
    s"""WITH oph_sh AS (${shinglesSqlFrom(src)}),
       |oph_hv AS (SELECT doc_id,
       |         ${OracleSql.hexLong("md5(shingle)", 1, 8)} AS h
       |       FROM oph_sh),
       |oph_ne AS MATERIALIZED (
       |  SELECT doc_id, CAST(h % $OphBuckets AS INT) AS bucket,
       |    CAST(min(h) AS BIGINT) AS sig
       |  FROM oph_hv GROUP BY 1, 2),
       |oph_spine AS (
       |  SELECT doc_id, CAST(b AS INT) AS bucket
       |  FROM (SELECT DISTINCT doc_id FROM oph_ne),
       |       UNNEST(range(0, $OphBuckets)) AS u(b)),
       |oph_emp AS (
       |  SELECT s.doc_id, s.bucket FROM oph_spine s
       |  LEFT JOIN oph_ne ne ON ne.doc_id = s.doc_id
       |    AND ne.bucket = s.bucket
       |  WHERE ne.sig IS NULL),
       |oph_cand AS (
       |  SELECT e.doc_id, e.bucket, CAST(o.d AS INT) AS d, ne.sig
       |  FROM oph_emp e
       |  CROSS JOIN UNNEST(range(1, $OphBuckets)) AS o(d)
       |  JOIN oph_ne ne ON ne.doc_id = e.doc_id
       |    AND ne.bucket = CAST((e.bucket + o.d) % $OphBuckets AS INT)),
       |oph_bd AS (
       |  SELECT doc_id, bucket, CAST(min(d) AS INT) AS src_dist
       |  FROM oph_cand GROUP BY 1, 2)
       |SELECT doc_id, bucket, sig, CAST(0 AS INT) AS src_dist FROM oph_ne
       |UNION ALL
       |SELECT c.doc_id, c.bucket, c.sig, b.src_dist
       |FROM oph_cand c JOIN oph_bd b
       |  ON b.doc_id = c.doc_id AND b.bucket = c.bucket
       |    AND c.d = b.src_dist""".stripMargin

  /** DuckDB mirror of [[ophPairsFrom]] ∘ [[ophSignaturesOf]]:
    * (doc_a, doc_b, n_shared_bands, est_jaccard).
    */
  private def ophPairsSqlFrom(src: String): String =
    s"""WITH oph AS (SELECT * FROM (${ophSqlFrom(src)})),
       |oph_sv AS (
       |  SELECT doc_id, list(sig ORDER BY bucket) AS sigv
       |  FROM oph GROUP BY doc_id),
       |oph_bands AS (
       |  SELECT doc_id, sigv, CAST(j AS INT) AS band_idx,
       |    array_to_string(list_transform(
       |      list_slice(sigv, 4 * j + 1, 4 * j + 4),
       |      x -> CAST(x AS VARCHAR)), '|') AS band_hash
       |  FROM oph_sv, UNNEST(range(0, 4)) AS u(j)),
       |oph_cpairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_filter(range(1, ${OphBuckets + 1}),
       |      i -> a.sigv[i] = b.sigv[i])) AS eq
       |  FROM oph_bands a JOIN oph_bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared_bands,
       |  CAST(max(eq) AS DOUBLE) / $OphBuckets AS est_jaccard
       |FROM oph_cpairs GROUP BY 1, 2""".stripMargin

  /** The dd_suffix_spans CTE chain (d/pos/gd/dup/isl/spans) — the
    * brute-force statement of the suffix-class result, shared by the
    * spans oracle and the pipe_suffix_clean cut oracle built on it.
    */
  private val suffixSpanCtes: String =
    s"""d AS (SELECT doc_id, text, length(text) AS len FROM documents
       |      WHERE length(text) >= 1),
       |pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p,
       |    substring(text, CAST(i AS INT), $SuffixSpanL) AS g
       |  FROM d, UNNEST(range(1, len - ${SuffixSpanL - 2})) AS u(i)),
       |gd AS (SELECT g FROM (
       |  SELECT g, count(DISTINCT doc_id) AS nd FROM pos GROUP BY g) t
       |  WHERE nd >= 2),
       |dup AS (SELECT doc_id, p FROM pos JOIN gd USING (g)),
       |isl AS (
       |  SELECT doc_id, p,
       |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |  FROM dup),
       |spans AS (
       |  SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
       |    CAST(max(p) - min(p) + $SuffixSpanL AS BIGINT) AS span_len
       |  FROM isl GROUP BY doc_id, grp)""".stripMargin

  private def shinglesSqlFrom(src: String) =
    s"""SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
       |FROM (SELECT doc_id, $toksSql AS t FROM $src),
       |     UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
       |WHERE len(t) >= 3""".stripMargin
  private val shinglesSql = shinglesSqlFrom("documents")
  private val sigSelect = (0 until NumHashes).map { i =>
    val salt = i / 4
    val off  = 8 * (i % 4) + 1
    s"min(substring(md5(concat('${salt}_', shingle)), $off, 8)) AS sig$i"
  }.mkString(",\n    ")
  private def bandSelectsFor(b: Int): String = {
    val rpb = NumHashes / b
    (0 until b).map { j =>
      val cols = (0 until rpb).map(i => s"sig${j * rpb + i}")
      s"SELECT doc_id, $j AS band_idx, concat_ws('|', ${cols.mkString(", ")}) AS band_hash FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
  }
  private val bandSelects = bandSelectsFor(Bands)
  private val sigEqSql = (0 until NumHashes)
    .map(i => s"CASE WHEN sa.sig$i = sb.sig$i THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** The dd_ngram_jaccard statement over an arbitrary source relation
    * (mirrors [[verifiedPairsOf]]). `src` may be a CTE name, so
    * dd_lsh_recall can run it over a hash sample (and
    * pipe_split_leakage can embed it whole).
    */
  private[operators] def ngramJaccardSqlFrom(src: String): String =
    s"""WITH sh AS (${shinglesSqlFrom(src)}),
       |sigs AS (SELECT doc_id,
       |    $sigSelect
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS n_inter
       |  FROM cand
       |  JOIN sh sa ON doc_a = sa.doc_id
       |  JOIN sh sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter,
       |  CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) AS jaccard
       |FROM inter
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The dd_jaccard_prefix statement over an arbitrary source relation
    * (mirrors [[jaccardPrefixPairs]]).
    */
  private def jaccardPrefixSqlFrom(src: String): String =
    s"""WITH dt AS (${shinglesSqlFrom(src)}),
       |sdf AS (SELECT shingle, count(*) AS sdf FROM dt GROUP BY shingle),
       |docs AS (
       |  SELECT d.doc_id, list(d.shingle ORDER BY f.sdf, d.shingle) AS shs,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM dt d JOIN sdf f ON d.shingle = f.shingle
       |  GROUP BY d.doc_id),
       |pre AS (
       |  SELECT doc_id, n, CAST(i AS BIGINT) AS p, shs[CAST(i AS INT)] AS shingle
       |  FROM docs, UNNEST(range(1, n - (n + 1) // 2 + 2)) AS u(i)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pre a JOIN pre b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |   AND a.n * 2 >= b.n AND b.n * 2 >= a.n
       |   AND (least(a.n - a.p, b.n - b.p) + 1) * 3 >= a.n + b.n),
       |v AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(da.shs, db.shs)) AS BIGINT) AS n_inter,
       |    da.n AS na, db.n AS nb
       |  FROM cand c
       |  JOIN docs da ON c.doc_a = da.doc_id
       |  JOIN docs db ON c.doc_b = db.doc_id)
       |SELECT doc_a, doc_b, n_inter,
       |  CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
       |FROM v WHERE n_inter * 2 >= na + nb - n_inter
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared oracle for dd_simhash64_pairs and its cache-bypass build
    * row (round-10 ADVICE): both engines' pipelines are identical, so
    * the memoized row and the fresh row must match the same SQL.
    */
  private val simhash64Oracle: String = {
    val bitSums = (0 until 64).map { b =>
      val nib = s"(strpos('0123456789abcdef', substring(h, ${b / 4 + 1}, 1)) - 1)"
      s"sum(CASE WHEN (($nib >> ${3 - (b % 4)}) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n      ")
    val shExpr = (0 until 64)
      .map(b => s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    val bandRows = (0 until 4)
      .map(j => s"SELECT doc_id, sh, $j AS band_idx, (sh >> ${16 * j}) & 65535 AS band_val FROM hashes")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH sums AS (
       |  SELECT doc_id,
       |      $bitSums
       |  FROM (SELECT doc_id, substring(md5(w), 1, 16) AS h
       |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |        WHERE w <> '')
       |  GROUP BY doc_id),
       |hashes AS (SELECT doc_id, $shExpr AS sh FROM sums),
       |banded AS (
       |  $bandRows
       |)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM banded a JOIN banded b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       | AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Batch dual of the STREAMING admission row (st_incremental_dedup)
    * — pipe_incremental_dedup's split extended with first-occurrence
    * self-dedup over the delta: a delta doc is exact_dup if its
    * fingerprint is in the corpus OR in an EARLIER (smaller doc_id)
    * delta doc; near_dup if any band collides with the corpus index
    * OR an earlier delta doc's bands. "Earlier" is doc_id order — the
    * stream stages the delta as ascending doc_id ranges, so stream
    * arrival order IS doc_id order and the dual is exact.
    */
  private[graft] def incrementalAdmissionSql: String =
    s"""WITH sh AS ($shinglesSql),
       |sigs AS (SELECT doc_id,
       |    $sigSelect
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandSelects
       |),
       |newd AS (
       |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 7),
       |oldfp AS (
       |  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 7),
       |exact AS (
       |  SELECT DISTINCT n.doc_id FROM newd n
       |  WHERE n.fp IN (SELECT fp FROM oldfp)
       |     OR EXISTS (SELECT 1 FROM newd p
       |                WHERE p.fp = n.fp AND p.doc_id < n.doc_id)),
       |nearc AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  WHERE a.doc_id % 10 = 7
       |    AND (b.doc_id % 10 <> 7 OR b.doc_id < a.doc_id))
       |SELECT n.doc_id,
       |  CASE WHEN n.doc_id IN (SELECT doc_id FROM exact) THEN 'exact_dup'
       |       WHEN n.doc_id IN (SELECT doc_id FROM nearc) THEN 'near_dup'
       |       ELSE 'kept' END AS status
       |FROM newd n ORDER BY n.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dd_exact" ->
      """SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    // Top-32-bits-of-md5 decode = OracleSql.hexLong over the first 8 hex
    // chars — the exact dual of shiftrightunsigned(hl[0], 32).
    "dd_oph_minhash" ->
      s"""SELECT * FROM (${ophSqlFrom("documents")})
         |ORDER BY doc_id, bucket""".stripMargin,
    "dd_oph_pairs" ->
      s"""SELECT * FROM (${ophPairsSqlFrom("documents")})
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dd_oph_recall" ->
      s"""WITH sample AS (
         |  SELECT * FROM documents
         |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'),
         |exact AS (SELECT doc_a, doc_b
         |          FROM (${jaccardPrefixSqlFrom("sample")})),
         |ophp AS (SELECT doc_a, doc_b
         |         FROM (${ophPairsSqlFrom("sample")})),
         |hit AS (
         |  SELECT * FROM exact e
         |  WHERE EXISTS (SELECT 1 FROM ophp o
         |                WHERE o.doc_a = e.doc_a AND o.doc_b = e.doc_b))
         |SELECT CAST(e.n AS BIGINT) AS n_true, CAST(o.n AS BIGINT) AS n_oph,
         |  CAST(h.n AS BIGINT) AS n_hit,
         |  round(CAST(h.n AS DOUBLE) / e.n, 4) AS recall4
         |FROM (SELECT count(*) AS n FROM exact) e,
         |     (SELECT count(*) AS n FROM ophp) o,
         |     (SELECT count(*) AS n FROM hit) h""".stripMargin,
    "dd_exact_normalized" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) AS fp,
        |  count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "dd_containment" ->
      s"""WITH dt AS ($shinglesSql),
         |sdf AS (SELECT shingle, count(*) AS sdf FROM dt GROUP BY shingle),
         |docs AS (
         |  SELECT d.doc_id, list(d.shingle ORDER BY f.sdf, d.shingle) AS shs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM dt d JOIN sdf f ON d.shingle = f.shingle
         |  GROUP BY d.doc_id),
         |pre AS (
         |  SELECT doc_id AS doc_small, shs[CAST(i AS INT)] AS shingle
         |  FROM docs, UNNEST(range(1, n // 5 + 2)) AS u(i)),
         |cand AS (
         |  SELECT DISTINCT p.doc_small, d.doc_id AS doc_big
         |  FROM pre p JOIN dt d
         |    ON p.shingle = d.shingle AND p.doc_small <> d.doc_id),
         |v AS (
         |  SELECT c.doc_small, c.doc_big,
         |    CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_inter,
         |    a.n AS na
         |  FROM cand c
         |  JOIN docs a ON c.doc_small = a.doc_id
         |  JOIN docs b ON c.doc_big = b.doc_id)
         |SELECT doc_small, doc_big, n_inter, na,
         |  CAST(n_inter AS DOUBLE) / na AS containment
         |FROM v WHERE n_inter * 5 >= na * 4
         |ORDER BY doc_small, doc_big""".stripMargin,
    "dd_containment_capped" ->
      s"""WITH dt AS ($shinglesSql),
         |sdf AS (SELECT shingle, count(*) AS sdf FROM dt GROUP BY shingle),
         |docs AS (
         |  SELECT d.doc_id, list(d.shingle ORDER BY f.sdf, d.shingle) AS shs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM dt d JOIN sdf f ON d.shingle = f.shingle
         |  GROUP BY d.doc_id),
         |cold AS (
         |  SELECT d.doc_id, d.shingle, f.sdf
         |  FROM dt d JOIN sdf f ON d.shingle = f.shingle
         |  WHERE f.sdf <= $ContainmentDfCap),
         |cdocs AS (
         |  SELECT doc_id, list(shingle ORDER BY sdf, shingle) AS cold_shs
         |  FROM cold GROUP BY doc_id),
         |pre AS (
         |  SELECT d.doc_id AS doc_small, cold_shs[CAST(i AS INT)] AS shingle
         |  FROM docs d JOIN cdocs c ON d.doc_id = c.doc_id,
         |       UNNEST(range(1, least(len(c.cold_shs), d.n // 5 + 1) + 1)) AS u(i)),
         |cand AS (
         |  SELECT DISTINCT p.doc_small, k.doc_id AS doc_big
         |  FROM pre p JOIN cold k
         |    ON p.shingle = k.shingle AND p.doc_small <> k.doc_id),
         |v AS (
         |  SELECT c.doc_small, c.doc_big,
         |    CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_inter,
         |    a.n AS na
         |  FROM cand c
         |  JOIN docs a ON c.doc_small = a.doc_id
         |  JOIN docs b ON c.doc_big = b.doc_id)
         |SELECT doc_small, doc_big, n_inter, na,
         |  CAST(n_inter AS DOUBLE) / na AS containment
         |FROM v WHERE n_inter * 5 >= na * 4
         |ORDER BY doc_small, doc_big""".stripMargin,
    "dd_minhash" ->
      s"""WITH sh AS ($shinglesSql),
         |sigs AS (SELECT doc_id,
         |    $sigSelect
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandSelects
         |),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared_bands,
         |  CAST($sigEqSql AS DOUBLE) / $NumHashes AS est_jaccard
         |FROM pairs
         |JOIN sigs sa ON doc_a = sa.doc_id
         |JOIN sigs sb ON doc_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    // low byte of the numeric min ≡ last 2 hex chars of the hex min
    // (fixed-width lowercase hex is order-isomorphic to the value)
    "dd_bbit_minhash" -> {
      val eq8 = (0 until NumHashes)
        .map(i => s"CASE WHEN substring(sa.sig$i, 7, 2) = " +
          s"substring(sb.sig$i, 7, 2) THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH sh AS ($shinglesSql),
         |sigs AS (SELECT doc_id,
         |    $sigSelect
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandSelects
         |),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_shared_bands
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared_bands,
         |  CAST($eq8 AS BIGINT) AS m8,
         |  CASE WHEN $eq8 = 0 THEN 0
         |    ELSE CAST(($eq8 * 16000000 - 1000000) // 255 AS BIGINT)
         |  END AS est_jaccard_ppm
         |FROM pairs
         |JOIN sigs sa ON doc_a = sa.doc_id
         |JOIN sigs sb ON doc_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "dd_simhash" ->
      """SELECT doc_id, CAST(sum(bit * (1 << b)) AS BIGINT) AS simhash FROM (
        |  SELECT doc_id, b, CASE WHEN sum(contrib) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM (
        |    SELECT doc_id, b,
        |      CASE WHEN ((strpos('0123456789abcdef', substring(h, (b // 4) + 1, 1)) - 1)
        |                 >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END AS contrib
        |    FROM (SELECT doc_id, substring(md5(w), 1, 4) AS h
        |          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |                FROM documents)
        |          WHERE w <> ''),
        |         UNNEST(range(0, 16)) AS u(b))
        |  GROUP BY doc_id, b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dd_simhash64_pairs" -> simhash64Oracle,
    "dd_simhash64_build" -> simhash64Oracle,
    "pipe_incremental_dedup" ->
      s"""WITH sh AS ($shinglesSql),
         |sigs AS (SELECT doc_id,
         |    $sigSelect
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  $bandSelects
         |),
         |newd AS (
         |  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 7),
         |oldfp AS (
         |  SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 7),
         |nearc AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7)
         |SELECT n.doc_id,
         |  CASE WHEN n.fp IN (SELECT fp FROM oldfp) THEN 'exact_dup'
         |       WHEN n.doc_id IN (SELECT doc_id FROM nearc) THEN 'near_dup'
         |       ELSE 'kept' END AS status
         |FROM newd n ORDER BY n.doc_id""".stripMargin,
    "pipe_bloom_dedup" ->
      """WITH corp AS (
        |  SELECT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7),
        |delta AS (
        |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 7),
        |cpos AS (
        |  SELECT ((strpos('0123456789abcdef', substring(h, off, 1)) - 1) * 4096
        |        + (strpos('0123456789abcdef', substring(h, off + 1, 1)) - 1) * 256
        |        + (strpos('0123456789abcdef', substring(h, off + 2, 1)) - 1) * 16
        |        + (strpos('0123456789abcdef', substring(h, off + 3, 1)) - 1)) AS p
        |  FROM corp, UNNEST([1, 5, 9, 13]) AS t(off)),
        |bf AS (
        |  SELECT p // 32 AS word, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        |  FROM cpos GROUP BY 1),
        |dpos AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substring(h, off, 1)) - 1) * 4096
        |   + (strpos('0123456789abcdef', substring(h, off + 1, 1)) - 1) * 256
        |   + (strpos('0123456789abcdef', substring(h, off + 2, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substring(h, off + 3, 1)) - 1)) AS p
        |  FROM delta, UNNEST([1, 5, 9, 13]) AS t(off)),
        |bh AS (
        |  SELECT d.doc_id,
        |    sum(CASE WHEN bf.bits IS NOT NULL
        |             AND (bf.bits & (CAST(1 AS BIGINT) << CAST(d.p % 32 AS INT))) <> 0
        |        THEN 1 ELSE 0 END) = 4 AS bf_hit
        |  FROM dpos d LEFT JOIN bf ON bf.word = d.p // 32
        |  GROUP BY d.doc_id)
        |SELECT dl.doc_id, bh.bf_hit,
        |  dl.h IN (SELECT h FROM corp) AS is_dup
        |FROM delta dl JOIN bh USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dd_repeated_spans" ->
      s"""WITH spans AS (
         |  SELECT doc_id, i, array_to_string(list_slice(t, i, i + 4), ' ') AS s
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 3, 1))) AS u(i)
         |  WHERE len(t) >= 5),
         |dup AS (
         |  SELECT s FROM (
         |    SELECT s, count(DISTINCT doc_id) AS d FROM spans GROUP BY s)
         |  WHERE d >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id),
         |dd AS (
         |  SELECT doc_id, count(*) AS n_dup FROM spans
         |  WHERE s IN (SELECT s FROM dup) GROUP BY doc_id)
         |SELECT t.doc_id, CAST(t.n_spans AS BIGINT) AS n_spans,
         |  CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_spans,
         |  round(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / t.n_spans, 4) AS dup_frac4
         |FROM tot t LEFT JOIN dd d USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dd_paragraph_dedup" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS t FROM documents),
         |blocks AS (
         |  SELECT doc_id, i AS blk,
         |    array_to_string(list_slice(t, i * 8 + 1, i * 8 + 8), ' ') AS btext,
         |    doc_id * 1048576 + i AS ord
         |  FROM d, UNNEST(range(0, (len(t) + 7) // 8)) AS u(i)
         |  WHERE len(t) > 0),
         |win AS (SELECT btext, min(ord) AS keep_ord FROM blocks GROUP BY btext),
         |k AS (
         |  SELECT b.doc_id, b.blk, b.btext, b.ord = w.keep_ord AS kept
         |  FROM blocks b JOIN win w USING (btext))
         |SELECT doc_id, count(*) AS n_blocks,
         |  CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
         |  md5(COALESCE(
         |    string_agg(btext, ' ' ORDER BY blk) FILTER (WHERE kept),
         |    '')) AS clean_fp
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The window hash replays RollingHash's 64-bit wraparound fold in
    // HUGEINT arithmetic (the ta_rolling_fp oracle pattern — all-ASCII
    // corpus, so ord(char) = UTF-8 byte); the low-6-bits boundary test
    // is `% 64` on the non-negative HUGEINT, identical to Java's
    // `& 63`. DuckDB lists are 1-indexed (cuts[k]/cuts[k+1] with k
    // from 1), Spark arrays 0-indexed — both walk the same cut pairs.
    "dd_cdc_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, CAST(length(text) AS INT) AS len
         |  FROM documents WHERE length(text) >= 1),
         |bpos AS (
         |  SELECT doc_id, i FROM (
         |    SELECT doc_id, CAST(i AS INT) AS i,
         |      list_reduce(
         |        list_prepend(CAST(0 AS HUGEINT),
         |          list_transform(
         |            string_split(substr(text, i - ${CdcWindow - 1}, $CdcWindow), ''),
         |            c -> CAST(ord(c) AS HUGEINT))),
         |        (a, c) -> (a * 31 + c) % 18446744073709551616) AS h
         |    FROM d, UNNEST(range($CdcWindow, len + 1)) AS u(i))
         |  WHERE h % ${CdcMask + 1} = 0),
         |bounds AS (SELECT doc_id, list(i) AS bs FROM bpos GROUP BY doc_id),
         |ch AS (
         |  SELECT doc_id, substr(text, cuts[k] + 1, cuts[k + 1] - cuts[k]) AS chunk
         |  FROM (
         |    SELECT doc_id, text,
         |      list_sort(list_distinct(list_concat(list_concat(
         |        [0], COALESCE(bs, [])), [len]))) AS cuts
         |    FROM d LEFT JOIN bounds USING (doc_id)),
         |  UNNEST(range(1, len(cuts))) AS u(k)),
         |agg AS (
         |  SELECT md5(chunk) AS chunk_md5, CAST(length(chunk) AS INT) AS chunk_len,
         |    count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         |  FROM ch WHERE length(chunk) >= $CdcMinChunk GROUP BY 1, 2)
         |SELECT chunk_md5, chunk_len, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_occ AS BIGINT) AS n_occ
         |FROM agg WHERE n_docs >= 2
         |ORDER BY n_docs DESC, n_occ DESC, chunk_md5 ASC LIMIT 50""".stripMargin,
    "dd_ngram_jaccard" -> ngramJaccardSqlFrom("documents"),
    // plain within-block self-join states the SEMANTICS; the Spark
    // side's salted PairGen is the scale form (row-identical)
    "dd_er_blocking" ->
      s"""WITH w0 AS (
         |  SELECT word FROM (
         |    SELECT DISTINCT unnest(${OracleSql.toks}) AS word FROM documents)
         |  WHERE regexp_matches(word, '^[a-z]+$$')),
         |w AS (
         |  SELECT DISTINCT word FROM (
         |    SELECT word FROM w0
         |    UNION ALL
         |    SELECT word || substring(word, length(word), 1) FROM w0
         |    UNION ALL SELECT word || 'e' FROM w0
         |    UNION ALL SELECT word || 'h' FROM w0
         |    UNION ALL SELECT word || 'eaea' FROM w0)),
         |v AS (
         |  SELECT word, ${OracleSql.soundexSql("word")} AS sdx FROM w),
         |pairs AS (
         |  SELECT a.sdx, a.word AS w1, b.word AS w2,
         |    levenshtein(a.word, b.word) AS lev
         |  FROM v a JOIN v b ON a.sdx = b.sdx AND a.word < b.word),
         |agg AS (
         |  SELECT sdx, count(*)::BIGINT AS n_pairs,
         |    CAST(sum(CASE WHEN lev <= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_matches,
         |    min(CASE WHEN lev <= 2 THEN w1 || '|' || w2 END) AS first_match
         |  FROM pairs GROUP BY sdx),
         |census AS (
         |  SELECT sdx, count(*)::BIGINT AS n_words FROM v GROUP BY sdx)
         |SELECT c.sdx, c.n_words, a.n_pairs, a.n_matches, a.first_match
         |FROM census c JOIN agg a ON c.sdx = a.sdx
         |WHERE c.n_words >= 2
         |ORDER BY c.sdx""".stripMargin,
    // plain global row_number here — the oracle states the SEMANTICS;
    // the Spark side's two-phase block-offset rank is the scale form
    "dd_sorted_neighborhood" ->
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    list_distinct([array_to_string(list_slice(t, i, i + 2), ' ')
         |      FOR i IN range(1, len(t) - 1)]) AS sh
         |  FROM (SELECT doc_id, text, $toksSql AS t FROM documents)
         |  WHERE len(t) >= 3),
         |r AS (SELECT doc_id, sh,
         |        row_number() OVER (ORDER BY text, doc_id) AS rk FROM d)
         |SELECT least(a.doc_id, b.doc_id) AS doc_a,
         |  greatest(a.doc_id, b.doc_id) AS doc_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
         |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
         |    AS BIGINT) AS n_union
         |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + $SnmWindow
         |WHERE len(list_intersect(a.sh, b.sh)) * 2 >=
         |      len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Positional (non-distinct) shingle hashes; the packed
    // h·2²⁰ + (2²⁰−1 − pos) key makes min() the rightmost-tie argmin
    // (40-bit hash, 20-bit position field — round 9 widening).
    "dd_winnowing" ->
      s"""WITH wg AS (
         |  SELECT doc_id, i - 1 AS pos,
         |    md5(array_to_string(list_slice(t, i, i + 2), ' ')) AS hh
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
         |  WHERE len(t) >= 3),
         |g AS (
         |  SELECT doc_id, pos,
         |    ${OracleSql.hexLong("hh", 1, 10)} * 1048576 + (1048575 - pos) AS key
         |  FROM wg),
         |p AS (
         |  SELECT doc_id, pos, key,
         |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS pick,
         |    count(*) OVER (PARTITION BY doc_id) AS n
         |  FROM g),
         |picks AS (
         |  SELECT DISTINCT doc_id, n, pick
         |  FROM p WHERE pos <= greatest(0, n - $WinnowW)),
         |agg AS (
         |  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_grams,
         |    count(*)::BIGINT AS n_fp,
         |    CAST(bit_xor(pick // 1048576) AS BIGINT) AS fp_xor,
         |    CAST(min(pick // 1048576) AS BIGINT) AS min_fp
         |  FROM picks GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(a.n_grams, 0)::BIGINT AS n_grams,
         |  COALESCE(a.n_fp, 0)::BIGINT AS n_fp,
         |  COALESCE(a.fp_xor, 0)::BIGINT AS fp_xor,
         |  COALESCE(a.min_fp, 0)::BIGINT AS min_fp
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dd_decontaminate" ->
      s"""WITH g AS MATERIALIZED (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(list_slice(t, i, i + 12), ' ') AS gram
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 11, 1))) AS u(i)
         |  WHERE len(t) >= 13),
         |ev AS (SELECT doc_id AS eval_doc, gram FROM g
         |       WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0800'),
         |tr AS (SELECT doc_id, gram FROM g
         |       WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '0800'),
         |hits AS (
         |  SELECT tr.doc_id,
         |    count(DISTINCT tr.gram)::BIGINT AS n_hit_grams,
         |    count(DISTINCT ev.eval_doc)::BIGINT AS n_eval_docs
         |  FROM tr JOIN ev ON tr.gram = ev.gram GROUP BY 1),
         |ng AS (SELECT doc_id,
         |         greatest(len($toksSql) - 12, 0)::BIGINT AS n_grams
         |       FROM documents)
         |SELECT h.doc_id, ng.n_grams, h.n_hit_grams, h.n_eval_docs
         |FROM hits h JOIN ng USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dd_decontaminate_spans" ->
      s"""WITH g AS MATERIALIZED (
         |  SELECT doc_id, i - 1 AS p,
         |    array_to_string(list_slice(t, i, i + 12), ' ') AS gram
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents),
         |       UNNEST(range(1, greatest(len(t) - 11, 1))) AS u(i)
         |  WHERE len(t) >= 13),
         |ev AS (SELECT DISTINCT gram FROM g
         |       WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0800'),
         |hits AS (
         |  SELECT doc_id, CAST(p AS BIGINT) AS p FROM g
         |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= '0800'
         |    AND gram IN (SELECT gram FROM ev)),
         |isl AS (
         |  SELECT doc_id, p,
         |    max(p + 12) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM hits),
         |isl2 AS (
         |  SELECT doc_id, p,
         |    sum(CASE WHEN prev_end IS NULL OR p > prev_end + 1
         |             THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY p
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM isl),
         |spans AS (SELECT doc_id, island, min(p) AS st, max(p) + 12 AS en
         |          FROM isl2 GROUP BY 1, 2),
         |agg AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
         |          CAST(sum(en - st + 1) AS BIGINT) AS n_removed
         |        FROM spans GROUP BY 1),
         |nt AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |       FROM documents)
         |SELECT a.doc_id, nt.n_tokens, a.n_spans, a.n_removed,
         |  nt.n_tokens - a.n_removed AS n_kept
         |FROM agg a JOIN nt USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dd_novelty_curve" ->
      s"""WITH sh AS MATERIALIZED ($shinglesSql),
         |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh
         |       GROUP BY shingle)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
         |      AS DOUBLE) / count(*), 4) AS novel4
         |FROM sh JOIN fs ON sh.shingle = fs.shingle
         |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "dd_ablation" ->
      s"""WITH RECURSIVE ex AS MATERIALIZED (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |pairs AS MATERIALIZED (
         |  SELECT doc_a, doc_b FROM (${ngramJaccardSqlFrom("ex")})),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |reach AS (
         |  SELECT src AS id, dst AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |victims AS (
         |  SELECT id FROM (SELECT id, least(id, min(r)) AS cluster_id
         |                  FROM reach GROUP BY id)
         |  WHERE id <> cluster_id),
         |near AS (SELECT doc_id, text FROM ex
         |         WHERE doc_id NOT IN (SELECT id FROM victims))
         |SELECT '1_raw' AS tier, count(*) AS n_docs,
         |  CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens FROM documents
         |UNION ALL
         |SELECT '2_exact', count(*), CAST(sum(len($toksSql)) AS BIGINT) FROM ex
         |UNION ALL
         |SELECT '3_near', count(*), CAST(sum(len($toksSql)) AS BIGINT) FROM near
         |ORDER BY tier""".stripMargin,
    // the published gram index's census: distinct L-grams of the
    // static (non-delta) corpus slice, counted per first char — the
    // read-back round-trip is on the Spark side; the oracle states
    // the set's content from the raw corpus
    "dd_suffix_index_build" -> {
      val l = SuffixSpanL
      s"""WITH sidx AS (
         |  SELECT DISTINCT substring(text, CAST(p AS INT), $l) AS g
         |  FROM (SELECT text, length(text) AS len FROM documents
         |        WHERE doc_id % 10 <> 7),
         |       UNNEST(range(1, len - ${l - 2})) AS u(p))
         |SELECT substring(g, 1, 1) AS c, count(*)::BIGINT AS n_grams
         |FROM sidx GROUP BY 1 ORDER BY c""".stripMargin
    },
    // brute-force statement of the suffix-class result: every start
    // whose L-gram occurs in >= 2 distinct docs, islands merged
    "dd_suffix_spans" ->
      s"""WITH $suffixSpanCtes
         |SELECT doc_id, span_start, span_len FROM spans
         |ORDER BY doc_id, span_start""".stripMargin,
    // keep-first cut + char-exact reassembly over the spans above.
    // The oracle stitches CHAR BY CHAR (every position not covered by
    // a cut span, concatenated in order) — deliberately a different
    // construction from the Spark side's segment fold, so a fold bug
    // (overlap mis-clamp, off-by-one cursor) diverges the hash.
    "pipe_suffix_clean" ->
      s"""WITH $suffixSpanCtes,
         |wt AS (
         |  SELECT s.doc_id, s.span_start, s.span_len,
         |    substring(d.text, CAST(s.span_start AS INT),
         |      CAST(s.span_len AS INT)) AS span_text,
         |    s.doc_id * 1048576 + s.span_start AS ord
         |  FROM spans s JOIN d USING (doc_id)),
         |win AS (SELECT span_text, min(ord) AS keep_ord
         |        FROM wt GROUP BY span_text),
         |cuts AS (
         |  SELECT doc_id, span_start, span_len FROM wt JOIN win USING (span_text)
         |  WHERE ord <> keep_ord),
         |covered AS (
         |  SELECT DISTINCT c.doc_id, CAST(i AS BIGINT) AS i
         |  FROM cuts c,
         |       UNNEST(range(c.span_start, c.span_start + c.span_len)) AS u(i)),
         |chars AS (
         |  SELECT d.doc_id, CAST(i AS BIGINT) AS i,
         |    substring(d.text, CAST(i AS INT), 1) AS ch
         |  FROM d, UNNEST(range(1, d.len + 1)) AS u(i)),
         |clean AS (
         |  SELECT ch.doc_id,
         |    COALESCE(string_agg(ch.ch, '' ORDER BY ch.i)
         |      FILTER (WHERE cov.i IS NULL), '') AS ct
         |  FROM chars ch LEFT JOIN covered cov
         |    ON ch.doc_id = cov.doc_id AND ch.i = cov.i
         |  GROUP BY ch.doc_id),
         |census AS (
         |  SELECT d.doc_id,
         |    (SELECT count(*) FROM spans s WHERE s.doc_id = d.doc_id) AS n_spans,
         |    (SELECT count(*) FROM cuts c WHERE c.doc_id = d.doc_id) AS n_cut,
         |    (SELECT count(*) FROM covered v WHERE v.doc_id = d.doc_id)
         |      AS cut_chars
         |  FROM d)
         |SELECT c.doc_id, CAST(c.n_spans AS BIGINT) AS n_spans,
         |  CAST(c.n_cut AS BIGINT) AS n_cut,
         |  CAST(c.cut_chars AS BIGINT) AS cut_chars,
         |  CAST(length(cl.ct) AS BIGINT) AS clean_len,
         |  md5(cl.ct) AS clean_fp
         |FROM census c JOIN clean cl USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,
    // forget cascade: row artifacts (bands/documents/postings/
    // embeddings) anti-join the delete list; set artifacts
    // (fingerprints/shingle vocab/suffix gram index) rebuild as the
    // distinct over survivors — shared entries stay; leftover_refs
    // recomputed per regime (deleted refs surviving / survivor
    // entries lost). The suffix leg counts distinct gram STRINGS
    // where the Spark side counts distinct 128-bit fingerprints —
    // equal absent a collision (none at any practical scale, see
    // [[gramFp]]); its leftover states the survivor-vs-index
    // symmetric difference, identically zero when the rebuild is the
    // survivor gram set.
    "pipe_forget" ->
      s"""WITH del AS (
         |  SELECT doc_id FROM documents WHERE doc_id % 97 = 13),
         |sgb AS MATERIALIZED (
         |  SELECT DISTINCT substring(text, CAST(p AS INT), $SuffixSpanL) AS g
         |  FROM (SELECT text, length(text) AS len FROM documents
         |        WHERE doc_id % 10 <> 7),
         |       UNNEST(range(1, len - ${SuffixSpanL - 2})) AS u(p)),
         |sga AS MATERIALIZED (
         |  SELECT DISTINCT substring(text, CAST(p AS INT), $SuffixSpanL) AS g
         |  FROM (SELECT text, length(text) AS len FROM documents
         |        WHERE doc_id % 10 <> 7 AND doc_id % 97 <> 13),
         |       UNNEST(range(1, len - ${SuffixSpanL - 2})) AS u(p)),
         |dt AS (${shinglesSqlFrom("documents")}),
         |sigs AS (SELECT doc_id,
         |    $sigSelect
         |  FROM dt GROUP BY doc_id),
         |bands AS (
         |  $bandSelects
         |),
         |ba AS (SELECT * FROM bands
         |       WHERE doc_id NOT IN (SELECT doc_id FROM del)),
         |pa AS (SELECT * FROM dt
         |       WHERE doc_id NOT IN (SELECT doc_id FROM del)),
         |fpa AS (SELECT DISTINCT md5(text) AS fp FROM documents
         |        WHERE doc_id % 97 <> 13),
         |shva AS (SELECT DISTINCT shingle FROM pa)
         |SELECT * FROM (
         |  SELECT 'bands' AS artifact,
         |    (SELECT count(*) FROM bands)::BIGINT AS rows_before,
         |    (SELECT count(*) FROM ba)::BIGINT AS rows_after,
         |    ((SELECT count(*) FROM bands)
         |      - (SELECT count(*) FROM ba))::BIGINT AS rows_removed,
         |    (SELECT count(*) FROM ba WHERE doc_id % 97 = 13)::BIGINT
         |      AS leftover_refs
         |  UNION ALL
         |  SELECT 'documents',
         |    (SELECT count(*) FROM documents)::BIGINT,
         |    (SELECT count(*) FROM documents WHERE doc_id % 97 <> 13)::BIGINT,
         |    ((SELECT count(*) FROM documents)
         |      - (SELECT count(*) FROM documents
         |         WHERE doc_id % 97 <> 13))::BIGINT,
         |    (SELECT count(*) FROM documents
         |     WHERE doc_id % 97 <> 13 AND doc_id % 97 = 13)::BIGINT
         |  UNION ALL
         |  SELECT 'embeddings',
         |    (SELECT count(*) FROM embeddings)::BIGINT,
         |    (SELECT count(*) FROM embeddings WHERE vec_id % 97 <> 13)::BIGINT,
         |    ((SELECT count(*) FROM embeddings)
         |      - (SELECT count(*) FROM embeddings
         |         WHERE vec_id % 97 <> 13))::BIGINT,
         |    (SELECT count(*) FROM embeddings
         |     WHERE vec_id % 97 <> 13 AND vec_id % 97 = 13)::BIGINT
         |  UNION ALL
         |  SELECT 'fingerprints',
         |    (SELECT count(DISTINCT md5(text)) FROM documents)::BIGINT,
         |    (SELECT count(*) FROM fpa)::BIGINT,
         |    ((SELECT count(DISTINCT md5(text)) FROM documents)
         |      - (SELECT count(*) FROM fpa))::BIGINT,
         |    (SELECT count(*) FROM (
         |       SELECT DISTINCT md5(text) AS fp FROM documents
         |       WHERE doc_id % 97 <> 13) x
         |     WHERE fp NOT IN (SELECT fp FROM fpa))::BIGINT
         |  UNION ALL
         |  SELECT 'postings',
         |    (SELECT count(*) FROM dt)::BIGINT,
         |    (SELECT count(*) FROM pa)::BIGINT,
         |    ((SELECT count(*) FROM dt)
         |      - (SELECT count(*) FROM pa))::BIGINT,
         |    (SELECT count(*) FROM pa WHERE doc_id % 97 = 13)::BIGINT
         |  UNION ALL
         |  SELECT 'shingles',
         |    (SELECT count(DISTINCT shingle) FROM dt)::BIGINT,
         |    (SELECT count(*) FROM shva)::BIGINT,
         |    ((SELECT count(DISTINCT shingle) FROM dt)
         |      - (SELECT count(*) FROM shva))::BIGINT,
         |    (SELECT count(*) FROM (SELECT DISTINCT shingle FROM pa) x
         |     WHERE shingle NOT IN (SELECT shingle FROM shva))::BIGINT
         |  UNION ALL
         |  SELECT 'suffix_grams',
         |    (SELECT count(*) FROM sgb)::BIGINT,
         |    (SELECT count(*) FROM sga)::BIGINT,
         |    ((SELECT count(*) FROM sgb)
         |      - (SELECT count(*) FROM sga))::BIGINT,
         |    -- leftover contract: the rebuilt index IS the survivor gram
         |    -- set, so the survivor-vs-published symmetric difference the
         |    -- Spark side measures (recompute vs parquet read-back) is
         |    -- identically zero; the oracle states that expectation as a
         |    -- literal rather than a self-referential subquery (round-16
         |    -- advice: `sga EXCEPT sga` twice verified nothing)
         |    0::BIGINT)
         |ORDER BY artifact""".stripMargin,
    "dd_jaccard_prefix" -> jaccardPrefixSqlFrom("documents"),
    "dd_postings_build" ->
      s"""WITH dt AS (${shinglesSqlFrom("documents")}),
         |sdf AS (SELECT shingle, count(*) AS sdf FROM dt GROUP BY shingle)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  (list(d.shingle ORDER BY f.sdf, d.shingle))[1] AS rarest_shingle,
         |  CAST(max(f.sdf) AS BIGINT) AS max_df
         |FROM dt d JOIN sdf f ON d.shingle = f.shingle
         |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,
    "dd_truth_build" ->
      s"""WITH sample AS (
         |  SELECT * FROM documents
         |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
         |SELECT doc_a, doc_b FROM (${jaccardPrefixSqlFrom("sample")})
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dd_lsh_recall" ->
      s"""WITH sample AS (
         |  SELECT * FROM documents
         |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'),
         |exact AS (SELECT doc_a, doc_b FROM (${jaccardPrefixSqlFrom("sample")})),
         |lshp AS (SELECT doc_a, doc_b FROM (${ngramJaccardSqlFrom("sample")})),
         |hit AS (
         |  SELECT * FROM exact e
         |  WHERE EXISTS (SELECT 1 FROM lshp l
         |                WHERE l.doc_a = e.doc_a AND l.doc_b = e.doc_b))
         |SELECT CAST(e.n AS BIGINT) AS n_true, CAST(l.n AS BIGINT) AS n_lsh,
         |  CAST(h.n AS BIGINT) AS n_hit,
         |  round(CAST(h.n AS DOUBLE) / e.n, 4) AS recall4
         |FROM (SELECT count(*) AS n FROM exact) e,
         |     (SELECT count(*) AS n FROM lshp) l,
         |     (SELECT count(*) AS n FROM hit) h""".stripMargin,
    "dd_lsh_band_sweep" -> {
      val bandCtes = Seq(2, 4, 8, 16).map { b =>
        s"""bands$b AS (
           |  ${bandSelectsFor(b)}
           |),
           |cand$b AS (
           |  SELECT DISTINCT $b AS bands, a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands$b a JOIN bands$b b
           |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           |   AND a.doc_id < b.doc_id)""".stripMargin
      }.mkString(",\n")
      val candUnion = Seq(2, 4, 16, 8).sorted
        .map(b => s"SELECT * FROM cand$b").mkString("\n  UNION ALL\n  ")
      s"""WITH sample AS (
         |  SELECT * FROM documents
         |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'),
         |sh AS (${shinglesSqlFrom("sample")}),
         |sigs AS (SELECT doc_id,
         |    $sigSelect
         |  FROM sh GROUP BY doc_id),
         |$bandCtes,
         |cand AS (
         |  $candUnion
         |),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT bands, doc_a, doc_b, count(*) AS ni
         |  FROM cand
         |  JOIN sh sa ON doc_a = sa.doc_id
         |  JOIN sh sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
         |  GROUP BY 1, 2, 3),
         |v AS (
         |  SELECT c.bands, COALESCE(i.ni, 0) AS ni, ca.n AS na, cb.n AS nb
         |  FROM cand c
         |  LEFT JOIN inter i
         |    ON c.bands = i.bands AND c.doc_a = i.doc_a AND c.doc_b = i.doc_b
         |  JOIN cnt ca ON c.doc_a = ca.doc_id
         |  JOIN cnt cb ON c.doc_b = cb.doc_id),
         |sw AS (
         |  SELECT bands, count(*) AS n_candidates,
         |    CAST(sum(CASE WHEN ni * 2 >= na + nb - ni THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_verified
         |  FROM v GROUP BY bands),
         |ex AS (SELECT count(*) AS n_true
         |       FROM (${jaccardPrefixSqlFrom("sample")}))
         |SELECT CAST(bands AS INT) AS bands,
         |  CAST($NumHashes // bands AS INT) AS rows_per_band,
         |  n_candidates, n_verified, CAST(n_true AS BIGINT) AS n_true,
         |  round(CAST(n_verified AS DOUBLE) / n_true, 4) AS recall4
         |FROM sw, ex ORDER BY bands""".stripMargin
    },
    "dd_embed_multiprobe" ->
      s"""WITH v AS (${OracleSql.vectors}),
         |probes AS (
         |  SELECT vec_id, e, nrm,
         |    unnest([bucket] || list_transform(range(0, bits),
         |      k -> xor(bucket, 1::BIGINT << k))) AS probe
         |  FROM v)
         |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cos
         |FROM probes a JOIN v b ON a.probe = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin,
    "dd_semantic_survivors" ->
      s"""WITH v AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         |    ${OracleSql.signBucketSql("embedding")} AS bucket,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         |  FROM embeddings, (${OracleSql.signBucketBitsSql}) b),
         |victims AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.3),
         |kept AS (
         |  SELECT label, count(*) AS n_kept FROM v
         |  WHERE vec_id NOT IN (SELECT vec_id FROM victims) GROUP BY label),
         |tot AS (SELECT label, count(*) AS n_vecs FROM v GROUP BY label)
         |SELECT t.label, t.n_vecs, COALESCE(k.n_kept, 0) AS n_kept
         |FROM tot t LEFT JOIN kept k ON t.label = k.label
         |ORDER BY t.label""".stripMargin,
    "dd_semantic_text_check" ->
      s"""WITH v AS (${OracleSql.vectors}),
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cos
         |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.3),
         |sh AS ($shinglesSql),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT p.vec_a, p.vec_b, count(*) AS ni
         |  FROM p
         |  JOIN sh sa ON p.vec_a = sa.doc_id
         |  JOIN sh sb ON p.vec_b = sb.doc_id AND sa.shingle = sb.shingle
         |  GROUP BY 1, 2)
         |SELECT p.vec_a, p.vec_b, p.cos,
         |  CAST(COALESCE(i.ni, 0) AS BIGINT) AS n_inter,
         |  CASE WHEN COALESCE(ca.n, 0) + COALESCE(cb.n, 0) - COALESCE(i.ni, 0) = 0
         |       THEN NULL
         |       ELSE CAST(COALESCE(i.ni, 0) AS DOUBLE)
         |            / (COALESCE(ca.n, 0) + COALESCE(cb.n, 0) - COALESCE(i.ni, 0))
         |  END AS jaccard,
         |  CASE WHEN COALESCE(ca.n, 0) + COALESCE(cb.n, 0) - COALESCE(i.ni, 0) = 0
         |       THEN NULL
         |       ELSE COALESCE(i.ni, 0) * 2
         |            >= COALESCE(ca.n, 0) + COALESCE(cb.n, 0) - COALESCE(i.ni, 0)
         |  END AS textual_dup
         |FROM p
         |LEFT JOIN inter i ON p.vec_a = i.vec_a AND p.vec_b = i.vec_b
         |LEFT JOIN cnt ca ON p.vec_a = ca.doc_id
         |LEFT JOIN cnt cb ON p.vec_b = cb.doc_id
         |ORDER BY p.vec_a, p.vec_b""".stripMargin,
    "dd_embed_cos" ->
      s"""WITH v AS (${OracleSql.vectors})
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cos
        |FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin
  )

  /** DuckDB SQL for the same verified pairs (= the dd_ngram_jaccard
    * oracle), exposed so other oracles ([[DedupClusters]]) can embed it
    * as a CTE.
    */
  def ngramJaccardPairsSql: String = oracleSql("dd_ngram_jaccard")

  /** DuckDB SQL for the simhash-64 banded pairs (= the
    * dd_simhash64_pairs oracle — a full WITH query; embed as a
    * parenthesized subquery).
    */
  def simhash64PairsSql: String = oracleSql("dd_simhash64_pairs")
}
