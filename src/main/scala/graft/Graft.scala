package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** User-facing convenience surface: register every testdata table as a
  * temp view (documents/embeddings get their typed/normalized forms)
  * and run arbitrary SQL against them — the "switch your engine, keep
  * your SQL" entry point — plus stable aliases for the operators Spark
  * itself lacks, so library users don't reach into internal packages.
  */
object Graft {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  def openViews(spark: SparkSession, dir: String): Unit = {
    tableNames.foreach(n => Tables.load(spark, dir, n).createOrReplaceTempView(n))
    Tables.events(spark, dir).createOrReplaceTempView("events") // ns→µs normalized
  }

  /** Register views + graft SQL functions, then run the query. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    openViews(spark, dir)
    GraftExtensions.register(spark)
    spark.sql(query)
  }

  // ---- operator API (the pieces Spark has no built-in form of) ----

  /** As-of join, backward by default; `forward = true` picks the
    * earliest right row at-or-after the left time instead
    * (see [[graft.plans.AsOfJoin.joinAsOf]]).
    */
  def joinAsOf(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column,
      forward: Boolean = false): DataFrame =
    plans.AsOfJoin.joinAsOf(left, right, leftKey, rightKey, leftTime, rightTime, forward)

  /** NEAREST as-of join: the same-key right row closest in time, ties
    * to the earlier row (see [[graft.plans.AsOfJoin.joinAsOfNearest]]).
    */
  def joinAsOfNearest(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTime: Column, rightTime: Column): DataFrame =
    plans.AsOfJoin.joinAsOfNearest(left, right, leftKey, rightKey, leftTime, rightTime)

  /** Large×large interval-containment join via time binning
    * (see [[graft.operators.RangeJoin.binnedIntervalJoin]]).
    */
  def intervalJoin(points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binMicros: Long): DataFrame =
    operators.RangeJoin.binnedIntervalJoin(points, tsCol, intervals, startCol, endCol, binMicros)

  /** Connected components over an undirected pair list with columns
    * (doc_a, doc_b) → (id, label = component minimum)
    * (see [[graft.operators.DedupClusters.connectedComponents]]).
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    operators.DedupClusters.connectedComponents(pairs)

  /** Token-budget sequence packing keyed by (lang, shard) — the
    * horizontally-scalable form (see
    * [[graft.operators.PipelineQueries.packBySharded]]).
    */
  def packSequences(spark: SparkSession, dir: String, shards: Int): DataFrame =
    operators.PipelineQueries.packBySharded(spark, dir, shards)

  /** HLL register sketch of `key` over `rows` — ≤256 (reg, rho) rows,
    * mergeable with [[hllMerge]], readable with [[hllEstimate]]
    * (see [[graft.operators.SketchQueries.hllSketch]]).
    */
  def hllSketch(rows: DataFrame, key: Column): DataFrame =
    operators.SketchQueries.hllSketch(rows, key)

  /** Merge HLL register sketches by elementwise max. */
  def hllMerge(sketches: Seq[DataFrame]): DataFrame =
    operators.SketchQueries.hllMerge(sketches)

  /** Fixed-point distinct-count estimate of a register sketch:
    * 1 row (m, n_set, zcap, est_distinct), integer end to end.
    */
  def hllEstimate(registers: DataFrame): DataFrame =
    operators.SketchQueries.hllEstimate(registers)

  /** Peak concurrent [ts, ts+lengthMicros) intervals per hour
    * (see [[graft.operators.EventQueries.peakConcurrency]]).
    */
  def peakConcurrency(events: DataFrame, tsCol: String,
      lengthMicros: Long): DataFrame =
    operators.EventQueries.peakConcurrency(events, tsCol, lengthMicros)

  /** Interval-union coverage per hour in integer µs and ppm
    * (see [[graft.operators.EventQueries.intervalUtilization]]).
    */
  def intervalUtilization(events: DataFrame, tsCol: String,
      lengthMicros: Long): DataFrame =
    operators.EventQueries.intervalUtilization(events, tsCol, lengthMicros)

  /** Dwell time per concurrency level
    * (see [[graft.operators.EventQueries.concurrencyHistogram]]).
    */
  def concurrencyHistogram(events: DataFrame, tsCol: String,
      lengthMicros: Long): DataFrame =
    operators.EventQueries.concurrencyHistogram(events, tsCol, lengthMicros)

  /** Bloom bit-set of `key` over `rows` — ≤2¹⁶ position rows; merge
    * filters by distinct-union, probe with [[bloomProbe]]
    * (see [[graft.operators.SketchQueries.bloomBits]]).
    */
  def bloomBits(rows: DataFrame, key: Column): DataFrame =
    operators.SketchQueries.bloomBits(rows, key)

  /** Probe keys against a [[bloomBits]] frame: (key, all_set) with no
    * false negatives (see [[graft.operators.SketchQueries.bloomProbe]]).
    */
  def bloomProbe(bits: DataFrame, rows: DataFrame, key: Column): DataFrame =
    operators.SketchQueries.bloomProbe(bits, rows, key)

  /** U-shaped multi-touch attribution: exactly 10,000 bp of credit per
    * purchase over its lookback touch path
    * (see [[graft.operators.EventQueries.attributionUShape]]).
    */
  def attributionUShape(purchases: DataFrame, touches: DataFrame,
      lookbackHours: Int): DataFrame =
    operators.EventQueries.attributionUShape(purchases, touches, lookbackHours)

  /** Integer-exact two-sample Kolmogorov–Smirnov drift statistic
    * (see [[graft.operators.PipelineQueries.ksDrift]]).
    */
  def ksDrift(rows: DataFrame, value: Column, isRef: Column): DataFrame =
    operators.PipelineQueries.ksDrift(rows, value, isRef)

  /** Integer micro-unit PageRank over an undirected (doc_a, doc_b)
    * pair list (see [[graft.operators.GraphQueries.pageRankMicro]]).
    */
  def pageRank(pairs: DataFrame, iters: Int = operators.GraphQueries.Iters): DataFrame =
    operators.GraphQueries.pageRankMicro(pairs, iters)

  /** HITS hubs & authorities in integer micro-units over a directed
    * (src, dst) edge list (see [[graft.operators.GraphQueries.hitsMicro]]).
    */
  def hits(edges: DataFrame,
      iters: Int = operators.GraphQueries.HitsRounds): DataFrame =
    operators.GraphQueries.hitsMicro(edges, iters)

  /** 2-D radius join via the exact r-cell cover — all (left, right)
    * pairs within squared Euclidean distance r² on integer coordinate
    * columns (see [[graft.operators.RangeJoin.radiusJoin]]).
    */
  def radiusJoin(left: DataFrame, right: DataFrame, lx: String, ly: String,
      rx: String, ry: String, r: Long): DataFrame =
    operators.RangeJoin.radiusJoin(left, right, lx, ly, rx, ry, r)

  /** TextRank keywords of a corpus: (rk, word, pr_micro), top `k`
    * (see [[graft.operators.TextAnalysis.textRank]]).
    */
  def textRank(docs: DataFrame, text: Column, k: Int): DataFrame =
    operators.TextAnalysis.textRank(docs, text, k)

  /** Z-order (Morton) layout key of two 16-bit cell coordinates — the
    * multi-dimensional clustering sort key
    * (see [[graft.functions.InterleaveBits]]).
    */
  def zorderIndex(x: Column, y: Column): Column =
    functions.InterleaveBits.interleave_bits(x, y)

  /** Hilbert-curve layout key of two 16-bit cell coordinates —
    * Z-order's better-locality sibling: every prefix is one contiguous
    * curve segment, so range scans touch fewer files
    * (see [[graft.functions.HilbertIndex]]).
    */
  def hilbertIndex(x: Column, y: Column): Column =
    functions.HilbertIndex.hilbert_index(x, y)

  /** Exact k-th values of a double column by radix selection — no
    * global sort, no sketch; `targets` maps a stat label to its rank
    * given the row count (see [[graft.operators.QuantileQueries.kthValues]]).
    */
  def exactQuantiles(spark: SparkSession, rows: DataFrame, valueCol: String,
      targets: Seq[(String, Long => Long)]): DataFrame =
    operators.QuantileQueries.kthValues(spark, rows, valueCol, targets)

  /** Optimal unigram-tokenizer segmentation cost (10⁶·n_pieces + Σrank)
    * of a string column under a fixed piece vocabulary — native
    * codegen expression (see [[graft.functions.UnigramViterbi]]).
    */
  def unigramSegmentCost(text: Column, vocab: Map[String, Int],
      maxPieceLen: Int, maxChars: Int): Column =
    functions.UnigramViterbi.unigram_viterbi(text, vocab, maxPieceLen, maxChars)
}
