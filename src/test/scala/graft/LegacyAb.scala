package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench.clock
import graft.operators.Dedup

/** The round-17 bodies of the suffix and CDC rows, kept as references
  * for the specs that pin the current bodies to them
  * ([[SuffixImplSpec]], [[Round18OpsSpec]]), and the one A/B harness
  * that times an old body against a new one. Run an A/B with
  * `sbt "Test/runMain graft.LegacyAb <mode> <sfDir> [args...]"`, where
  * mode is one of:
  *  - `suffiximpl <sfDir> [L] [spans|clean]`: round-17 vs current
  *    suffixSpansOf (or suffixCleanOf);
  *  - `suffixab <sfDir> [L] [baseA] [baseB]`: suffixSpansOf at two seed
  *    gram widths;
  *  - `cdcab <sfDir>`: round-17 vs current dd_cdc_chunks.
  */
object LegacyAb {

  /** Round-17 suffixSpansOf, inlined verbatim as the `suffiximpl`
    * A/B's reference arm (measurement harness only — the packed-id
    * assert_true guards are elided, they cost nothing either way):
    * groupBy+join-back per class collapse, string seed keys,
    * localCheckpoints on every dual-consumed frame.
    */
  def legacySuffixSpansOf(documents: DataFrame, spanL: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seedBase = math.min(Dedup.SuffixSeedBase, spanL / 2)
    val pk = 1048576L
    val d = documents.filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .localCheckpoint(false)
    val grams = d
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, len), i -> substring(text, i, $seedBase))"))
        .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("g"))
      .withColumn("ord", col("doc_id") * lit(pk) + col("p"))
    val c0 = grams.groupBy("g").agg(min(col("ord")).as("cls"))
    var t = grams.join(c0, "g").select(col("ord"), col("cls"))
      .localCheckpoint(false)
    val wDoc = Window.partitionBy(expr(s"ord DIV $pk")).orderBy(col("ord"))
    var w = seedBase
    while (w < spanL) {
      val paired = t
        .withColumn("clsb", coalesce(lead(col("cls"), w).over(wDoc), lit(-1L)))
        .select(col("ord"), col("cls").as("clsa"), col("clsb"))
        .localCheckpoint(false)
      val ids = paired.groupBy("clsa", "clsb").agg(min(col("ord")).as("ncls"))
      t = paired.join(ids, Seq("clsa", "clsb"))
        .select(col("ord"), col("ncls").as("cls"))
      w *= 2
    }
    val pos = t.select(expr(s"ord DIV $pk").as("doc_id"),
      expr(s"CAST(ord % $pk AS INT)").as("p"), col("cls"))
    val full = pos.join(d.select(col("doc_id"), col("len")), "doc_id")
      .filter(col("p") + lit(spanL - 1) <= col("len"))
      .select("doc_id", "p", "cls")
      .localCheckpoint(false)
    val dupCls = full.filter(col("doc_id") =!= expr(s"cls DIV $pk"))
      .select("cls").distinct()
    val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    full.join(dupCls, Seq("cls"), "left_semi")
      .withColumn("grp", col("p") - row_number().over(wIsl))
      .groupBy("doc_id", "grp")
      .agg(min(col("p")).as("s0"), max(col("p")).as("s1"))
      .select(col("doc_id"), col("s0").cast("long").as("span_start"),
        (col("s1") - col("s0") + spanL).cast("long").as("span_len"))
  }

  /** Round-17 suffixCleanOf, inlined verbatim as the `suffiximpl clean`
    * A/B's reference arm: raw span strings through the winner
    * aggregate + cut join, the per-covered-char explode census, and
    * the running-concat reassembly fold — feeding from
    * [[legacySuffixSpansOf]] so the arm is the full r17 row shape.
    */
  def legacySuffixCleanOf(documents: DataFrame, spanL: Int): DataFrame = {
    val pk = 1048576L
    val d = documents.filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
    val spans = legacySuffixSpansOf(documents, spanL)
      .localCheckpoint(false)
    val withText = spans.join(d, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_len"),
        expr("substring(text, CAST(span_start AS INT), CAST(span_len AS INT))")
          .as("span_text"),
        (col("doc_id") * lit(pk) + col("span_start")).as("ord"))
      .localCheckpoint(false)
    val winners = withText.groupBy("span_text").agg(min(col("ord")).as("keep_ord"))
    val cuts = withText.join(winners, Seq("span_text"))
      .filter(col("ord") =!= col("keep_ord"))
      .select("doc_id", "span_start", "span_len")
      .localCheckpoint(false)
    val cutChars = cuts
      .select(col("doc_id"),
        explode(expr("sequence(span_start, span_start + span_len - 1)")).as("i"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("cut_chars"))
    val cutsPerDoc = cuts.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_len"))))
        .as("cs"), count(lit(1)).as("n_cut"))
    val spansPerDoc = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    d.join(spansPerDoc, Seq("doc_id"), "left")
      .join(cutsPerDoc, Seq("doc_id"), "left")
      .join(cutChars, Seq("doc_id"), "left")
      .withColumn("ct", expr(
        """aggregate(
          |  coalesce(cs, CAST(array() AS ARRAY<STRUCT<span_start: BIGINT, span_len: BIGINT>>)),
          |  struct(CAST(1 AS BIGINT) AS prev, '' AS acc),
          |  (st, c) -> struct(
          |    c.span_start + c.span_len AS prev,
          |    concat(st.acc, substring(text, CAST(st.prev AS INT),
          |      CAST(greatest(c.span_start - st.prev, CAST(0 AS BIGINT)) AS INT))) AS acc),
          |  st -> concat(st.acc, substring(text, CAST(st.prev AS INT),
          |    CAST(greatest(len - st.prev + 1, CAST(0 AS BIGINT)) AS INT))))""".stripMargin))
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"),
        length(col("ct")).cast("long").as("clean_len"),
        md5(col("ct")).as("clean_fp"))
  }

  /** Round-17 dd_cdc_chunks, inlined verbatim as the `cdcab` A/B's
    * reference arm: [[legacyCdcChunkRows]] aggregated into the top-50
    * shared chunks.
    */
  def legacyCdcChunks(documents: DataFrame): DataFrame = {
    import graft.operators.Dedup.CdcMinChunk
    legacyCdcChunkRows(documents)
      .select(col("doc_id"), md5(col("chunk")).as("chunk_md5"),
        length(col("chunk")).as("chunk_len"))
      .filter(col("chunk_len") >= CdcMinChunk)
      .groupBy("chunk_md5", "chunk_len")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("chunk_md5").asc)
      .limit(50)
  }

  /** The round-17 (doc_id, chunk) chain: one exploded row per
    * character position, window substring re-hashed per row (each
    * substring walks the UTF8 bytes from offset 0 — O(len²) per doc),
    * boundary lists re-attached through a collect_list aggregate +
    * doc-keyed join, chunks re-extracted with per-chunk substring.
    */
  def legacyCdcChunkRows(documents: DataFrame): DataFrame = {
    import graft.functions.RollingHash.rolling_hash
    import graft.operators.Dedup.{CdcMask, CdcWindow}
    val d = documents
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val bounds = d.filter(col("len") >= CdcWindow)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(CdcWindow), col("len"))).as("i"))
      .withColumn("wh",
        rolling_hash(expr(s"substring(text, i - ${CdcWindow - 1}, $CdcWindow)")))
      .filter(col("wh").bitwiseAND(lit(CdcMask)) === 0)
      .groupBy("doc_id").agg(collect_list(col("i")).as("bs"))
    d.join(bounds, Seq("doc_id"), "left")
      .withColumn("cuts", array_sort(array_distinct(concat(
        array(lit(0)), coalesce(col("bs"), array().cast("array<int>")),
        array(col("len"))))))
      .select(col("doc_id"), col("text"),
        explode(expr(
          "transform(sequence(0, size(cuts) - 2), " +
            "k -> struct(cuts[k] AS st, cuts[k + 1] AS en))")).as("ck"))
      .select(col("doc_id"),
        expr("substring(text, ck.st + 1, ck.en - ck.st)").as("chunk"))
  }

  /** The one A/B harness. The two arms' frames must be equal under
    * `equality` (the number of differing rows) before any leg is
    * timed — the exactness premise of the timing comparison. Then 8
    * legs run interleaved ABBA-BAAB in one JVM, so the monotone
    * in-session drift (pending-GC checkpoint blocks from earlier legs
    * pressure later ones) cancels between arms instead of biasing
    * whichever ran last. The summary is the per-arm min (the bench's
    * min-of-N convention): leg times on a shared host vary up to 5×
    * from outside interference, and forcing a GC between legs does
    * NOT stabilize them (measured, SCALE.md round 14). Returns the legs
    * in run order as (arm, rows, seconds).
    */
  def ab(name: String, tag: String,
      arms: Seq[(String, () => DataFrame)],
      equality: (DataFrame, DataFrame) => Long): Seq[(String, Long, Double)] = {
    val Seq((a, aDf), (b, bDf)) = arms
    require(a != b, s"$name: arm names must differ, both are $a")
    val differ = equality(aDf(), bDf())
    require(differ == 0, s"$name: arms $a and $b differ in $differ rows")
    println(s"STRESS ${name}_equality $tag rows_differ=0")
    val legs = Seq(0, 1, 1, 0, 1, 0, 0, 1).map { i =>
      val (arm, df) = arms(i)
      val (n, sec) = clock(df().count())
      println(f"STRESS $name $tag arm=$arm rows=$n time=$sec%.2f")
      (arm, n, sec)
    }
    val counts = legs.map(_._2).distinct
    require(counts.size == 1, s"$name: legs produced different row counts " +
      legs.map { case (arm, n, _) => s"$arm=$n" }.distinct.mkString(", "))
    val Seq(minA, minB) = Seq(a, b).map(arm => legs.filter(_._1 == arm).map(_._3).min)
    println(f"STRESS ${name}_summary $tag $a=$minA%.2f $b=$minB%.2f " +
      f"speedup=${minA / minB}%.2fx rows=${counts.head} " +
      "(per-arm min of 4 interleaved legs; equality asserted before timing)")
    legs
  }

  /** Rows in one frame and not in the other, both ways (multisets). */
  def rowsDiffer(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  /** Seed-base A/B for suffixSpansOf (round 14): the same L with two
    * seed gram widths — the base may change cost, never output.
    * Args: <sfDir> [L] [baseA] [baseB]
    */
  private def suffixAb(spark: SparkSession, rest: Seq[String]): Unit = {
    val dir = rest.head
    val l = rest.drop(1).headOption.map(_.toInt).getOrElse(32)
    val bA = rest.drop(2).headOption.map(_.toInt).getOrElse(4)
    val bB = rest.drop(3).headOption.map(_.toInt).getOrElse(8)
    val docs = Tables.load(spark, dir, "documents")
    docs.count() // warm-up: scan + codegen outside the timings
    ab("suffix_ab", s"dir=$dir L=$l",
      Seq(bA, bB).map(b => s"base$b" -> (() => Dedup.suffixSpansOf(docs, l, b))),
      rowsDiffer)
  }

  /** Implementation A/B for the round-18 suffixSpansOf rewrite
    * (window-min class collapse over fp128 seed keys, checkpoints
    * dropped) vs the round-17 shape [[legacySuffixSpansOf]]; `clean`
    * compares suffixCleanOf with [[legacySuffixCleanOf]]. Row-set
    * equality. Args: <sfDir> [L] [spans|clean]
    */
  private def suffixImpl(spark: SparkSession, rest: Seq[String]): Unit = {
    val dir = rest.head
    val l = rest.drop(1).headOption.map(_.toInt).getOrElse(32)
    val target = rest.drop(2).headOption.getOrElse("spans")
    val docs = Tables.load(spark, dir, "documents")
    docs.count() // warm-up outside the timings
    val clean = target == "clean"
    ab("suffix_impl", s"dir=$dir L=$l target=$target", Seq(
      "old" -> (() => if (clean) legacySuffixCleanOf(docs, l) else legacySuffixSpansOf(docs, l)),
      "new" -> (() => if (clean) Dedup.suffixCleanOf(docs, l) else Dedup.suffixSpansOf(docs, l))),
      rowsDiffer)
  }

  /** Implementation A/B for the round-18 dd_cdc_chunks rewrite
    * (one-pass CdcChunks expression, no boundary aggregate or join) vs
    * the round-17 shape [[legacyCdcChunks]]. Both arms end in an
    * ordered limit(50), so equality is row by row, order included.
    * Args: <sfDir>
    */
  private def cdcAb(spark: SparkSession, rest: Seq[String]): Unit = {
    val dir = rest.head
    val docs = Tables.load(spark, dir, "documents")
    docs.count() // warm-up outside the timings
    ab("cdc_ab", s"dir=$dir", Seq(
      "old" -> (() => legacyCdcChunks(docs)),
      "new" -> (() => SparkEntry.queries("dd_cdc_chunks")(spark, dir))),
      (a, b) => {
        val Seq(x, y) = Seq(a, b).map(_.collect().toSeq)
        x.zipAll(y, null, null).count { case (p, q) => p != q }.toLong
      })
  }

  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.drop(1)
    require(rest.nonEmpty, "usage: LegacyAb <suffixab|suffiximpl|cdcab> <sfDir> [args...]")
    val body: SparkSession => Unit = args.headOption match {
      case Some("suffixab") => suffixAb(_, rest)
      case Some("suffiximpl") => suffixImpl(_, rest)
      case Some("cdcab") => cdcAb(_, rest)
      case other => sys.error(s"unknown mode $other: use suffixab, suffiximpl or cdcab")
    }
    val spark = Session(s"graft-legacyab-${args.head}")
    try body(spark) finally spark.stop()
  }
}
