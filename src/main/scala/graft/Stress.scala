package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench.clock
import graft.operators.{Dedup, DedupClusters, GraphQueries, PipelineQueries, Similarity}
import graft.plans.AsOfJoin

/** Scale-stress harness: amplifies the sf0.1 testdata N× into a temp
  * dir (ids offset per copy so keys stay unique where they should, and
  * texts become exact dup groups of size N — the dup-heavy-corpus worst
  * case for the dedup family), then runs the REAL SparkEntry queries
  * against it and prints per-query wall-clock. Usage:
  * `runMain graft.Stress [factor] [queries...]`, or
  * `runMain graft.Stress <mode> [args...]` for one of the probes, A/Bs
  * and fixtures below (each documents its own arguments).
  */
object Stress {

  /** Oversized-bucket probe, runnable in a SMALL-heap JVM
    * (`java -Xmx2g -cp "target/scala-2.13/classes:<spark jars>"
    * graft.Stress pairgen [classSize]`): a `classSize`-member
    * exact-duplicate class landing in ONE bucket — the case that OOMed
    * the single-buffer `collect_list` pair generation — must complete
    * through [[graft.operators.PairGen.saltedPairs]] with bounded
    * buffers, plus the real dd_minhash operator over a corpus carrying
    * a (classSize/10)-member duplicate class. Pair output is
    * inherently quadratic (those pairs exist); the probe verifies the
    * exact count C(g,2)·bands and the wall-clock stays generation-
    * bound, not spill/OOM-bound.
    */
  private def pairgenStress(spark: SparkSession, classSize: Long): Unit = {
    import graft.operators.PairGen
    val expected = classSize * (classSize - 1) / 2
    val (got, sec) = clock(PairGen.saltedPairs(
        spark.range(0, classSize)
          .select(lit(0).as("k"), struct(col("id").as("doc_id")).as("v")),
        Seq("k"), "doc_id")
      .count())
    println(f"STRESS pairgen_dup_class g=$classSize pairs=$got " +
      f"expected=$expected ok=${got == expected} time=$sec%.1f " +
      f"heap_max_mb=${Runtime.getRuntime.maxMemory() / 1024 / 1024}")
    require(got == expected, s"pair count mismatch: $got != $expected")
    // The real operator end-to-end: sf0.001 docs plus a duplicate
    // class 10× over the salting cap — every band bucket of the class
    // is one mega-bucket; dd_minhash's groupBy(doc_a, doc_b) then
    // aggregates bands·C(g,2) candidate rows.
    val dupDocs = classSize / 10
    val dir = java.nio.file.Files.createTempDirectory("graft_pairgen").toString
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dupText = "the same boilerplate text repeated across the corpus " +
      "with enough words to shingle into a realistic signature footprint"
    base.select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .union(
        spark.range(0, dupDocs).select(
          (col("id") + 10000000L).as("doc_id"), lit(dupText).as("text"),
          lit("en").as("lang"), lit("stress").as("source"),
          lit(dupText.length.toLong).as("n_chars")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (pairs, mhSec) = clock(SparkEntry.queries("dd_minhash")(spark, dir).count())
    println(f"STRESS dd_minhash_dup_class g=$dupDocs pairs=$pairs " +
      f"(>= ${dupDocs * (dupDocs - 1) / 2} from the class) time=$mhSec%.1f")
    require(pairs >= dupDocs * (dupDocs - 1) / 2)
  }

  /** Host-speed calibration for the fixture wall-clock backstops
    * (round-15 verdict #5): the suffixskew fixture measured 202 s
    * under documented host contention vs its 300 s require — a 1.5×
    * margin that flakes on a worse day. Same probe as graft.Bench v2
    * (200M xxhash64 over all cores, min of 2, aggregate forced via
    * head()); measured backstop times divide by
    * max(1, probe / quiet-host reference) before comparing, so a 2×
    * slower host doubles the effective budget instead of failing a
    * fixture whose code didn't change.
    */
  private def hostSlowdown(spark: SparkSession): Double = {
    // probe parallelism follows the SESSION's core count (round-15
    // advice: hard-coded 32 partitions + a 32-thread quiet reference
    // meant any other host inflated the ratio and silently loosened
    // every backstop — the max(1,·) clamp only ever weakens)
    val cores = spark.sparkContext.defaultParallelism
    val probe = math.min(Bench.hostProbe(spark), Bench.hostProbe(spark))
    // quiet reference measured on THIS container's 32 threads
    // (0.22-0.41 s); the CPU-bound probe scales ~1/cores, so the
    // reference scales with the core ratio on other hosts
    val quietRef = 0.25 * (32.0 / cores)
    val ratio = math.max(1.0, probe / quietRef)
    println(f"STRESS host_probe=$probe%.3f s (cores=$cores, " +
      f"quiet_ref=$quietRef%.3f) slowdown_ratio=$ratio%.2f")
    ratio
  }

  /** Round-17 suffixSpansOf, inlined verbatim as the `suffiximpl`
    * A/B's reference arm (measurement harness only — the packed-id
    * assert_true guards are elided, they cost nothing either way):
    * groupBy+join-back per class collapse, string seed keys,
    * localCheckpoints on every dual-consumed frame.
    */
  private[graft] def legacySuffixSpansOf(documents: DataFrame, spanL: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seedBase = math.min(graft.operators.Dedup.SuffixSeedBase, spanL / 2)
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
  private[graft] def legacySuffixCleanOf(documents: DataFrame, spanL: Int): DataFrame = {
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
  private[graft] def legacyCdcChunks(documents: DataFrame): DataFrame = {
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
  private[graft] def legacyCdcChunkRows(documents: DataFrame): DataFrame = {
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
  private[graft] def ab(name: String, tag: String,
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
  private[graft] def rowsDiffer(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  /** Times `reps` counts of `df` and prints the fastest; a failure
    * prints and records rows=-1 instead of ending the run.
    */
  private def timed(name: String, reps: Int = 1)(df: => DataFrame): Unit = {
    val runs = (1 to reps).map(_ => clock(try df.count() catch { case e: Throwable =>
      System.err.println(s"$name FAILED: ${e.getMessage}"); -1L }))
    println(f"STRESS $name rows=${runs.head._1} time=${runs.map(_._2).min}%.1f" +
      (if (reps > 1) f" (first=${runs.head._2}%.1f)" else ""))
  }

  /** Writes `f` copies of table `name` from `src` to `dst`, copy i with
    * `i * stride` added to each id column. The default sparse 10⁸
    * stride keeps every mod-10/mod-97 slice class (so the delta/forget
    * slices amplify with the corpus) and stays far inside the
    * doc_id·2²⁰ positional pack's long range.
    */
  private def amplify(spark: SparkSession, src: String, dst: String, f: Int,
      name: String, idCols: Seq[String], stride: Long = 100000000L): Unit = {
    val base = Tables.load(spark, src, name)
    (0 until f).map(i => idCols.foldLeft(base)((df, c) =>
        df.withColumn(c, col(c) + lit(i * stride))))
      .reduce(_.union(_)).write.mode("overwrite").parquet(s"$dst/$name.parquet")
  }

  /** One untimed run of each query on `dir`: the first action in a
    * fresh session pays ~5-10 s of executor + whole-stage-codegen
    * startup, the same order as a 1× measurement.
    */
  private def warm(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { q =>
      try SparkEntry.queries(q)(spark, dir).count()
      catch { case e: Throwable => System.err.println(s"warmup $q FAILED: ${e.getMessage}") }
    }

  /** AsOfJoinExec skew probes: the custom exec declares a
    * ClusteredDistribution, so AQE's OptimizeSkewedJoin never splits a
    * hot key for it (it only rewrites SortMergeJoin/ShuffledHashJoin).
    * Measures the uniform baseline, the hot-key worst case (90% of the
    * left on one key → one straggler task) with auto-salt off, the
    * plain entry point (the auto-salt skew probe must route it to the
    * salted form; round-9 done criterion: ≤ ~1.2× the explicit salted
    * time), and the explicit salted form. Min-of-2: the first rep pays
    * whole-stage codegen compile, which a long-lived service amortizes.
    */
  private def asofProbes(spark: SparkSession): Unit = {
    val nLeft = 4000000L
    val nRight = 100000L
    def rightQuotes = spark.range(0, nRight).select(
      (col("id") % 1000).as("k"), (expr("id DIV 1000") * 100).as("t"),
      col("id").as("quote"))
    def leftOf(hot: Boolean) = spark.range(0, nLeft).select(
      (if (hot) when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 1000)
       else col("id") % 1000).as("k"),
      (col("id") * 7 % 100000).as("t"))
    // JVM warm-up so the first timed probe isn't charged session startup
    leftOf(hot = false).groupBy("k").count().count()
    def plain(hot: Boolean) = {
      val l = leftOf(hot); val r = rightQuotes
      AsOfJoin.joinAsOf(l, r, l("k"), r("k"), l("t"), r("t"))
    }
    timed("asof_uniform_keys", reps = 2)(plain(hot = false))
    timed("asof_hot_key_unsalted", reps = 2) {
      spark.conf.set("spark.graft.asof.autoSalt", "false")
      try plain(hot = true) finally spark.conf.set("spark.graft.asof.autoSalt", "true")
    }
    timed("asof_hot_key", reps = 2)(plain(hot = true))
    timed("asof_hot_key_salted", reps = 2) {
      val l = leftOf(hot = true); val r = rightQuotes
      AsOfJoin.joinAsOfSalted(l, r, l("k"), r("k"), l("t"), r("t"), salts = 32)
    }
  }

  /** dd_suffix_spans log-round scaling probe (round-13 verdict #3):
    * sweep the span length L — each doubling adds exactly ONE
    * class-doubling round, so wall-clock should step roughly linearly
    * in log2(L), not in L. Args: [sfDir] [L ...]
    */
  private def suffixSweep(spark: SparkSession, rest: Seq[String]): Unit = {
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val ls = rest.drop(1).map(_.toInt) match {
      case Seq() => Seq(32, 64, 128); case x => x
    }
    val docs = Tables.load(spark, dir, "documents")
    docs.count() // warm-up: scan + codegen paid outside the timings
    for (l <- ls) {
      // mirror suffixSpansOf's auto seed clamp: base = min(SeedBase, l/2)
      val seedBase = math.min(Dedup.SuffixSeedBase, l / 2)
      val rounds = (Integer.numberOfTrailingZeros(l)
        - Integer.numberOfTrailingZeros(seedBase))
      val (spans, sec) = clock(Dedup.suffixSpansOf(docs, l).count())
      println(f"STRESS suffix_spans dir=$dir L=$l rounds=$rounds " +
        f"spans=$spans time=$sec%.2f")
    }
  }

  /** Seed-base A/B for suffixSpansOf (round 14): the same L with two
    * seed gram widths — the base may change cost, never output.
    * Args: [sfDir] [L] [baseA] [baseB]
    */
  private def suffixAb(spark: SparkSession, rest: Seq[String]): Unit = {
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.1")
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
    * equality. Args: [sfDir] [L] [spans|clean]
    */
  private def suffixImpl(spark: SparkSession, rest: Seq[String]): Unit = {
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.1")
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
    * Args: [sfDir]
    */
  private def cdcAb(spark: SparkSession, rest: Seq[String]): Unit = {
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.1")
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

  /** Fat-cell fixture for the IVF rebalance path (round 14): a
    * synthetic corpus whose coarse quantizer provably concentrates 90%
    * of vectors in ONE cell — vec_ids 0..3 ARE the four well-separated
    * cluster centers (the IVF seeds), members 90/8/1.5/0.5% across
    * clusters (round 16: dust cells for the merge dual), jitter
    * deterministic (xxhash64-derived, no RNG). What it proves, by
    * require: (a) the ss_ivf_admit occupancy alarm FIRES on a genuinely
    * fat cell (on the uniform testdata it stays quiet); (b)
    * ss_ivf_rebalance answers it — exactly two sub-cells, worst-cell
    * occupancy strictly reduced; (c) bounded wall-clock on a cell 3.6×
    * the mean (the split touches one cell's rows, so a fat cell costs
    * what the fat cell holds, nothing quadratic). Args: [n]
    */
  private def ivfSkew(spark: SparkSession, rest: Seq[String]): Unit = {
    val n = rest.headOption.map(_.toLong).getOrElse(50000L)
    require(n < 1000000L, "n must stay below the delta re-key offset")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfskew_$n"
    // 90% / 8% / 1.5% / 0.5% — the fat cell trips the split alarm
    // (>2,000,000 ppm of mean) and the dust clusters land (post Lloyd
    // training, which blends the designed fractions) at least one cell
    // below the 200,000 ppm merge floor, so the merge dual must fold it
    spark.range(0L, n)
      .selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 63), d -> CAST(
             (CASE WHEN d DIV 16 = (
                CASE WHEN id < 4 THEN id
                     WHEN id % 1000 < 900 THEN 0
                     WHEN id % 1000 < 980 THEN 1
                     WHEN id % 1000 < 995 THEN 2
                     ELSE 3 END)
              THEN 10.0 ELSE 0.0 END)
             + (pmod(xxhash64(id * 64 + d), 1000) / 1000.0 - 0.5) * 0.1
           AS FLOAT)) AS embedding""",
        "CAST(0 AS INT) AS label")
      .coalesce(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.invalidate(dir)
    val slow = hostSlowdown(spark)
    val ((admit, reb, rebq, mq), sec) = clock((
      SparkEntry.queries("ss_ivf_admit")(spark, dir).collect(),
      SparkEntry.queries("ss_ivf_rebalance")(spark, dir).collect(),
      SparkEntry.queries("ss_ivf_rebalance_q")(spark, dir).collect(),
      SparkEntry.queries("ss_ivf_rebalance_mq")(spark, dir).collect()))
    val preMax = admit.map(_.getAs[Long]("occ_ppm_of_mean")).max
    val postMax = reb.map(_.getAs[Long]("occ_ppm_of_mean")).max
    val split = reb.filter(_.getAs[Boolean]("from_split"))
    val qMax = rebq.map(_.getAs[Long]("occ_ppm_of_mean")).max
    val nSplits = rebq.head.getAs[Long]("n_splits")
    println(f"STRESS ivf_skew n=$n cells_pre=${admit.length} " +
      f"pre_max_ppm=$preMax post_max_ppm=$postMax " +
      f"split_sizes=${split.map(_.getAs[Long]("n_total")).mkString("/")} " +
      f"quiesce_max_ppm=$qMax n_splits=$nSplits cells_q=${rebq.length} " +
      f"time=$sec%.2f (normalized ${sec / slow}%.2f)")
    require(admit.exists(_.getAs[Boolean]("rebalance")),
      s"fixture failed to trip the occupancy alarm (max $preMax ppm)")
    require(split.length == 2, s"expected 2 sub-cells, got ${split.length}")
    require(postMax < preMax,
      s"split did not reduce worst-cell occupancy ($preMax -> $postMax)")
    // the round-15 contract: the quiescence loop must leave the alarm
    // QUIET, not merely reduced — one midpoint split of a 90% cell
    // provably cannot (r14 measured 2,057,909 ppm vs the 2,000,000
    // threshold after the single split)
    require(qMax <= Similarity.AdmitRebalancePpm,
      s"rebalance-to-quiescence left the alarm FIRING ($qMax ppm > " +
        s"${Similarity.AdmitRebalancePpm} after $nSplits splits)")
    require(nSplits >= 2,
      s"fixture expected the loop to need >=2 splits on a 90% cell, ran $nSplits")
    // round-16 merge-dual contract: the two dust cells (1.5%, 0.5%)
    // fold into their nearest surviving centroids; the end state has
    // the alarm quiet AND no sub-floor cell AND k shrunk by exactly the
    // folded count vs the split-only census
    val mqMax = mq.map(_.getAs[Long]("occ_ppm_of_mean")).max
    val mqMin = mq.map(_.getAs[Long]("occ_ppm_of_mean")).min
    val nMerges = mq.head.getAs[Long]("n_merges")
    println(f"STRESS ivf_skew_mq cells=${mq.length} n_merges=$nMerges " +
      f"n_splits=${mq.head.getAs[Long]("n_splits")} " +
      f"max_ppm=$mqMax min_ppm=$mqMin")
    require(nMerges >= 1,
      s"no cell folded despite sub-floor dust cells in the mix, ran $nMerges")
    require(mq.length == rebq.length - nMerges,
      s"k after merge (${mq.length}) != split-only k (${rebq.length}) - $nMerges")
    require(mqMax <= Similarity.AdmitRebalancePpm,
      s"merge dual left the split alarm FIRING ($mqMax ppm)")
    require(mqMin >= Similarity.AdmitMergeFloorPpm,
      s"merge dual left a sub-floor cell ($mqMin ppm < " +
        s"${Similarity.AdmitMergeFloorPpm})")
    require(sec / slow < 300.0,
      f"fat-cell rebalance took $sec%.1f s (host-normalized ${sec / slow}%.1f) " +
        "— the one-cell cost claim degraded")
  }

  /** Repeated-boilerplate skew fixture (round-13 verdict #1): ONE
    * 32-char span duplicated across g ≈ 10⁵ docs, so the suffix class
    * holding the boilerplate start has g members — the hot key of the
    * class-pair join-back (paired ⋈ ids on (clsa,clsb): g probe rows
    * against ONE id row per class; AQE skew-split is the mitigation
    * under test) and of the dupCls semi-join. Docs are md5-pad ‖ boiler
    * ‖ md5-pad, so every doc carries exactly one duplicated island
    * (boundary windows shorten monotonically into shared pad
    * suffixes/prefixes and merge with the boiler island; pads are
    * unique) — expected spans == g exactly. Args: [g]
    */
  private def suffixSkew(spark: SparkSession, rest: Seq[String]): Unit = {
    val g = rest.headOption.map(_.toLong).getOrElse(100000L)
    val boiler = "THE SAME 32-CHAR BOILERPLATE RUN"
    require(boiler.length == 32, s"boiler must be 32 chars, is ${boiler.length}")
    val docs = spark.range(0, g).select(
        col("id").as("doc_id"),
        concat(md5(col("id").cast("string")), lit(boiler),
          md5(concat(col("id").cast("string"), lit("x")))).as("text"))
      .localCheckpoint(true) // timing measures the operator, not range+md5
    val slow = hostSlowdown(spark)
    val (spans, sec) = clock(Dedup.suffixSpansOf(docs, 32).count())
    println(f"STRESS suffix_skew g=$g spans=$spans time=$sec%.2f " +
      f"(normalized ${sec / slow}%.2f)")
    require(spans == g,
      s"expected exactly one boilerplate island per doc ($g), got $spans")
    // generous backstop, host-speed-normalized (round-15 verdict #5:
    // the raw 202 s contended measurement left only 1.5× margin on the
    // raw 300 s): a quadratic blowup or spill collapse on the hot class
    // would blow far past this; quiet runs are tens of seconds
    require(sec / slow < 300.0,
      f"suffix skew fixture took $sec%.1f s (host-normalized " +
        f"${sec / slow}%.1f) — hot-key path degraded")
  }

  /** Compression-gate throughput on ~200 MB of synthetic semi-random
    * text (10 KB docs: 300 md5 hex blocks each — ~2:1 deflatable,
    * unlike trivially-repetitive filler) — measures the MB/s/core
    * SCALE.md prices the ta_compress_ratio pass at. Args: [nDocs]
    */
  private def compress(spark: SparkSession, rest: Seq[String]): Unit = {
    val nDocs = rest.headOption.map(_.toLong).getOrElse(20000L)
    val dir = java.nio.file.Files.createTempDirectory("graft_compress").toString
    spark.range(0, nDocs).select(col("id").as("doc_id"),
        expr("array_join(transform(sequence(0, 299)," +
          " i -> md5(cast(id * 1000 + i as string))), ' ')").as("text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bytes = spark.read.parquet(s"$dir/documents.parquet")
      .agg(sum(length(col("text")))).head().getLong(0)
    // warm-up: first action pays session/codegen startup, not deflate
    SparkEntry.queries("ta_compress_ratio")(spark, dir).count()
    val (rows, secs) = clock(SparkEntry.queries("ta_compress_ratio")(spark, dir).count())
    val cores = spark.sparkContext.defaultParallelism
    println(f"STRESS compress_ratio docs=$rows bytes=$bytes " +
      f"time=$secs%.1f mb_per_core_sec=${bytes / 1e6 / secs / cores}%.1f")
  }

  /** Adversarial-diameter CC probe: a pure n-node path is the worst
    * case for min-propagation (diameter = n−1, one hop per round). The
    * gather phase gives up at StarSwitchRound and the
    * large-star/small-star body must finish in tens of rounds
    * (O(log² n)), labeling every node with the path minimum 0 — so
    * count must be n and sum(label) must be 0. Args: [n]
    */
  private def ccChain(spark: SparkSession, rest: Seq[String]): Unit = {
    val n = rest.headOption.map(_.toLong).getOrElse(10000L)
    val pairs = spark.range(0, n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (agg, secs) = clock(DedupClusters.connectedComponents(pairs)
      .agg(count(lit(1)), sum(col("label"))).head())
    val ok = agg.getLong(0) == n && agg.getLong(1) == 0L
    println(f"STRESS cc_chain n=$n nodes=${agg.getLong(0)} " +
      f"label_sum=${agg.getLong(1)} ok=$ok time=$secs%.1f")
    require(ok, s"chain labels wrong: $agg")
  }

  /** Downscale-branch forcing probe (round-10 verdict #7): a synthetic
    * label frame past the 2²⁵-doc ladder threshold makes the ARI tail
    * drop unit bits; 4·10⁷ docs still fits the exact DECIMAL path
    * (overflow starts ~6·10⁷), so the probe can compare the
    * auto-shifted result against the exact one and demand ppm-level
    * agreement — the branch is exercised at a doc count that FORCES
    * it, not simulated with an override. Args: [n]
    */
  private def ariScale(spark: SparkSession, rest: Seq[String]): Unit = {
    val n = rest.headOption.map(_.toLong).getOrElse(40000000L)
    // clusters of 10; every 100th doc defects to a singleton in the
    // second partition — agreement high but not perfect, so the ARI
    // ratio is a non-trivial number
    val joint = spark.range(0, n).select(col("id").as("doc_id"),
        expr("id DIV 10").as("l1"),
        expr("CASE WHEN id % 100 = 0 THEN id + 100000000 " +
          "ELSE id DIV 10 END").as("l2"))
      .localCheckpoint(false)
    val nf = joint.agg(count(lit(1)).as("n_docs"))
    val (auto, secs) = clock(DedupClusters.ariFromJoint(joint, nf).head())
    val exact = DedupClusters.ariFromJoint(joint, nf, shiftSqlOverride = Some("0")).head()
    // mirror ariUnitShiftSql's strict-< rungs exactly: shift =
    // 2*(floor(log2 n) - 24) — the ceil form overstates by 2 at exact
    // powers of two
    val expectShift =
      math.max(0, 2 * ((63 - java.lang.Long.numberOfLeadingZeros(n)) - 24))
    val d = math.abs(auto.getLong(5) - exact.getLong(5))
    val ok = expectShift > 0 && d <= 5
    println(f"STRESS ariscale n=$n forced_shift=$expectShift " +
      f"ari_ppm=${auto.getLong(5)} exact_ppm=${exact.getLong(5)} " +
      f"dppm=$d time=$secs%.1f ok=$ok")
    require(ok, s"downscale branch not forced or drifted: shift=" +
      s"$expectShift dppm=$d")
  }

  /** One sf1-scale probe of the heavy families (round-16 verdict #6):
    * all bench pricing is sf0.1; this copy-amplifies sf0.1 by 10×
    * (≈ sf1 row counts: 50k docs / 15M chars / 20k vectors) and times
    * each heavy query ONCE at both scales in the same warmed session,
    * printing the sf1/sf0.1 ratio next to the host calibration.
    * Data-linear (≈10×) confirms the plans; super-linear names the
    * next work. Copy-amplification is the dup-heavy worst case for the
    * suffix family (every doc gains 9 exact clones, so ~every position
    * sits in a duplicated span, and the distinct-gram set does NOT
    * grow) — ratios are read with that regime in mind (SCALE.md round
    * 16). Args: [query ...]
    */
  private def sf1(spark: SparkSession, rest: Seq[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val dst = java.nio.file.Files.createTempDirectory("graft_sf1_").toString
    amplify(spark, src, dst, 10, "documents", Seq("doc_id"))
    amplify(spark, src, dst, 10, "embeddings", Seq("vec_id"))
    val heavy =
      if (rest.nonEmpty) rest
      else Seq("ss_ivf_admit", "ss_ivf_rebalance_q", "ss_ivf_rebalance_mq",
        "dd_suffix_index_build", "st_suffix_admit",
        "dd_suffix_spans", "pipe_suffix_clean")
    // warm at sf0.1 (codegen + the memoized publishes, so the sf0.1
    // denominators time the query, not session startup)
    warm(spark, src, heavy)
    val slow = hostSlowdown(spark)
    heavy.foreach { q =>
      val (r01, t01) = clock(SparkEntry.queries(q)(spark, src).count())
      val (r1, t1) = clock(SparkEntry.queries(q)(spark, dst).count())
      println(f"STRESS sf1_probe q=$q sf01_rows=$r01 sf01_sec=$t01%.2f " +
        f"sf1_rows=$r1 sf1_sec=$t1%.2f ratio=${t1 / t01}%.2f " +
        f"slowdown=$slow%.2f")
    }
  }

  /** Scaling-curve probe for the exact-audit tier (round-9 mandate):
    * run the expensive exact/graph queries at 1×/5×/20×/50× corpus
    * amplification and fit t ∝ f^α and t ∝ rows^β by least squares on
    * the log-log points. The claims under test: dd_containment /
    * dd_jaccard_prefix are OUTPUT-dominated — their true-pair count
    * grows ~f² under copy-amplification (each doc gains f−1 exact
    * clones), so α≈2 is EXPECTED and β≈1 (linear in emitted pairs) is
    * the non-quadratic-blowup evidence; ss_graph_expand's trained-IVF
    * edge build must hold α ≈ 1.5 (edge volume O(n^1.5)), nowhere near
    * the all-pairs α = 2 with β following edges, not pairs².
    * Args: [f1,f2,...] [names...] — the default sweep keeps the
    * round-9 exact-audit trio at 1/5/20/50.
    */
  private def curve(spark: SparkSession, rest: Seq[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val (factors, names) = rest match {
      case fs +: ns if fs.matches("[0-9]+(,[0-9]+)*") => (fs.split(",").toSeq.map(_.toInt), ns)
      case ns => (Seq(1, 5, 20, 50), ns)
    }
    val queries =
      if (names.nonEmpty) names
      else Seq("dd_containment", "dd_jaccard_prefix", "ss_graph_expand")
    val results = scala.collection.mutable.Map[String, List[(Int, Long, Double)]]()
      .withDefaultValue(Nil)
    // Spill-not-buffer evidence (round-11 verdict #8): per run, record
    // total shuffle/agg spill and the PEAK single-task execution
    // memory. The bounded-buffer contract of the salted PairGen path
    // predicts peak task memory stays ~FLAT as the factor grows
    // (oversized buckets spill through sort-merge); a peak that scales
    // with the factor would mean some operator buffers a bucket.
    val spillMem = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillDisk = new java.util.concurrent.atomic.AtomicLong(0L)
    val peakTask = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
            peakTask.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
          }
        }
      })
    // outside the fit: dd_dbscan's 1× point measured 11.5 s cold vs
    // 2-3 s warm, which bends every fitted exponent down
    warm(spark, src, queries)
    factors.foreach { f =>
      val dst = java.nio.file.Files.createTempDirectory(s"graft_curve_$f").toString
      amplify(spark, src, dst, f, "documents", Seq("doc_id"))
      amplify(spark, src, dst, f, "embeddings", Seq("vec_id"))
      // part amplifies with CONTIGUOUS key offsets (i·|part|, not the
      // sparse 10⁸ stride) so the key-derived BOM hierarchy (parent =
      // key DIV 8) chains the copies into ONE deeper forest — the
      // recursion actually gains levels (depth = log₈ n) instead of
      // orphaning every copy's parents. lineitem amplifies rows under
      // the SAME part key domain — the rising-duplication regime where
      // the bitmap distinct's stage-1 frame must stay constant while
      // row count grows.
      amplify(spark, src, dst, f, "part", Seq("p_partkey"),
        stride = Tables.load(spark, src, "part").count())
      amplify(spark, src, dst, f, "lineitem", Seq("l_orderkey"))
      queries.foreach { n =>
        spillMem.set(0L); spillDisk.set(0L); peakTask.set(0L)
        val (rows, secs) = clock(try SparkEntry.queries(n)(spark, dst).count()
          catch { case e: Throwable =>
            System.err.println(s"$n@$f FAILED: ${e.getMessage}"); -1L })
        Thread.sleep(1500) // listener bus drains async; timing is done
        println(f"CURVE $n factor=$f rows=$rows time=$secs%.1f " +
          f"spill_mem_mb=${spillMem.get() / 1048576} " +
          f"spill_disk_mb=${spillDisk.get() / 1048576} " +
          f"peak_task_mem_mb=${peakTask.get() / 1048576}")
        if (rows >= 0) results(n) = results(n) :+ ((f, rows, secs))
      }
    }
    def slope(pts: Seq[(Double, Double)]): Double = {
      val n = pts.length
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    queries.foreach { n =>
      val pts = results(n)
      if (pts.length >= 3) {
        val a = slope(pts.map(p => (math.log(p._1.toDouble), math.log(p._3))))
        val b = slope(pts.filter(_._2 > 0)
          .map(p => (math.log(p._2.toDouble), math.log(p._3))))
        println(f"CURVEFIT $n alpha_vs_factor=$a%.2f beta_vs_rows=$b%.2f " +
          pts.map(p => s"${p._1}x:${p._3.formatted("%.1f")}s/${p._2}r").mkString(" "))
      }
    }
  }

  /** The default mode: every listed query over a `factor`× copy of
    * sf0.1, then the skew probes. Args: [factor] [queries...]
    */
  private def amplified(spark: SparkSession, args: Seq[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(20)
    val names = if (args.length > 1) args.drop(1)
      else Seq("wordcount", "q1_agg", "q_join_large", "ta_tfidf",
        "dd_exact", "dd_minhash", "dd_ngram_jaccard", "dd_simhash64_pairs",
        "dd_embed_multiprobe", "dd_clusters", "dd_survivors", "ev_range_join",
        "pipe_pack_sequences", "q_ntile", "ta_repetition",
        "ss_bruteforce_topk", "pipe_clean_corpus", "pipe_full_clean",
        "ta_bm25", "dd_knn_graph", "dd_pagerank", "dd_pagerank_directed",
        "ss_kmeans_step", "ta_zipf", "pipe_stratified_sample",
        "ss_hybrid_rrf_multi", "dd_jaccard_prefix", "q_exact_quantiles",
        "pipe_merge_upsert", "pipe_incremental_dedup", "dd_repeated_spans",
        "pipe_domain_cap", "ta_heavy_hitters", "ta_bpe_merge",
        "pipe_chunk_overlap", "mm_audio_wav", "ta_quality_lr",
        "dd_semantic_survivors", "ss_ann_recall", "mm_video_mp4",
        "dd_lsh_recall", "dd_lsh_band_sweep", "pipe_split_leakage",
        "ss_quantize_int8", "pipe_zorder", "q_winsorize",
        "ta_compress_ratio", "ta_sentences", "pipe_shard_manifest",
        "ev_asof_nearest", "ev_sliding_15m",
        "ss_pq_encode", "ss_pq_adc", "ss_ivfpq_search",
        "dd_containment", "dd_containment_capped",
        "dd_exact_normalized", "q_histogram_equidepth",
        "ss_pq_recall", "ss_embed_cov", "ta_langid_mixed",
        "dd_semantic_text_check",
        "dd_cdc_chunks", "mm_phash_pairs", "pipe_dsir_weights",
        "pipe_token_budget", "pipe_ppl_buckets", "ss_ivf_nprobe",
        "ss_ivf_recall", "ss_pca_top2",
        "ta_trigram_backoff", "dd_label_prop", "ev_anomaly",
        "ta_lang_entropy", "ev_markov", "pipe_pack_stats",
        "sk_hll_merge", "sk_cms_heavy", "sk_kmv_distinct",
        "ta_collocations", "ev_peak_concurrency", "ev_hour_utilization",
        "sk_kmv_intersect", "sk_cms_merge", "ev_conc_histogram",
        "ta_quality_calibration", "pipe_join_maintenance",
        "pipe_scd2_history", "q_dq_checks",
        // round-10 rows over the amplified tables (ev_* rows ride the
        // un-amplified events copy and are stressed by their own
        // bounded-frame construction instead)
        "ta_nb_train", "ta_nb_score", "ta_feature_hash", "ta_kn_bigram",
        "ta_vocab_coverage", "ta_pr_curve", "dd_dbscan", "ss_adamic_adar",
        "mm_frame_diff", "mm_wav_downsample", "q_approx_quantile",
        "ta_burrows_delta", "ta_js_drift", "ta_char_entropy",
        "mm_pgm_equalize", "dd_cluster_agreement",
        "dd_cluster_weakest_link", "pipe_rebalance_plan")
    val src = "/root/testdata/sf0.1"
    val dst = java.nio.file.Files.createTempDirectory("graft_stress").toString
    amplify(spark, src, dst, factor, "documents", Seq("doc_id"))
    amplify(spark, src, dst, factor, "embeddings", Seq("vec_id"))
    amplify(spark, src, dst, factor, "lineitem", Seq("l_orderkey"))
    amplify(spark, src, dst, factor, "orders", Seq("o_orderkey"))
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      amplify(spark, src, dst, 1, t, Seq())
    }
    // events: ts is ns-long in the raw file; copy as-is
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    amplify(spark, src, dst, 1, "events", Seq())

    println(s"STRESS factor=$factor dir=$dst docs=" +
      spark.read.parquet(s"$dst/documents.parquet").count())
    names.foreach(n => timed(n)(SparkEntry.queries(n)(spark, dst)))

    // Sharded sequence packing: the (lang, shard) re-keying SCALE.md
    // names as the 100 TB form — parallelism = langs × shards instead
    // of capping at the language count.
    timed("pack_by_lang_shard") {
      PipelineQueries.packBySharded(spark, dst, 32)
    }

    // Zipfian-stratum probe for the two-phase stratified sampler: 90%
    // of the amplified corpus collapsed into one language — the
    // dominant-stratum shape that would hang a per-stratum window. The
    // two-phase plan ranks only the boundary bucket (~1/256 of the hot
    // stratum), so this completes in aggregate-scan time.
    val skewDir = s"$dst/docs_skew"
    spark.read.parquet(s"$dst/documents.parquet")
      .withColumn("lang",
        when(pmod(col("doc_id"), lit(10)) < 9, lit("en")).otherwise(col("lang")))
      .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
    timed("stratified_sample_zipf_lang") {
      SparkEntry.queries("pipe_stratified_sample")(spark, skewDir)
    }

    // Hot-bucket probe for the two-phase exact quantiles: 90% of the
    // price column collapsed into ONE range bucket, so a target rank
    // lands in a bucket holding 90% of all rows — the worst case for
    // "rank only the boundary bucket" (the uniform domain leaves
    // ~1/100th of the column there). Measures how the plan degrades
    // when the value domain is Zipfian rather than spread.
    val qskewDir = s"$dst/lineitem_skew"
    spark.read.parquet(s"$dst/lineitem.parquet")
      .withColumn("l_extendedprice",
        when(pmod(col("l_orderkey"), lit(10)) < 9,
          lit(1000.0) + pmod(col("l_orderkey"), lit(999)).cast("double"))
          .otherwise(col("l_extendedprice")))
      .write.mode("overwrite").parquet(s"$qskewDir/lineitem.parquet")
    timed("exact_quantiles_hot_bucket") {
      SparkEntry.queries("q_exact_quantiles")(spark, qskewDir)
    }

    // Hub-graph triangle probe: one "boilerplate" doc paired with every
    // other doc (the worst case dd_degree_hist detects) plus a rim
    // path. Id-oriented wedge generation would enumerate C(hub_deg, 2)
    // ≈ 1.3e11 wedges from the hub alone; degree orientation caps the
    // hub's out-degree, so wedge volume stays O(m^1.5) and the count
    // finishes in join time.
    val hubDeg = 500000L
    val hubEdges = spark.range(1, hubDeg + 1)
      .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val rimEdges = spark.range(1, hubDeg)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    timed("triangles_hub_graph") {
      GraphQueries.triangleCount(hubEdges.union(rimEdges))
    }

    asofProbes(spark)
  }

  private def run(mode: String, master: String = s"local[${Session.cpus}]")(
      body: SparkSession => Unit): Unit = {
    val spark = Session(s"graft-stress-$mode", master)
    try body(spark) finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.drop(1)
    args.headOption match {
      case Some("suffix") => run("suffix")(suffixSweep(_, rest))
      case Some("suffixab") => run("suffixab")(suffixAb(_, rest))
      case Some("suffiximpl") => run("suffiximpl")(suffixImpl(_, rest))
      case Some("cdcab") => run("cdcab")(cdcAb(_, rest))
      case Some("ivfskew") => run("ivfskew")(ivfSkew(_, rest))
      case Some("suffixskew") => run("suffixskew")(suffixSkew(_, rest))
      // local[8] at a 2 GB heap = 256 MB per concurrent task — harsher
      // than any sane production sizing (local[32] would grant 64 MB a
      // task, a config no 100 TB cluster runs)
      case Some("pairgen") => run("pairgen", master = "local[8]")(
        pairgenStress(_, rest.headOption.map(_.toLong).getOrElse(100000L)))
      case Some("compress") => run("compress")(compress(_, rest))
      case Some("ccchain") => run("ccchain")(ccChain(_, rest))
      case Some("ariscale") => run("ariscale")(ariScale(_, rest))
      case Some("sf1") => run("sf1")(sf1(_, rest))
      case Some("asof") => run("asof")(asofProbes)
      case Some("curve") => run("curve")(curve(_, rest))
      case _ => run("amplified")(amplified(_, args.toSeq))
    }
  }
}
