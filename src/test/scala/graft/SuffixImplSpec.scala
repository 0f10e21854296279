package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Round-18 suffix rewrite equivalence pins: the window-min /
  * fp128-keyed / join-free suffixSpansOf and the fp128-winner /
  * interval-union / array-join suffixCleanOf must be ROW-IDENTICAL to
  * the round-17 shapes (kept verbatim in [[LegacyAb]] as the A/B
  * harness's reference arms) — on the real corpus AND on a crafted
  * fixture hitting every edge the rewrite touched:
  *
  *  - truncation boundaries: docs shorter than the seed gram, shorter
  *    than L, exactly L, and L+1 (the lead(ord, L−1) eligibility
  *    replacement for the len join);
  *  - a degenerate hot gram (one char repeated — every seed window in
  *    one fp128 class; the window-spill exposure);
  *  - overlapping maximal islands (start gap < L — the interval-union
  *    census and the stitcher's overlap clamp);
  *  - a doc that is one single duplicated span end to end (fully cut);
  *  - multi-occurrence spans within ONE doc only (must NOT be spans —
  *    the cross-doc max-flag window's negative case).
  */
class SuffixImplSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def rowSetEqual(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "row sets differ between the r18 implementation and the r17 reference")
  }

  private def fixture: DataFrame = {
    import spark.implicits._
    val boiler = "0123456789abcdefghijklmnopqrstuvwxyzABCDEF" // 42 > L=32
    val docs = Seq(
      // cross-doc duplicated span with distinct flanks
      (1L, s"first unique preamble X${boiler}P and a first unique tail"),
      (2L, s"second other preamble Y${boiler}Q second other longer tail"),
      // overlapping islands: two boiler copies 10 chars apart in doc 3
      // pair with docs 1/2's copies — islands [s, s+41] and
      // [s+52, ...] vs a second copy at offset < L merges/overlaps
      (3L, s"Z$boiler##########${boiler}W padding so both copies sit inside"),
      // exactly one duplicated span end to end (fully cut when it
      // loses keep-first)
      (4L, boiler),
      // shorter than L — can never hold a span
      (5L, "tiny doc"),
      // exactly L chars, duplicated across docs 6/7 — the minimal span
      (6L, "qrstuvwxyz0123456789QRSTUVWXYZ!?"),
      (7L, "qrstuvwxyz0123456789QRSTUVWXYZ!?"),
      // L+1 chars sharing the L-prefix with 6/7
      (8L, "qrstuvwxyz0123456789QRSTUVWXYZ!?z"),
      // degenerate hot gram: 90 identical chars (self-similar, but
      // single-doc only → cross-doc flag must stay down)
      (9L, "a" * 90),
      // the same hot run in a SECOND doc → now cross-doc, spans fire
      (10L, "b" * 20 + "a" * 90),
      (11L, "one-char"),
      (12L, "x"))
    docs.toDF("doc_id", "text")
  }

  test("suffixSpansOf == r17 reference on the edge fixture (L=32)") {
    rowSetEqual(
      Dedup.suffixSpansOf(fixture, 32),
      LegacyAb.legacySuffixSpansOf(fixture, 32))
  }

  test("suffixSpansOf == r17 reference at L=8 (multi-round loop)") {
    // seedBase auto-clamps to 4 → two doubling rounds: the while-loop
    // body (not just the fused last round) must agree too
    rowSetEqual(
      Dedup.suffixSpansOf(fixture, 8),
      LegacyAb.legacySuffixSpansOf(fixture, 8))
  }

  test("suffixCleanOf == r17 reference on the edge fixture (L=32)") {
    rowSetEqual(
      Dedup.suffixCleanOf(fixture, 32),
      LegacyAb.legacySuffixCleanOf(fixture, 32))
  }

  test("suffixSpansOf and suffixCleanOf == r17 reference on sf0.001") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    rowSetEqual(
      Dedup.suffixSpansOf(docs, Dedup.SuffixSpanL),
      LegacyAb.legacySuffixSpansOf(docs, Dedup.SuffixSpanL))
    rowSetEqual(
      Dedup.suffixCleanOf(docs, Dedup.SuffixSpanL),
      LegacyAb.legacySuffixCleanOf(docs, Dedup.SuffixSpanL))
  }

  test("fixture conservation law + the fully-cut doc") {
    val out = Dedup.suffixCleanOf(fixture, 32)
      .join(fixture.select(col("doc_id"),
        length(col("text")).cast("long").as("len")), "doc_id")
    assert(out.filter(col("clean_len") + col("cut_chars") =!= col("len"))
      .count() == 0, "clean_len + cut_chars != len on the fixture")
    // doc 4 is one duplicated span end to end; doc 1 holds the
    // keep-first occurrence (min packed ord), so doc 4 must be cut to
    // the empty string
    val d4 = out.filter(col("doc_id") === 4L).head()
    assert(d4.getAs[Long]("clean_len") == 0L &&
      d4.getAs[Long]("cut_chars") == 42L,
      s"doc 4 should be fully cut, got $d4")
    // doc 9's hot run is single-doc at L=32... but doc 10 contains the
    // same 90-char 'a' run, so both docs' runs are cross-doc spans;
    // the sub-L docs never appear
    val spans = Dedup.suffixSpansOf(fixture, 32)
    assert(spans.filter(col("doc_id").isin(5L, 11L, 12L)).count() == 0,
      "sub-L docs can never hold a span")
    assert(spans.filter(col("doc_id").isin(9L, 10L)).count() > 0,
      "the cross-doc hot-gram run must span")
  }

  test("suffixSpansOf: one island per doc when every doc shares one boilerplate span") {
    // the hot class of the class-pair join: g docs, each md5-pad ‖ the
    // same 32-char run ‖ md5-pad. Boundary windows merge with the
    // boilerplate island and the pads are unique, so each doc holds
    // exactly one span
    val g = 200L
    val boiler = "THE SAME 32-CHAR BOILERPLATE RUN"
    assert(boiler.length == 32)
    val docs = spark.range(0, g).select(
      col("id").as("doc_id"),
      concat(md5(col("id").cast("string")), lit(boiler),
        md5(concat(col("id").cast("string"), lit("x")))).as("text"))
    assert(Dedup.suffixSpansOf(docs, 32).count() == g)
  }
}
