package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** pipe_suffix_clean — the span cut + reassembly consuming
  * dd_suffix_spans (the Lee et al. 2022 pipeline's last mile):
  *  - the conservation law the operator promises: every char is either
  *    kept or cut, exactly once — clean_len + cut_chars = len(text)
  *    per doc (cut_chars counts DISTINCT covered positions, so the
  *    law holds even where adjacent maximal spans overlap);
  *  - keep-first on a micro-fixture: the minimum packed
  *    (doc_id, span_start) occurrence survives verbatim, every later
  *    occurrence is excised and the survivor text stitches exactly.
  */
class SuffixCleanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  test("conservation: clean_len + cut_chars = len for every doc (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("pipe_suffix_clean")(spark, dir)
    val bad = out.join(
        Tables.documents(spark, dir)
          .select(col("doc_id"), length(col("text")).cast("long").as("len")),
        "doc_id")
      .filter(col("clean_len") + col("cut_chars") =!= col("len"))
      .count()
    assert(bad == 0L, s"$bad docs violate clean_len + cut_chars = len")
    assert(out.count() > 0)
  }

  test("keep-first micro-fixture: winner intact, later occurrence excised") {
    import spark.implicits._
    // 40-char shared boilerplate inside otherwise-unique md5-ish pads:
    // doc 1 holds the min packed (doc_id, start) occurrence and must
    // survive untouched; doc 2 loses exactly the boilerplate chars.
    val boiler = "0123456789abcdefghijklmnopqrstuvwxyzABCD"
    assert(boiler.length == 40)
    // chars ADJACENT to the boilerplate differ per doc (X/P vs Y/Q) —
    // a shared flanking char would make the boundary window duplicated
    // too and legitimately extend the maximal span past the boiler
    val pre1 = "first document unique preamble text 0001X"
    val suf1 = "Pfirst document unique tail 0001"
    val pre2 = "second document other preamble text 0002Y"
    val suf2 = "Qsecond document other tail 0002"
    val docs = Seq(
      (1L, pre1 + boiler + suf1),
      (2L, pre2 + boiler + suf2)).toDF("doc_id", "text")
    val rows = Dedup.suffixCleanOf(docs, Dedup.SuffixSpanL)
      .orderBy("doc_id").collect()
    assert(rows.length == 2)
    val r1 = rows(0); val r2 = rows(1)
    // doc 1: its occurrence is the keeper — nothing cut
    assert(r1.getAs[Long]("n_cut") == 0L && r1.getAs[Long]("cut_chars") == 0L)
    assert(r1.getAs[Long]("clean_len") == (pre1 + boiler + suf1).length.toLong)
    // doc 2: exactly the 40 boilerplate chars excised, stitch exact
    val expected2 = pre2 + suf2
    assert(r2.getAs[Long]("n_cut") == 1L)
    assert(r2.getAs[Long]("cut_chars") == boiler.length.toLong)
    assert(r2.getAs[Long]("clean_len") == expected2.length.toLong)
    val fp = spark.range(1).select(md5(lit(expected2))).head.getString(0)
    assert(r2.getAs[String]("clean_fp") == fp,
      "doc 2's stitched text is not prefix+suffix with the span removed")
  }
  test("st_suffix_admit: streamed spans equal the order-free batch dual (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val l = Dedup.SuffixSpanL
    // the row's own requires prove crash-replay exactly-once; here:
    // the replayed span log equals the batch dual computed directly —
    // delta positions whose L-gram appears in the static corpus or in
    // a smaller-id delta doc, merged to maximal islands per doc
    val out = SparkEntry.queries("st_suffix_admit")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_len"))).toSet
    val docs = Tables.documents(spark, dir)
    def grams(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= l)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, len - ${l - 1}), i -> substring(text, i, $l))"))
        .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("p"), col("g"))
    val isNew = pmod(col("doc_id"), lit(10)) === 7
    val dg = grams(docs.filter(isNew)).localCheckpoint(false)
    val sidx = grams(docs.filter(!isNew)).select("g").distinct()
    val hit = dg.join(sidx, Seq("g"), "left_semi").select("doc_id", "p")
      .union(dg.as("a").join(dg.as("b"),
          col("a.g") === col("b.g") && col("b.doc_id") < col("a.doc_id"),
          "left_semi").select(col("doc_id"), col("p")))
      .distinct()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val expected = hit.withColumn("grp", col("p") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("p")).as("s0"), max(col("p")).as("s1"))
      .select(col("doc_id"), col("s0").cast("long"),
        (col("s1") - col("s0") + l).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == expected, "streamed admission spans diverged from the batch dual")
    assert(out.nonEmpty, "fixture produced no spans - the test is vacuous")
  }
}
