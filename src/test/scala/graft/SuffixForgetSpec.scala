package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Round-16 verdict #2: the served suffix gram index is a shared SET
  * artifact inside the right-to-be-forgotten cascade. pipe_forget
  * republishes it over static-slice survivors; these tests probe the
  * PUBLISHED post-forget table the way a serving tier would
  * (st_suffix_admit's fingerprint semi-join) and assert both failure
  * directions are absent:
  *  - under-deletion: a gram owned ONLY by forgotten docs must be gone;
  *  - over-deletion: every gram a surviving static doc owns must stay
  *    (erasing it would break dedup for unrelated documents).
  */
class SuffixForgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val dir = "/root/testdata/sf0.001"

  // grams (fingerprinted) of an arbitrary doc frame — the probe shape
  private def fps(d: DataFrame): DataFrame =
    Dedup.suffixGramsOf(d, Dedup.SuffixSpanL)
      .select("g").distinct()
      .select(Dedup.gramFp(col("g")): _*)

  test("post-forget suffix index: forgotten-only grams gone, survivor grams intact") {
    // run the cascade (publishes <forgetRoot>/suffix_grams) and pin its
    // own audit leg first: leftover_refs = 0 both directions
    val audit = SparkEntry.queries("pipe_forget")(spark, dir)
      .filter(col("artifact") === "suffix_grams").collect()
    assert(audit.length == 1)
    assert(audit(0).getAs[Long]("leftover_refs") == 0L,
      "suffix_grams audit leg reports leftover refs")
    assert(audit(0).getAs[Long]("rows_removed") > 0L,
      "fixture vacuous: the delete slice removed no grams at sf0.001")

    val root = Dedup.forgetRoot(spark, dir)
    val idx = spark.read.parquet(s"$root/suffix_grams")

    val docs = Tables.documents(spark, dir)
    val static = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val staticDel = static.filter(col("doc_id") % 97 === 13)
    val staticSurv = static.filter(col("doc_id") % 97 =!= 13)

    // forgotten-ONLY grams: owned by a deleted static doc, by no survivor
    val gone = fps(staticDel)
      .join(fps(staticSurv), Seq("fp1", "fp2"), "left_anti")
      .localCheckpoint(false)
    assert(gone.count() > 0L,
      "fixture vacuous: deleted docs own no unique grams at sf0.001")
    val lingering = gone.join(idx, Seq("fp1", "fp2"), "left_semi").count()
    assert(lingering == 0L,
      s"$lingering forgotten-doc-only grams still probe TRUE against the " +
        "post-forget serving index (GDPR under-deletion)")

    // every survivor-owned gram still probes TRUE
    val lost = fps(staticSurv).join(idx, Seq("fp1", "fp2"), "left_anti").count()
    assert(lost == 0L,
      s"$lost survivor-owned grams missing from the post-forget index " +
        "(over-deletion breaks dedup for unrelated documents)")
  }

  test("published index stores fingerprints only — no gram text column") {
    val idx = spark.read.parquet(
      Dedup.publishedSuffixGramIndex(spark, dir))
    assert(idx.columns.sorted.toSeq == Seq("c", "fp1", "fp2"),
      s"index schema ${idx.columns.mkString(",")} — the raw-gram column " +
        "must not be published (round-16 verdict #3)")
    // prefix column is exactly the census key: 1 char
    assert(idx.filter(length(col("c")) =!= 1).count() == 0L)
  }
}
