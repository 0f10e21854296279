package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupClusters, GraphQueries, RangeJoin}
import graft.plans.AsOfJoin

/** Library-hygiene checks: the operator APIs must handle EMPTY inputs
  * gracefully (return empty, never throw) — the first thing a user
  * hits when a filter upstream matches nothing.
  */
class EmptyInputSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  test("connectedComponents on an empty pair list returns no labels") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupClusters.connectedComponents(empty).count() == 0)
  }

  test("HITS on an empty edge list returns no rows (and never divides)") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphQueries.hitsMicro(empty).count() == 0)
  }

  test("as-of join with an empty right side keeps all left rows null-extended") {
    val l = Seq((1L, 5L), (2L, 7L)).toDF("k", "t")
    val r = Seq.empty[(Long, Long, String)].toDF("rk", "rt", "rv")
    val out = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt")).collect()
    assert(out.length == 2 && out.forall(_.isNullAt(3)))
    val fwd = AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt"),
      forward = true).collect()
    assert(fwd.length == 2 && fwd.forall(_.isNullAt(3)))
  }

  test("as-of join with an empty left side returns empty") {
    val l = Seq.empty[(Long, Long)].toDF("k", "t")
    val r = Seq((1L, 4L, "x")).toDF("rk", "rt", "rv")
    assert(AsOfJoin.joinAsOf(l, r, l("k"), r("rk"), l("t"), r("rt")).count() == 0)
  }

  test("binned interval join with empty intervals returns empty") {
    val pts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00")))
      .toDF("pid", "pt")
    val iv = Seq.empty[(Long, java.sql.Timestamp, java.sql.Timestamp)]
      .toDF("iid", "s_ts", "e_ts")
    assert(RangeJoin.binnedIntervalJoin(pts, "pt", iv, "s_ts", "e_ts",
      3600L * 1000000L).count() == 0)
  }

  test("ngram near-dup pipeline on a no-duplicate corpus returns no pairs") {
    // docs too short to shingle (< 3 tokens) produce no signatures at
    // all — the LSH pipeline must come back empty, not fail
    val tiny = Seq((1L, "one two"), (2L, "three")).toDF("doc_id", "text")
    val sigsEmpty = tiny
      .select(col("doc_id"),
        explode(graft.functions.WordShingles.word_shingles(col("text"), 3))
          .as("shingle"))
    assert(sigsEmpty.count() == 0)
  }

  test("nearest as-of join with an empty right side keeps left rows null-extended") {
    val l = Seq((1L, 5L), (2L, 7L)).toDF("k", "t")
    val r = Seq.empty[(Long, Long, String)].toDF("rk", "rt", "rv")
    val out = AsOfJoin.joinAsOfNearest(l, r, l("k"), r("rk"), l("t"), r("rt"))
      .collect()
    assert(out.length == 2 && out.forall(_.isNullAt(3)))
  }

  test("document-scan operators accept an empty documents table") {
    val dir = TestSpark.tempDir("empty_docs").toString
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq("ta_sentences", "ta_compress_ratio", "pipe_shard_manifest")
      .foreach { q =>
        assert(SparkEntry.queries(q)(spark, dir).count() == 0, q)
      }
  }
}
