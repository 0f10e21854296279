package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 session additions: greedy graph descent, the clustered
  * range-search gate row, and the watermarked restart — property pins
  * beside the oracle gate.
  */
class Round16OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("ss_greedy_walk: descent invariants hold") {
    val rows = SparkEntry.queries("ss_greedy_walk")(spark, sf).collect()
    assert(rows.nonEmpty, "no queries walked")
    rows.foreach { r =>
      val hops = r.getLong(r.fieldIndex("hops"))
      assert(hops >= 0 && hops <= operators.Similarity.WalkHops,
        s"hop count $hops outside [0, ${operators.Similarity.WalkHops}]")
      assert(r.getLong(r.fieldIndex("landed_id")) !=
        r.getLong(r.fieldIndex("query_id")),
        "walk landed on the query itself — the self-exclusion filter broke")
    }
    // the walk must never do WORSE than its entry point: recompute the
    // entry cosine per query and compare (greedy moves only improve)
    val fin = rows.map(r => (r.getLong(0), r.getDouble(r.fieldIndex("cos4"))))
      .toMap
    val entries = SparkEntry.queries("ss_greedy_walk")(spark, sf)
    assert(entries.count() == fin.size.toLong)
    // monotonicity is implied by construction (cur_cos only replaced on
    // strict improvement); pin the zero-hop case explicitly: hops == 0
    // means cos4 IS the entry cosine, so any >0-hop row must beat some
    // other row's... cross-query comparison is meaningless — instead
    // pin that at least one query moved (a never-moving walk means the
    // entry was always a local optimum, degenerate for this corpus)
    assert(rows.exists(_.getLong(3) > 0),
      "no query ever moved — walk degenerate on this corpus")
  }

  test("ss_beam_walk: beam dominates the greedy walk per query") {
    // both searches share entry point and graph. NOT a theorem — a
    // beam can prune the greedy trajectory's stepping stone while
    // keeping three dead ends — but an EMPIRICAL pin on this
    // md5-deterministic corpus: the beam matches or beats greedy on
    // every query and strictly escapes a local optimum on at least
    // one. If a testdata refresh flips this, the fixture changed
    // character; re-measure, don't weaken the operator.
    val greedy = SparkEntry.queries("ss_greedy_walk")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("cos4"))).toMap
    val beam = SparkEntry.queries("ss_beam_walk")(spark, sf).collect()
      .filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("cos4"))).toMap
    assert(beam.keySet == greedy.keySet)
    beam.foreach { case (q, bc) =>
      assert(bc >= greedy(q) - 1e-9,
        s"query $q: beam best $bc worse than greedy ${greedy(q)}")
    }
    assert(beam.exists { case (q, bc) => bc > greedy(q) + 1e-9 },
      "beam never beat greedy — width-3 expansion degenerate here")
  }

  test("st_restart_watermark staging: range files are time-disjoint in order") {
    // the no-late-drop argument requires file i+1's rows to be newer
    // than file i's max (range partitioning guarantees it); verify on
    // the staged dir the row itself uses at this sf
    SparkEntry.queries("st_restart_watermark")(spark, sf).count()
    val staged = new java.io.File(
      Scratch.shared(sf, "ev_restart_wm"))
    assert(staged.exists(), s"staged dir missing: $staged")
    val parts = staged.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.length >= 3)
    val ranges = parts.map { f =>
      val df = spark.read.parquet(f.getAbsolutePath)
      val r = df.agg(min(col("ts")), max(col("ts"))).head()
      (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime)
    }
    ranges.sliding(2).foreach { case Array((_, aMax), (bMin, _)) =>
      assert(bMin >= aMax,
        s"range files overlap in time ($aMax > $bMin) — the " +
          "watermark no-drop argument would not hold")
    }
    // and the pinned mtimes really are oldest-first in name order
    val mtimes = parts.map(_.lastModified())
    assert(mtimes.sameElements(mtimes.sorted),
      "file mtimes not ascending — FileStreamSource order unpinned")
  }
}
