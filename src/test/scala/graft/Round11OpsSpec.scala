package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the round-8 session-3 operators: attribution credit
  * conservation, the KS statistic against a brute-force ECDF scan,
  * and per-purchase credit-rule exactness.
  */
class Round11OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("ev_attribution conserves exactly 10000 bp per purchase") {
    val rows = run("ev_attribution").collect()
    val totalCredit = rows.map(_.getLong(3)).sum
    val nPurchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(totalCredit == 10000L * nPurchases,
      s"credit $totalCredit != 10000 * $nPurchases")
    // every report row is one of the three touch sources
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("view", "click", "none")))
  }

  test("U-shaped credit rule sums to 10000 bp for every touch count") {
    def credits(n: Long): Seq[Long] =
      if (n == 1) Seq(10000L)
      else if (n == 2) Seq(5000L, 5000L)
      else (1L to n).map { rn =>
        if (rn == 1 || rn == n) 4000L
        else if (rn == n - 1) 2000L / (n - 2) + 2000L % (n - 2)
        else 2000L / (n - 2)
      }
    (1L to 50L).foreach { n =>
      assert(credits(n).sum == 10000L, s"n=$n sums to ${credits(n).sum}")
      if (n >= 3) {
        assert(credits(n).head == 4000L && credits(n).last == 4000L)
        assert(credits(n).drop(1).dropRight(1).sum == 2000L)
      }
    }
  }

  test("ta_textrank: contiguous ranks, monotone scores, vocabulary nodes") {
    val rows = run("ta_textrank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._1).toList == (1 to rows.length).toList)
    assert(rows.length <= operators.TextAnalysis.TextRankK)
    // scores nonincreasing in rank order, ties broken by word asc
    rows.sliding(2).foreach { case Array((_, wa, pa), (_, wb, pb)) =>
      assert(pa > pb || (pa == pb && wa < wb))
    }
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { case (_, w, pr) =>
      assert(vocab.contains(w)); assert(pr > 0L)
    }
  }

  test("ev_lag_quantiles equals brute-force sorted ranks") {
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "event_type").collect()
      .map(r => (r.getLong(1), r.getTimestamp(2).getTime * 1000L, r.getString(3)))
    val purchases = ev.filter(_._3 == "purchase")
    val lags = ev.filter(_._3 == "view").flatMap { case (u, t, _) =>
      val nexts = purchases.filter(p => p._1 == u && p._2 >= t)
      if (nexts.isEmpty) None else Some((nexts.map(_._2).min - t) / 1000000L)
    }.sorted
    def kth(k: Long): Double = lags((k - 1).toInt).toDouble
    val n = lags.length.toLong
    val expect = Map(
      "p50" -> kth((n + 1) / 2),
      "p90" -> kth((9 * n + 9) / 10),
      "p99" -> kth((99 * n + 99) / 100))
    val got = run("ev_lag_quantiles").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("ss_ndcg_eval: bounded, hit-consistent, and exact on the discount table") {
    val W = operators.Similarity.NdcgDiscountsMicro
    val rows = run("ss_ndcg_eval").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTrue, hits) = (r.getAs[Long]("n_true"), r.getAs[Long]("n_hits"))
      val (dcg, idcg) = (r.getAs[Long]("dcg_micro"), r.getAs[Long]("idcg_micro"))
      val ndcg = r.getAs[Long]("ndcg_bp")
      assert(hits <= nTrue && hits <= operators.Similarity.NdcgK)
      assert(idcg == W.take(math.min(nTrue, 10L).toInt).sum)
      assert(dcg <= idcg && ndcg >= 0L && ndcg <= 10000L)
      // dcg is a sum of exactly n_hits distinct discount weights
      assert(dcg <= W.take(hits.toInt).sum, "dcg above best-case placement")
      assert(dcg >= W.takeRight(hits.toInt).sum, "dcg below worst-case placement")
      assert(ndcg == dcg * 10000L / idcg)
    }
  }

  test("UnigramViterbi equals exhaustive enumeration on small inputs") {
    import graft.functions.UnigramViterbi
    val vocab = Map("a" -> 5, "b" -> 6, "c" -> 7, "ab" -> 2, "bc" -> 3,
      "abc" -> 1, "cab" -> 4)
    // enumerate every segmentation, keep the minimum cost
    def brute(s: String): Long =
      if (s.isEmpty) 0L
      else (1 to math.min(5, s.length)).flatMap { l =>
        vocab.get(s.take(l)).map(r => 1000000L + r + brute(s.drop(l)))
      }.min
    for (s <- Seq("a", "ab", "abc", "abcab", "cababc", "bcbcbca",
        "abcabcabcabc", "cabcabcab")) {
      assert(UnigramViterbi.segmentCost(s, vocab, 5, 48) == brute(s), s)
    }
    // truncation: chars past maxChars never contribute
    assert(UnigramViterbi.segmentCost("abcabc", vocab, 5, 3) ==
      UnigramViterbi.segmentCost("abc", vocab, 5, 48))
  }

  test("ta_unigram_viterbi: piece counts bounded by length and piece cap") {
    val byDoc = Tables.documents(spark, sf)
      .select(col("doc_id"),
        length(substring(col("text"), 1, operators.TextAnalysis.VitMaxChars))
          .as("plen")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = run("ta_unigram_viterbi").collect()
    assert(rows.length == byDoc.size)
    rows.foreach { r =>
      val (id, n) = (r.getLong(0), r.getLong(1))
      val len = byDoc(id).toLong
      val minPieces = (len + operators.TextAnalysis.VitMaxPieceLen - 1) /
        operators.TextAnalysis.VitMaxPieceLen
      assert(n >= minPieces && n <= len, s"doc $id: n=$n len=$len")
      assert(r.getLong(2) > 0L || len == 0L)
    }
  }

  test("pipe_drift_ks equals the brute-force ECDF max over all values") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def md5hex1(id: Long): Char = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "%02x".format(d(0) & 0xff).charAt(0)
    }
    val (ref, cur) = docs.partition(d => md5hex1(d._1) < '8')
    val nr = ref.length.toLong
    val nc = cur.length.toLong
    val values = docs.map(_._2).distinct.sorted
    val brute = values.map { v =>
      val cumr = ref.count(_._2 <= v).toLong
      val cumc = cur.count(_._2 <= v).toLong
      (math.abs(cumr * nc - cumc * nr), v)
    }
    val dMax = brute.map(_._1).max
    val atValue = brute.filter(_._1 == dMax).map(_._2).min
    val row = run("pipe_drift_ks").collect().head
    assert(row.getLong(0) == nr && row.getLong(1) == nc)
    assert(row.getLong(2) == dMax, s"d_num ${row.getLong(2)} != $dMax")
    assert(row.getLong(3) == atValue)
  }
}
