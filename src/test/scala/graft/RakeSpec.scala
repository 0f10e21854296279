package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.StopwordRuns
import graft.operators.{QualityQueries, TextAnalysis, TextOps}

/** The doc_id-window RAKE plan the row-local one replaced: every token
  * posexploded, a per-document cumulative stopword count as the phrase
  * key, the phrases rebuilt with collect_list + array_sort and joined
  * back twice on (doc_id, grp). Kept here as the reference
  * [[TextAnalysis.rake]] must reproduce row for row.
  */
object RakeReference {
  def rake(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("is_stop", col("w").isin(QualityQueries.Stopwords: _*))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = toks
      .withColumn("grp",
        sum(when(col("is_stop"), 1).otherwise(0)).over(wDoc))
      .filter(!col("is_stop"))
      .select("doc_id", "grp", "pos", "w")
      .localCheckpoint(false)
    val phrases = words.groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w"))).as("phrase"))
    val wordStats = words
      .join(phrases.select("doc_id", "grp", "plen"), Seq("doc_id", "grp"))
      .groupBy("w")
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .withColumn("wscore",
        expr("CAST(deg AS DECIMAL(38,0)) * 1000000 DIV freq"))
    words.join(broadcast(wordStats.select("w", "wscore")), Seq("w"))
      .groupBy("doc_id", "grp").agg(sum(col("wscore")).as("score_micro"))
      .join(phrases, Seq("doc_id", "grp"))
      .filter(col("plen") <= TextAnalysis.RakeMaxLen)
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occur"), max(col("score_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase").asc)
      .limit(10)
  }
}

/** Row-local RAKE ([[TextAnalysis.rake]] over the
  * [[graft.functions.StopwordRuns]] kernel) against [[RakeReference]]:
  * identical rows on the test corpus and on fixtures for the
  * segmentation and ranking edge cases, the kernel's two evaluation
  * paths, and the plan shape.
  */
class RakeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def docs(texts: String*): DataFrame =
    spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def rows(df: DataFrame): Seq[(String, Long, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  /** Maximal runs of non-stopword tokens, the kernel's contract. */
  private def runsOfTokens(toks: Seq[String]): Seq[Seq[String]] =
    toks.foldLeft(Vector(Vector.empty[String])) { (acc, w) =>
      if (QualityQueries.Stopwords.contains(w)) acc :+ Vector.empty else acc.init :+ (acc.last :+ w)
    }.filter(_.nonEmpty)

  private def runsOf(a: Any): Seq[Seq[String]] =
    if (a == null) null
    else a.asInstanceOf[GenericArrayData].array.toSeq.map(
      _.asInstanceOf[GenericArrayData].array.toSeq.map(_.toString))

  test("ta_rake equals the window reference at sf0.001") {
    val got = rows(SparkEntry.queries("ta_rake")(spark, dir))
    assert(got.nonEmpty)
    assert(got == rows(RakeReference.rake(Tables.documents(spark, dir))))
  }

  test("fixtures: stopword edges, repeats, long runs, ties, empty and null text") {
    val fixture = docs(
      "the alpha beta a gamma the the", // leading, trailing, consecutive stopwords
      "delta delta epsilon a  alpha   beta ", // a repeated word; empty tokens
      "w1 w2 w3 w4 w5 the gamma", // a 5-word run: in deg, not reported
      "zeta a eta", // zeta and eta tie on score
      "",
      null,
      "a the a")
    val got = rows(TextAnalysis.rake(fixture))
    assert(got == rows(RakeReference.rake(fixture)))
    // deg/freq: gamma 2/2, eta 1/1, zeta 1/1 → 1e6; alpha, beta 4/2 → 2e6;
    // delta 6/2, epsilon 3/1 → 3e6; the 5-word run is never reported
    assert(got == Seq(
      ("delta delta epsilon", 1L, 9000000L),
      ("alpha beta", 2L, 4000000L),
      ("eta", 1L, 1000000L),
      ("gamma", 2L, 1000000L),
      ("zeta", 1L, 1000000L)))
    val w5 = rows(TextAnalysis.rake(docs("w1 w2 w3 w4 w5 the w1")))
    // w1: deg 5 + 1 over freq 2 → 3e6
    assert(w5 == Seq(("w1", 1L, 3000000L)))
  }

  test("StopwordRuns: interpreted and codegen paths agree on W1 tokens") {
    val stops = QualityQueries.Stopwords
    val texts = Seq("the alpha beta a gamma the the", " a  b  c ", "", "a", "x",
      "ü∂é the 字 字", "the\tx a y", null)
    // keep the optimizer from folding the projection over the local
    // rows (that evaluates it interpreted), and fail rather than fall
    // back if the generated code does not compile
    val confs = Map(
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation",
      "spark.sql.codegen.fallback" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val (codegen, generated) = try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = docs(texts: _*)
        .select(StopwordRuns.stopword_runs(col("text"), stops).as("r"))
      (df.collect().map(r => if (r.isNullAt(0)) null else r.getSeq[Seq[String]](0)).toSeq,
        df.queryExecution.debug.codegenToSeq().map(_._2).mkString)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(generated.contains("graft.functions.StopwordRuns.runs("), generated)
    val interpreted = texts.map(t => runsOf(StopwordRuns(Literal.create(t, StringType), stops).eval(null)))
    // expected from the W1 tokens: maximal runs between stopwords
    val expected = texts.map(t =>
      if (t == null) null else runsOfTokens(t.split(" ", -1).filter(_.nonEmpty).toSeq))
    assert(codegen == expected)
    assert(interpreted == expected)
    assert(expected(0) == Seq(Seq("alpha", "beta"), Seq("gamma")))
    assert(expected(6) == Seq(Seq("the\tx"), Seq("y")))
  }

  test("StopwordRuns equals the runs of TextOps.tokens over the corpus") {
    val got = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"),
        StopwordRuns.stopword_runs(col("text"), QualityQueries.Stopwords).as("r"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getSeq[Seq[String]](2) == runsOfTokens(r.getSeq[String](1)),
      s"doc_id ${r.getLong(0)}"))
  }

  test("plan: no window, no checkpoint scan, at most two shuffle exchanges") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    // AQE wraps the tree in AdaptiveSparkPlanExec, whose collect does
    // not descend into the inner plan; read the plan without it
    val saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try SparkEntry.queries("ta_rake")(spark, dir).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert(plan.collect { case w: WindowExec => w }.isEmpty, s"window in:\n$plan")
    assert(plan.collect { case r: RDDScanExec => r }.isEmpty, s"checkpoint scan in:\n$plan")
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 2, s"${shuffles.size} shuffle exchanges in:\n$plan")
  }
}
