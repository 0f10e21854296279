package graft

import org.scalatest.funsuite.AnyFunSuite

/** One round loop: a `while`, `for` or `(a to b).foreach/foldLeft/map`
  * loop in main source whose body calls `.localCheckpoint(` is a
  * hand-written round loop, and those go through
  * [[graft.operators.Rounds]], which owns the per-round checkpoint and
  * convergence test. The exceptions are listed here with the reason
  * the loop keeps its own; `Rounds.scala` itself is exempt. Loops
  * whose bodies never checkpoint (the driver-only loops over collected
  * state: `Lloyd.train`, `PrefQueries.bradleyTerry`, the
  * `QuantileQueries` radix descent) fall outside the pattern.
  */
class RoundsLintSpec extends AnyFunSuite {

  /** (file relative to src/main/scala/graft, loop header) -> why the
    * loop keeps its own checkpoint.
    */
  private val allowed: Map[(String, String), String] = Map(
    ("operators/EventQueries.scala", "(1 to HaarLevels).map") ->
      "ev_haar_energy keeps every level's output (one energy row per level), not only the last state",
    ("operators/Similarity.scala", "while (!quiet && splits < MaxRebalanceSplits)") ->
      "splitToQuiescence: each round is a driver decision over head() results (split the worst cell or stop)",
    ("operators/Similarity.scala", "while (!done && rounds < MaxMergeRounds)") ->
      "the rebalance merge loop: each round is a driver decision over head() results (fold the sub-floor cells or stop)")

  private val loopStart =
    """\bwhile\s*\(|\bfor\s*[({]|\(\s*\w+\s+(?:to|until)\b[^()]*\)\s*\.\s*(?:foreach|foldLeft|map)\b""".r

  /** End (exclusive) of the balanced (…) or {…} group opening at `i`. */
  private def groupEnd(code: String, i: Int): Int = {
    val (open, close) = if (code(i) == '(') ('(', ')') else ('{', '}')
    var depth = 0
    var j = i
    while (j < code.length) {
      if (code(j) == open) depth += 1
      else if (code(j) == close) { depth -= 1; if (depth == 0) return j + 1 }
      j += 1
    }
    code.length
  }

  /** (header, whole loop) of every loop in scrubbed `code`: the header
    * is `while (…)`, `for (…)` or `(a to b).op`, the loop runs on over
    * every group that directly follows it.
    */
  private def loops(code: String): Seq[(String, String)] =
    loopStart.findAllMatchIn(code).map { m =>
      val opensGroup = "({".contains(code(m.end - 1))
      val headerEnd = if (opensGroup) groupEnd(code, m.end - 1) else m.end
      var end = headerEnd
      var k = end
      while ({
        while (k < code.length && code(k).isWhitespace) k += 1
        k < code.length && "({".contains(code(k))
      }) { end = groupEnd(code, k); k = end }
      ("\\s+".r.replaceAllIn(code.substring(m.start, headerEnd), " "),
        code.substring(m.start, end))
    }.toSeq

  private lazy val checkpointLoops: Set[(String, String)] =
    LintSource.mainSources().toSeq.flatMap { case (rel, raw) =>
      loops(LintSource.codeOnly(raw)).collect {
        case (header, loop) if loop.contains(".localCheckpoint(") => rel -> header
      }
    }.filterNot(_._1 == "operators/Rounds.scala").toSet

  test("the loop detector sees the three loop shapes") {
    val code =
      """while (i < n) { x = x.localCheckpoint(true) }
        |for (_ <- 1 to n) { y = y.localCheckpoint(false) }
        |(1 to n).foldLeft(s)((a, _) => f(a).localCheckpoint(false))
        |(1 until n).foreach { _ => g() }""".stripMargin
    assert(loops(code).map(_._1) ==
      Seq("while (i < n)", "for (_ <- 1 to n)", "(1 to n).foldLeft", "(1 until n).foreach"))
    assert(loops(code).count(_._2.contains(".localCheckpoint(")) == 3)
  }

  test("every checkpointing loop in main source runs on Rounds or is allowlisted") {
    val unlisted = checkpointLoops -- allowed.keySet
    assert(unlisted.isEmpty,
      s"hand-written round loops ${unlisted.mkString(", ")}: run them on " +
        "graft.operators.Rounds, or list them in RoundsLintSpec with the reason")
  }

  test("every allowlist entry still names a checkpointing loop") {
    val stale = allowed.keySet -- checkpointLoops
    assert(stale.isEmpty, s"stale RoundsLintSpec entries: ${stale.mkString(", ")}")
  }
}
