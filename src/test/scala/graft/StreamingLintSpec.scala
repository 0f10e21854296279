package graft

import org.scalatest.funsuite.AnyFunSuite

/** One crash-replay harness: a streaming run in main source goes through
  * [[graft.streaming.CrashReplay.run]] (checkpointed foreachBatch runs
  * with crash injection, replay and cleanup) or the memory-sink
  * `drain` of [[graft.streaming.StreamingQueries]]. `.writeStream`,
  * `foreachBatch` and `processAllAvailable` appear in live code nowhere
  * else, so every row that streams inherits those two definitions'
  * failure and cleanup rules.
  */
class StreamingLintSpec extends AnyFunSuite {

  /** (file relative to src/main/scala/graft, def name) of the bodies
    * that may start and drain a stream.
    */
  private val owners = Set(
    "streaming/CrashReplay.scala" -> "run",
    "streaming/StreamingQueries.scala" -> "drain")

  private val streamCall = """\.writeStream\b|\bforeachBatch\b|\bprocessAllAvailable\b""".r

  /** [start, end) of the body of `def name` in scrubbed `code`: the
    * first `{` outside the parameter lists and type brackets, to its
    * balancing `}`.
    */
  private def bodyOf(code: String, name: String): Option[(Int, Int)] =
    s"""\\bdef\\s+$name\\b""".r.findFirstMatchIn(code).map { m =>
      var depth = 0
      var i = m.end
      while (!(depth == 0 && code(i) == '{')) {
        if ("([".contains(code(i))) depth += 1
        else if (")]".contains(code(i))) depth -= 1
        i += 1
      }
      val start = i
      depth = 0
      while ({
        if (code(i) == '{') depth += 1
        else if (code(i) == '}') depth -= 1
        i += 1
        depth > 0
      }) ()
      (start, i)
    }

  /** (file, line) of every stream call outside the owners' bodies. */
  private lazy val strayCalls: Seq[(String, Int)] =
    LintSource.mainSources().toSeq.flatMap { case (rel, raw) =>
      val code = LintSource.codeOnly(raw)
      val owned = owners.collect { case (`rel`, name) => bodyOf(code, name) }.flatten
      streamCall.findAllMatchIn(code)
        .filterNot(m => owned.exists { case (a, b) => m.start >= a && m.start < b })
        .map(m => rel -> (code.substring(0, m.start).count(_ == '\n') + 1)).toSeq
    }.sorted

  test("the body finder spans a def's braces, not its signature") {
    val code =
      """def run(a: Int = 1, f: Seq[Int] => Int = _.sum)(g: (Int, Long) => Unit): (Int, Seq[Long]) = {
        |  if (a > 0) { x.foreachBatch { y } }
        |}
        |def other() = { z.processAllAvailable() }""".stripMargin
    val (a, b) = bodyOf(code, "run").get
    assert(code.substring(a, b) == "{\n  if (a > 0) { x.foreachBatch { y } }\n}")
  }

  test("streams start only in the crash-replay harness and drain") {
    assert(strayCalls.isEmpty,
      s"stream calls outside CrashReplay.run / StreamingQueries.drain at " +
        s"${strayCalls.map { case (f, l) => s"$f:$l" }.mkString(", ")}: run the " +
        "stream through one of them")
  }

  test("each owner still exists and starts a stream") {
    val src = LintSource.mainSources()
    owners.foreach { case (rel, name) =>
      val code = LintSource.codeOnly(src(rel))
      val body = bodyOf(code, name)
      assert(body.exists { case (a, b) =>
        streamCall.findFirstIn(code.substring(a, b)).isDefined },
        s"$rel: def $name is gone or starts no stream — update StreamingLintSpec")
    }
  }
}
