package graft

import org.scalatest.funsuite.AnyFunSuite

/** One owner for scratch files: in src/main only [[Scratch]] reads the
  * JVM tmpdir or creates temp directories, so every intermediate path
  * has a scope and a deleter. `graft.index.root` is gone and must not
  * come back as a second way to place the IVF index.
  */
class ScratchLintSpec extends AnyFunSuite {
  private val owner = "Scratch.scala"

  /** (pattern, whether it lives in string literals) — literal patterns
    * are matched with comments blanked and strings kept, the others on
    * live code only.
    */
  private val patterns = Seq(
    "java.io.tmpdir" -> true,
    "graft.index.root" -> true,
    "createTempDirectory" -> false)

  test("tmpdir, temp directories and graft.index.root appear only in Scratch.scala") {
    val stray = for {
      (rel, raw) <- LintSource.mainSources().toSeq
      if rel != owner
      (pat, inStrings) <- patterns
      code = if (inStrings) LintSource.stripComments(raw) else LintSource.codeOnly(raw)
      if code.contains(pat)
    } yield s"$rel: $pat"
    assert(stray.isEmpty, s"scratch paths derived outside Scratch: ${stray.sorted.mkString(", ")}")
  }

  test("the lint sees the owner's own uses") {
    val src = LintSource.mainSources()(owner)
    patterns.filterNot(_._1 == "graft.index.root").foreach { case (pat, inStrings) =>
      val code = if (inStrings) LintSource.stripComments(src) else LintSource.codeOnly(src)
      assert(code.contains(pat), s"$owner no longer contains $pat — update ScratchLintSpec")
    }
  }
}
