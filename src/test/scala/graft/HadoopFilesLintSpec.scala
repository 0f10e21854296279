package graft

import org.scalatest.funsuite.AnyFunSuite

/** src/main reaches Hadoop's FileSystem API only through [[HadoopFiles]]:
  * no `listFiles`/`listLocatedStatus` walk, which reads every file's
  * permission (one `ls -ld` process each on the stock local
  * filesystem), and no context-wide `hadoopConfiguration`, which
  * bypasses the `file:` filesystem [[GraftExtensions.register]]
  * installs in a session's conf. `java.io.File.listFiles()` takes no
  * argument and is not matched.
  */
class HadoopFilesLintSpec extends AnyFunSuite {
  private val banned = Seq(
    "listFiles(path, recursive)" -> """\blistFiles\(\s*[^)\s]""".r,
    "listLocatedStatus(" -> """\blistLocatedStatus\(""".r,
    "hadoopConfiguration" -> """\bhadoopConfiguration\b""".r)

  test("no listFiles, listLocatedStatus or hadoopConfiguration in src/main outside HadoopFiles") {
    val hits = for {
      (rel, raw) <- LintSource.mainSources().toSeq.sortBy(_._1)
      if rel != "HadoopFiles.scala"
      code = LintSource.codeOnly(raw)
      (name, re) <- banned
      if re.findFirstIn(code).nonEmpty
    } yield s"$rel: $name"
    assert(hits.isEmpty, s"go through graft.HadoopFiles: ${hits.mkString("; ")}")
  }
}
