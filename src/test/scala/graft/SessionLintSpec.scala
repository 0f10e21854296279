package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[Session]], so every session
  * carries the same defaults and the graft extensions.
  */
class SessionLintSpec extends AnyFunSuite {
  test("SparkSession.builder() appears in exactly one main file, the Session factory") {
    val sites = LintSource.mainSources().collect {
      case (rel, raw) if LintSource.codeOnly(raw).contains("SparkSession.builder()") => rel
    }
    assert(sites.toSeq == Seq("Session.scala"),
      s"SparkSession.builder() in ${sites.mkString(", ")} — build through graft.Session")
  }
}
