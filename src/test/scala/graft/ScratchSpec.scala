package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]]'s three scopes at sf0.001: a session's files go with
  * its memo entries, staged stream sources outlive sessions, and the
  * pinned landings the oracle SQL names exist once their row ran.
  */
class ScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def fresh(): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.register(s)
    s
  }

  private def run(s: SparkSession, row: String): Unit =
    SparkEntry.queries(row)(s, dir).collect()

  /** `s`'s session-scope root (the parent of every per-dir tree). */
  private def sessionRoot(s: SparkSession): File =
    new File(Scratch.session(s, dir, "x")).getParentFile.getParentFile

  private def filesUnder(f: File): Seq[String] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(filesUnder)
    else if (f.exists()) Seq(f.getPath) else Seq.empty

  test("invalidateSession deletes the session's files and no other session's") {
    run(spark, "ss_ivf_persist_build")
    val shared = filesUnder(sessionRoot(spark))
    assert(shared.nonEmpty, "the shared session published nothing")
    val s = fresh()
    Seq("ss_ivf_persist_build", "pipe_forget", "dd_suffix_spans", "st_suffix_forget")
      .foreach(run(s, _))
    val root = sessionRoot(s)
    val published = root.list().toSeq.flatMap(d => Option(new File(root, d).list()).toSeq.flatten)
    assert(Seq("graft_index", "forget", "suffix_index", "suffix_forget_base")
      .forall(published.contains), s"session root holds ${published.mkString(", ")}")
    Tables.invalidateSession(s)
    assert(!root.exists(), s"${filesUnder(root).size} files of the session left")
    assert(shared.forall(new File(_).exists()), "another session's files were deleted")
    assert(SparkEntry.queries("ss_ivf_persist_search")(spark, dir).count() > 0)
  }

  test("a second session reuses the staged events") {
    run(spark, "st_tumbling_hour")
    val success = new File(Scratch.shared(dir, "events/_SUCCESS"))
    assert(success.isFile)
    val mtime = success.lastModified()
    val s = fresh()
    run(s, "st_tumbling_hour")
    Tables.invalidateSession(s)
    assert(success.lastModified() == mtime, "the events were staged again")
  }

  test("each pinned oracle names a nonexistent path before its row runs and an existing one after") {
    val landing = """(?:read_parquet|parquet_metadata|read_blob)\('([^']+?)/(?:\*|shard=)""".r
    def paths(row: String): Seq[String] =
      landing.findAllMatchIn(SparkEntry.oracleSql(row)).map(_.group(1)).toSeq.distinct
    assert(!new File(Scratch.pinned("never_pinned")).exists())
    Seq("ta_compress_ratio" -> "ta_compress_ratio", "src_parquet_meta" -> "pq_meta",
      "src_parquet_stats" -> "pq_meta", "mm_decode_jpeg" -> "mm_decode_jpeg",
      "mm_png_chunks" -> "mm_png_chunks").foreach { case (row, kind) =>
      // whatever an earlier suite landed goes first: the row must land
      // its pin again in a session that has not run it
      Scratch.delete(Scratch.pinned(kind))
      val before = paths(row)
      assert(before.nonEmpty && before.forall(p => !new File(p).exists()),
        s"$row: oracle names an existing landing before the row ran: $before")
      val s = fresh()
      run(s, row)
      Tables.invalidateSession(s)
      val after = paths(row)
      assert(after.nonEmpty && after.forall(p => new File(p).exists()),
        s"$row: oracle names a missing landing after the row ran: $after")
    }
  }
}
