package graft

import java.util.zip.{Deflater, Inflater}

import org.scalatest.funsuite.AnyFunSuite

/** Pins for ta_compress_ratio (oracle-exempt — DuckDB has no deflate):
  * the query's counts must be deterministic and byte-exact against a
  * plain per-doc reference Deflater at the same settings, the stream
  * must genuinely round-trip through Inflater (so the counted bytes
  * are a real lossless encoding, not garbage of the right length),
  * and the ratio must order redundant text below noisy text — the
  * property the quality gate exists for.
  */
class CompressRatioSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  private def run(dir: String) =
    SparkEntry.queries("ta_compress_ratio")(spark, dir)

  private def referenceDeflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.BEST_SPEED, false)
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 14)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  test("deterministic, and byte-count-exact vs a reference deflate that round-trips") {
    val rows = run(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val again = run(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == again, "two runs disagreed")
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty && rows.size == texts.size)
    rows.foreach { case (id, nBytes, nDeflated) =>
      val bytes = texts(id).getBytes("UTF-8")
      assert(nBytes == bytes.length, s"doc $id raw size")
      val stream = referenceDeflate(bytes)
      assert(nDeflated == stream.length, s"doc $id deflated size")
      // the counted stream is a real lossless encoding
      val inf = new Inflater(false)
      inf.setInput(stream)
      val back = new Array[Byte](bytes.length + 1)
      val n = inf.inflate(back)
      assert(inf.finished() && n == bytes.length &&
        back.take(n).sameElements(bytes), s"doc $id does not round-trip")
      inf.end()
    }
  }

  test("redundant text scores far below noisy text; empty text yields null ratio") {
    val dir = TestSpark.tempDir("cr_docs").toString
    import spark.implicits._
    val rep = "the cat sat on the mat " * 40
    val rnd = new java.util.Random(42)
    val noisy = Array.fill(920)((33 + rnd.nextInt(94)).toChar).mkString
    Seq((1L, rep), (2L, noisy), (3L, ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val byId = run(dir).collect().map(r => r.getLong(0) -> r).toMap
    val repRatio = byId(1L).getDouble(3)
    val noisyRatio = byId(2L).getDouble(3)
    assert(repRatio < 0.2, s"repetitive text ratio $repRatio not near zero")
    assert(noisyRatio > 0.6, s"noisy text ratio $noisyRatio implausibly low")
    assert(byId(3L).isNullAt(3), "empty doc must yield null ratio, not a division")
    assert(byId(3L).getLong(1) == 0L)
  }
}
