package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingHash
import graft.operators.{MapReduceJob, MapReducePipeline}

/** Property-based checks for the reference-semantics warts (SURVEY §2
  * W1/W2) and the native expressions, per the §5 test strategy. Raw
  * ScalaCheck (no scalatest bridge in the offline dependency set).
  */
class PropertiesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val line: Gen[List[String]] = Gen.listOfN(6, word)

  test("property: pipeline counts equal naive Scala counts on well-formed text") {
    check(Prop.forAll(Gen.listOfN(8, line)) { lines =>
      val texts = lines.map(_.mkString(" "))
      val expected = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = MapReducePipeline.run(df, MapReduceJob())
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      got == expected
    }, n = 10)
  }

  test("property: W1 — extra whitespace never changes counts") {
    check(Prop.forAll(line) { ws =>
      ws.isEmpty || {
        val clean = ws.mkString(" ")
        val messy = "  " + ws.mkString("   ") + " "
        val df = Seq((1L, clean), (2L, messy)).toDF("doc_id", "text")
        val perDoc = MapReducePipeline.termFrequency(df, MapReduceJob())
          .collect().groupBy(_.getLong(0))
          .view.mapValues(_.map(r => r.getString(1) -> r.getLong(2)).toMap).toMap
        perDoc(1L) == perDoc(2L)
      }
    }, n = 10)
  }

  test("property: W2 — bucket is always within [0, R) for any word") {
    val anyWord = Gen.nonEmptyListOf(Gen.asciiPrintableChar)
      .map(_.mkString.replace(" ", "x"))
    // evaluate in one batch per sample set to keep Spark job count low
    check(Prop.forAll(Gen.listOfN(10, anyWord), Gen.choose(1, 26)) { (wsRaw, r) =>
      val ws = wsRaw.filter(_.nonEmpty)
      ws.isEmpty || {
        val buckets = ws.toDF("word")
          .select(MapReducePipeline.bucketOf(col("word"), r))
          .collect().map(_.getInt(0))
        buckets.forall(b => b >= 0 && b < r)
      }
    }, n = 10)
  }

  test("property: WordShingles equals naive sliding n-grams for arbitrary text") {
    val messyText = Gen.listOf(Gen.oneOf(word, Gen.const(""), Gen.const(" ")))
      .map(_.mkString(" "))
    check(Prop.forAll(Gen.listOfN(6, messyText)) { texts =>
      val got = texts.toDF("text")
        .select(graft.functions.WordShingles.word_shingles(col("text"), 3))
        .collect().map(_.getSeq[String](0).toList)
      val expected = texts.map { t =>
        t.split(" ").filter(_.nonEmpty).toList.sliding(3).toList
          .filter(_.size == 3).map(_.mkString(" "))
      }
      got.toList == expected
    }, n = 10)
  }

  test("property: RollingHash equals reference fold for arbitrary strings") {
    check(Prop.forAll(Gen.listOfN(10, Gen.asciiPrintableStr)) { ss =>
      val got = ss.toDF("s")
        .select(RollingHash.rolling_hash(col("s")))
        .collect().map(_.getLong(0)).toSeq
      got == ss.map(s => RollingHash.hashBytes(s.getBytes("UTF-8")))
    }, n = 10)
  }

  test("property: binned range join equals the naive containment join") {
    import graft.operators.RangeJoin
    val ts = Gen.choose(0L, 500L) // micros, tiny domain to force bin-edge hits
    val binUs = 64L
    check(Prop.forAll(
      Gen.listOfN(30, ts), Gen.listOfN(10, Gen.zip(ts, Gen.choose(1L, 200L)))) {
      (points, ivRaw) =>
        val p = points.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("pid", "pt").withColumn("pt", expr("timestamp_micros(pt)"))
        val iv = ivRaw.zipWithIndex.map { case ((s, len), i) => (i.toLong, s, s + len) }
          .toDF("iid", "s_us", "e_us")
          .select(col("iid"), expr("timestamp_micros(s_us)").as("s_ts"),
            expr("timestamp_micros(e_us)").as("e_ts"))
        val got = RangeJoin.binnedIntervalJoin(p, "pt", iv, "s_ts", "e_ts", binUs)
          .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val expected = (for {
          (t, i) <- points.zipWithIndex
          ((s, len), j) <- ivRaw.zipWithIndex
          if t >= s && t < s + len
        } yield (i.toLong, j.toLong)).toSet
        got == expected
    }, n = 10)
  }

  test("property: pack_sequences equals the sequential greedy fold") {
    val docGen = Gen.zip(Gen.oneOf("aa", "bb"), Gen.choose(1L, 120L))
    val budget = 100L
    check(Prop.forAll(Gen.listOfN(25, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case ((lang, n), i) => (i.toLong, lang, n) }
        .toDF("doc_id", "lang", "n_tokens")
      // the same shape the query uses: co-partition by lang, scan sorted
      val packed = df.repartition(col("lang")).sortWithinPartitions("lang", "doc_id")
        .as[(Long, String, Long)]
        .mapPartitions { it =>
          var curLang: String = null; var packId = 0L; var fill = 0L
          it.map { case (id, lang, n) =>
            if (lang != curLang) { curLang = lang; packId = 1L; fill = n }
            else if (fill + n > budget) { packId += 1; fill = n }
            else fill += n
            (id, packId)
          }
        }.collect().toMap
      // driver-side greedy reference per lang in doc_id order
      val expected = docs.zipWithIndex.groupBy(_._1._1).flatMap { case (_, ds) =>
        var packId = 0L; var fill = 0L
        ds.sortBy(_._2).map { case ((_, n), i) =>
          if (packId == 0L) { packId = 1L; fill = n }
          else if (fill + n > budget) { packId += 1; fill = n }
          else fill += n
          i.toLong -> packId
        }
      }
      packed == expected
    }, n = 10)
  }

  test("property: WavCodec round-trips arbitrary byte payloads exactly") {
    import graft.functions.WavCodec
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bs =>
      val payload = bs.toArray
      val w = WavCodec.decode(WavCodec.encode(payload))
      w.samples.length == payload.length &&
        payload.indices.forall(i =>
          w.samples(i) == (((payload(i) & 0xff) - 128) << 8)) && {
          // stats agree with a naive fold over the widened samples
          val samples = payload.map(b => (((b & 0xff) - 128) << 8))
          val st = WavCodec.stats(w, silenceThreshold = 16384, onsetThreshold = 4096)
          st.peakAbs == (if (samples.isEmpty) 0 else samples.map(math.abs).max) &&
            st.energy == samples.map(s => s.toLong * s).sum &&
            st.nSilent == samples.count(s => math.abs(s) < 16384) &&
            st.nOnsets == samples.toSeq.sliding(2).count {
              case Seq(a, b) => math.abs(b - a) >= 4096
              case _ => false
            }
        }
    }, n = 30)
  }

  test("property: radix kthValues equals sorted-array selection") {
    import graft.operators.QuantileQueries
    val finiteDouble: Gen[Double] = Gen.oneOf(
      Gen.chooseNum(-1e6, 1e6),
      Gen.chooseNum(-100, 100).map(_.toDouble),
      Gen.oneOf(0.0, -0.0, 1.5, -1.5, 1e12, -1e12))
    check(Prop.forAll(Gen.nonEmptyListOf(finiteDouble)) { vs =>
      val df = vs.toDF("v")
      val n = vs.size.toLong
      val got = QuantileQueries.kthValues(spark, df, "v",
        Seq("median" -> ((m: Long) => (m + 1) / 2), "max" -> ((m: Long) => m)))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val sorted = vs.sorted
      got("median") == sorted(((n + 1) / 2 - 1).toInt) &&
        got("max") == sorted.last
    }, n = 10)
  }

  test("property: codec decoders never fail unlawfully on arbitrary garbage") {
    import graft.functions.{Mp4Codec, PgmCodec, WavCodec}
    // A binary parser's contract on hostile input is a specific
    // IllegalArgumentException — never an index/negative-size/NPE
    // crash, which would mean a bounds check is missing.
    def lawful(decode: Array[Byte] => Any)(bytes: Array[Byte]): Boolean =
      try { decode(bytes); true }
      catch {
        case _: IllegalArgumentException => true
        case _: Throwable => false
      }
    val garbage: Gen[Array[Byte]] = Gen.oneOf(
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      // adversarial: valid magic then noise
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(bs =>
        "RIFF".getBytes("US-ASCII") ++ bs.toArray),
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(bs =>
        "P5\n".getBytes("US-ASCII") ++ bs.toArray),
      // truncations of a VALID container at every prefix length
      Gen.chooseNum(0, 60).map(k =>
        Mp4Codec.encode("valid payload here".getBytes("US-ASCII")).take(k)),
      Gen.chooseNum(0, 60).map(k =>
        WavCodec.encode("valid payload here".getBytes("US-ASCII")).take(k)))
    check(Prop.forAll(garbage) { bytes =>
      lawful(PgmCodec.decode)(bytes) &&
        lawful(WavCodec.decode)(bytes) &&
        lawful(Mp4Codec.decode)(bytes)
    }, n = 200)
  }

  test("property: z-order interleave is a bijection with the quad-tree prefix bound") {
    // Reference interleave/deinterleave in plain Scala — the engine
    // expression must agree, the mapping must invert exactly, and any
    // shared z-prefix of 2k bits must imply shared k-bit prefixes in
    // BOTH dimensions (the rectangle guarantee pipe_zorder's report
    // asserts on real data).
    def zOf(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    def unz(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      (0 until 16).foreach { i =>
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    val coord = Gen.chooseNum(0L, 65535L)
    check(Prop.forAll(coord, coord, coord, coord) { (x1, y1, x2, y2) =>
      val (z1, z2) = (zOf(x1, y1), zOf(x2, y2))
      unz(z1) == ((x1, y1)) &&
        // same 12-bit z prefix ⇒ same 6 high bits of each dimension
        ((z1 >> 20) != (z2 >> 20) ||
          ((x1 >> 10) == (x2 >> 10) && (y1 >> 10) == (y2 >> 10)))
    }, n = 200)
    // the native expression agrees with the reference fold, through
    // both the Column API and the registered SQL function
    import spark.implicits._
    GraftExtensions.register(spark)
    val pts = Seq((3L, 5L), (65535L, 0L), (0L, 65535L), (12345L, 54321L))
    val df = pts.toDF("x", "y")
    val viaColumn = df
      .select(graft.functions.InterleaveBits.interleave_bits(col("x"), col("y")))
      .collect().map(_.getLong(0))
    assert(viaColumn.toSeq == pts.map { case (x, y) => zOf(x, y) })
    df.createOrReplaceTempView("zpts")
    val viaSql = spark.sql("SELECT interleave_bits(x, y) FROM zpts")
      .collect().map(_.getLong(0))
    assert(viaSql.toSeq == pts.map { case (x, y) => zOf(x, y) })
    // library inverse round-trips the expression's output
    pts.foreach { case (x, y) =>
      assert(graft.functions.InterleaveBits.deinterleave(zOf(x, y)) == ((x, y)))
    }
    // wrong arity fails analysis with a real error, not
    // IndexOutOfBoundsException from the registration builder
    val err = intercept[Exception] {
      spark.sql("SELECT interleave_bits(x) FROM zpts").collect()
    }
    assert(err.getMessage.contains("interleave_bits"),
      s"unexpected arity error: ${err.getMessage}")
    assert(!err.isInstanceOf[IndexOutOfBoundsException])
    // hilbert_index: same SQL surface, same arity contract, and the
    // SQL value agrees with the object loop
    val viaHSql = spark.sql("SELECT hilbert_index(x, y) FROM zpts")
      .collect().map(_.getLong(0))
    assert(viaHSql.toSeq ==
      pts.map { case (x, y) => graft.functions.HilbertIndex.xy2d(x, y) })
    val herr = intercept[Exception] {
      spark.sql("SELECT hilbert_index(x) FROM zpts").collect()
    }
    assert(herr.getMessage.contains("hilbert_index"))
    assert(!herr.isInstanceOf[IndexOutOfBoundsException])
  }

  test("property: CDC chunking is a deterministic partition with bounded chunks") {
    import graft.operators.Dedup
    def chunks(text: String): Seq[String] = {
      val bytes = text.getBytes("UTF-8")
      val cuts = (Dedup.CdcWindow to bytes.length).filter { i =>
        (RollingHash.hashBytes(
          bytes.slice(i - Dedup.CdcWindow, i)) & Dedup.CdcMask) == 0L
      }
      val bs = (0 +: cuts :+ bytes.length).distinct.sorted
      bs.sliding(2).map { case Seq(a, b) => text.substring(a, b) }.toSeq
    }
    val asciiText: Gen[String] =
      Gen.listOf(Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.const(' ')))
        .map(_.mkString)
    check(Prop.forAll(asciiText) { t =>
      t.isEmpty || {
        val cs = chunks(t)
        // partition: chunks reassemble the doc, every chunk non-empty
        cs.mkString == t && cs.forall(_.nonEmpty) &&
          // determinism: identical on re-evaluation
          chunks(t) == cs &&
          // prefix stability: a suffix append never changes chunks
          // that end more than a window before the old end
          {
            val grown = chunks(t + "xyz")
            val stable = cs.dropRight(2)
            grown.take(stable.length) == stable
          }
      }
    }, n = 40)
  }
}
