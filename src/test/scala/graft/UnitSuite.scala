package graft

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{LlmOps, Multimodal, Relational, EventTime, WeightedAvgAgg}

/** Tier A (SURVEY §5.2): hand-computed expected outputs on tiny synthetic
  * fixtures for the nontrivial formulations — the as-of join, session
  * windows, exact/near dedup, and the UDAF buffer algebra.
  *
  * Synthetic fixtures are written as `<tmp>/<name>.parquet` so the graded
  * op functions run unchanged against them. Synthetic `events.ts` is a
  * LONG of nanoseconds — the nanos-generation shape — which deliberately
  * keeps the loader's nanos-as-long branch exercised now that the real
  * fixture drop moved to TIMESTAMP(MICROS) and takes the NTZ branch
  * (Tables.events adapts on the observed type).
  */
class UnitSuite extends AnyFunSuite {

  private lazy val s = TestSpark.spark

  private def tmpLake(tables: (String, DataFrame)*): String = {
    val dir = Files.createTempDirectory("graft_unit_").toString
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  private def ns(sec: Long): Long = sec * 1000000000L

  private def eventsDf(rows: Seq[(Long, Long, Long, String, Double)]): DataFrame = {
    import s.implicits._
    rows.map { case (id, tsNs, uid, typ, v) => (id, tsNs, uid, typ, v, """{"k": 1}""") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("WeightedAvgAgg buffer algebra: reduce/merge/finish") {
    val b1 = WeightedAvgAgg.reduce(WeightedAvgAgg.zero, (10.0, 2.0))
    val b2 = WeightedAvgAgg.reduce(WeightedAvgAgg.zero, (20.0, 1.0))
    val m = WeightedAvgAgg.merge(b1, b2)
    assert(m._1 == new JBigDecimal("40.00").setScale(4))
    assert(m._2 == new JBigDecimal("3.00"))
    assert(math.abs(WeightedAvgAgg.finish(m) - 40.0 / 3.0) < 1e-12)
    assert(WeightedAvgAgg.finish(WeightedAvgAgg.zero) == 0.0)
  }

  test("WeightedAvgAgg merge is split-point invariant (scalacheck)") {
    import org.scalacheck.{Prop, Test => SCTest}
    val prop = Prop.forAll { (xs: List[(Double, Double)], split: Int) =>
      val clean = xs.map { case (x, w) =>
        def fin(d: Double, m: Double) = if (d.isFinite) math.abs(d % m) else 0.0
        (fin(x, 1e6), fin(w, 1e3)) // finite, within DECIMAL(12,2) range
      }
      val k = if (clean.isEmpty) 0 else math.abs(split % (clean.size + 1))
      val (l, r) = clean.splitAt(k)
      val whole = clean.foldLeft(WeightedAvgAgg.zero)(WeightedAvgAgg.reduce)
      val merged = WeightedAvgAgg.merge(
        l.foldLeft(WeightedAvgAgg.zero)(WeightedAvgAgg.reduce),
        r.foldLeft(WeightedAvgAgg.zero)(WeightedAvgAgg.reduce))
      whole._1.compareTo(merged._1) == 0 && whole._2.compareTo(merged._2) == 0
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("join_asof picks latest click at-or-before each purchase, inclusive ties") {
    // user 1: clicks @1000s(id 11), @2000s(id 12);
    //         purchases @500s(id 21, no prior click), @1500s(id 22), @2000s(id 23)
    val dir = tmpLake("events" -> eventsDf(Seq(
      (11L, ns(1000), 1L, "click", 1.0),
      (12L, ns(2000), 1L, "click", 1.0),
      (21L, ns(500), 1L, "purchase", 1.0),
      (22L, ns(1500), 1L, "purchase", 1.0),
      (23L, ns(2000), 1L, "purchase", 1.0))))
    val got = Relational.joinAsof.build(s, dir).collect().toSeq
    assert(got == Seq(Row(22L, 11L), Row(23L, 12L)))
  }

  test("stream_session: boundary gap (=30min) merges; strictly greater gap splits") {
    // user 7: events @0s, @600s, @2400s (gap exactly 30 min → MERGES, Spark
    // session_window is end-inclusive), @4201s (gap 30min 1s → NEW session)
    val dir = tmpLake("events" -> eventsDf(Seq(
      (1L, ns(0), 7L, "view", 1.5),
      (2L, ns(600), 7L, "view", 2.5),
      (3L, ns(2400), 7L, "view", 3.0),
      (4L, ns(4201), 7L, "view", 4.0))))
    val got = EventTime.streamSession.build(s, dir).collect().toSeq
    assert(got == Seq(
      Row(7L, "1970-01-01 00:00:00", "1970-01-01 00:40:00", 3L, 7.0),
      Row(7L, "1970-01-01 01:10:01", "1970-01-01 01:10:01", 1L, 4.0)))
  }

  test("stream_dedup_keys keeps the earliest row per event_id") {
    val dir = tmpLake("events" -> eventsDf(Seq(
      (1L, ns(100), 1L, "view", 1.0),
      (1L, ns(50), 2L, "click", 1.0), // replay with earlier ts wins
      (2L, ns(10), 3L, "view", 1.0))))
    val got = EventTime.streamDedupKeys.build(s, dir).collect().toSeq
    assert(got == Seq(
      Row(1L, "1970-01-01 00:00:50", 2L, "click"),
      Row(2L, "1970-01-01 00:00:10", 3L, "view")))
  }

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    rows.map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("llm_dedup_exact groups case/space variants, keeps min doc_id") {
    val dir = tmpLake("documents" -> docsDf(Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, "  hello   world "),
      (4L, "something else"))))
    val got = LlmOps.llmDedupExact.build(s, dir)
      .select("keep_id", "n_copies").collect().toSeq
    assert(got == Seq(Row(1L, 3L), Row(4L, 1L)))
  }

  test("llm_dedup_near finds identical docs at jaccard 1.0 and nothing else") {
    val words = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (1 to 20).map(i => s"z$i").mkString(" ")
    val dir = tmpLake("documents" -> docsDf(Seq(
      (1L, words), (2L, words), (3L, other))))
    val got = LlmOps.llmDedupNear.build(s, dir).collect().toSeq
    assert(got == Seq(Row(1L, 2L, 1.0)))
  }

  test("llm_multimodal_features: decode stub matches hand-computed bytes features") {
    // "ab" = bytes 97,98 → n_bytes 2, mean 97.5, histogram bucket 1 (64-127);
    // doc_id 2 → kind video → stub path, all decode columns null
    val dir = tmpLake("documents" -> docsDf(Seq((2L, "ab"))))
    val got = graft.ops.Multimodal.llmMultimodalFeatures.build(s, dir).collect().toSeq
    assert(got == Seq(Row(2L, "video", 2, 2, null, null, null, null, 2, 97.5, "0,2,0,0")))
  }

  test("decodeWav reads a hand-built 4-sample WAV's PCM exactly") {
    // independent of encodeWav: hand-pack 16-bit LE samples
    // [-32768, -1, 0, 16384] into a WAV via the JDK writer
    val samples = Seq(-32768, -1, 0, 16384)
    val data = samples.flatMap(v => Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)).toArray
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.size.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val (sr, n, mean, hist) = graft.ops.Multimodal.decodeWav(bos.toByteArray)
    assert((sr, n) == (8000, 4))
    assert(mean == (-32768 - 1 + 0 + 16384) / 4.0)
    // signed range bucketed by 16384: one sample per bucket
    assert(hist.toSeq == Seq(1L, 1L, 1L, 1L))
  }

  test("llm_multimodal_features really decodes the WAV payload for audio rows") {
    // doc_id 1 → kind audio (1 % 3 == 1), synthesized WAV of
    // 1 % 200 + 50 = 51 samples at 8 kHz; expected mean recomputed here
    // from the synthesis formula, independent of the decoder
    val dir = tmpLake("documents" -> docsDf(Seq((1L, "irrelevant text"))))
    val row = graft.ops.Multimodal.llmMultimodalFeatures.build(s, dir).collect().head
    assert(row.getAs[String]("kind") == "audio")
    assert(row.getAs[Int]("sample_rate") == 8000)
    assert(row.getAs[Int]("n_samples") == 51)
    val expected = (0 until 51).map(i => ((31L + i.toLong * 7919) % 65536) - 32768)
    assert(row.getAs[Double]("mean_byte") ==
      math.rint(expected.sum.toDouble / 51 * 1e6) / 1e6)
    assert(row.getAs[Int]("n_bytes") > 51 * 2) // real RIFF container bytes
  }

  test("decodeImage reads a hand-built 2x2 PNG's pixels exactly") {
    // independent of encodePng: build the PNG here with hand-set pixels
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, (10 << 16) | (20 << 8) | 30)
    img.setRGB(1, 0, (40 << 16) | (50 << 8) | 60)
    img.setRGB(0, 1, (70 << 16) | (130 << 8) | 200)
    img.setRGB(1, 1, (255 << 16) | (0 << 8) | 128)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (w, h, mean, hist) = graft.ops.Multimodal.decodeImage(bos.toByteArray)
    assert((w, h) == (2, 2))
    // channels: 10,20,30,40,50,60,70,130,200,255,0,128 → sum 993, mean 993/12
    assert(mean == 993.0 / 12)
    // buckets by 64: [0-63]: 10,20,30,40,50,60,0 → 7; [64-127]: 70 → 1;
    // [128-191]: 130,128 → 2; [192-255]: 200,255 → 2
    assert(hist.toSeq == Seq(7L, 1L, 2L, 2L))
  }

  test("downsample2x box-averages the hand-built 2x2 PNG to one pixel") {
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, (10 << 16) | (20 << 8) | 30)
    img.setRGB(1, 0, (40 << 16) | (50 << 8) | 60)
    img.setRGB(0, 1, (70 << 16) | (130 << 8) | 200)
    img.setRGB(1, 1, (255 << 16) | (0 << 8) | 128)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (ow, oh, mean) = graft.ops.Multimodal.downsample2x(bos.toByteArray)
    assert((ow, oh) == (1, 1))
    // per-channel floor means: r (10+40+70+255)/4=93, g (20+50+130+0)/4=50,
    // b (30+60+200+128)/4=104 → (93+50+104)/3
    assert(mean == (93 + 50 + 104) / 3.0)
  }

  test("frameSample keeps every 4th (and 2nd) decoded PCM sample") {
    val samples = Seq(-32768, -1, 0, 16384)
    val data = samples.flatMap(v => Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)).toArray
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.size.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    assert(graft.ops.Multimodal.frameSample(bos.toByteArray, 4) == (1, -32768.0))
    assert(graft.ops.Multimodal.frameSample(bos.toByteArray, 2) == (2, -16384.0))
  }

  test("llm_multimodal_features really decodes the PNG payload for image rows") {
    // doc_id 12 → kind image (12 % 3 == 0), synthesized PNG dims
    // (12 % 6 + 2, 12 % 4 + 2) = 2×2, seed 12. Hand-derived pixels:
    // r=(116+7x+13y)%256, g=(204+3x+11y)%256, b=(20+5x+19y)%256 →
    // channel sum 1476, mean 123.0, hist buckets 4,2,2,4.
    val dir = tmpLake("documents" -> docsDf(Seq((12L, "irrelevant text"))))
    val row = graft.ops.Multimodal.llmMultimodalFeatures.build(s, dir).collect().head
    assert(row.getAs[String]("kind") == "image")
    assert(row.getAs[Int]("img_w") == 2 && row.getAs[Int]("img_h") == 2)
    assert(row.getAs[Double]("mean_byte") == 123.0)
    assert(row.getAs[String]("hist") == "4,2,2,4")
    assert(row.getAs[Int]("n_bytes") > 0) // real PNG container bytes
  }

  test("llm_multimodal_dedup finds exactly the planted twins, well separated") {
    // compensating test for the no-oracle op (binary decode pipeline):
    // planted recall must be 1.0 with zero extras, and independent
    // images must sit far above the hamming threshold
    val sf = TestSpark.Sf0001
    val planted = graft.tables.Tables.documents(s, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 30 === 0).select("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(planted.nonEmpty, "fixture must contain planted twins")
    val found = graft.ops.Multimodal.llmMultimodalDedup.build(s, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(found.map(_._1).toSet == planted,
      s"detector diverged: missing=${planted -- found.map(_._1)} " +
        s"extras=${found.map(_._1).toSet -- planted}")
    assert(found.forall(_._2 <= 2), "twin perturbation moved too many bits")
    // separation: every non-planted image pair sits far above the gate
    val hs = graft.tables.Tables.documents(s, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0)
      .select("doc_id").collect().map(_.getLong(0)).map { id =>
        id -> graft.ops.Multimodal.dHash(
          graft.ops.Multimodal.encodePngMixed(16, 16, id, 0))
      }
    val minCross = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
    } yield java.lang.Long.bitCount(ha ^ hb)).min
    assert(minCross > 10,
      s"independent images too close (min hamming $minCross) — no margin")
  }

  test("llm_multimodal_dedup_audio finds exactly the planted twins, well separated") {
    // compensating test for the no-oracle op (binary decode pipeline):
    // planted recall 1.0, zero extras, independents far above the gate
    val sf = TestSpark.Sf0001
    val planted = graft.tables.Tables.documents(s, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 30 === 1).select("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    assert(planted.nonEmpty, "fixture must contain planted twins")
    val found = graft.ops.Multimodal.llmMultimodalDedupAudio.build(s, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(found.map(_._1).toSet == planted,
      s"detector diverged: missing=${planted -- found.map(_._1)} " +
        s"extras=${found.map(_._1).toSet -- planted}")
    // gain alone is provably invisible to the order-statistic windows;
    // the 0-3 bits a twin moves are pure requantization noise
    assert(found.forall(_._2 <= 3), "twin perturbation moved too many bits")
    val hs = graft.tables.Tables.documents(s, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 1)
      .select("doc_id").collect().map(_.getLong(0)).map { id =>
        id -> graft.ops.Multimodal.audioFp(
          graft.ops.Multimodal.encodeWavMixed(1040, id, transcode = false))
      }
    val minCross = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
    } yield java.lang.Long.bitCount(ha ^ hb)).min
    assert(minCross > 10,
      s"independent audio streams too close (min hamming $minCross) — no margin")
  }

  test("audioFp is exactly invariant under pure clamped gain (no requantization)") {
    // the design theorem the op leans on: order statistics commute with
    // monotone amplitude maps, so +6 dB clamp alone moves ZERO bits —
    // build a gain-only twin by hand and assert bit equality
    val seed = 7L
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val n = 1040
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val base = ((graft.ops.Multimodal.mix64(seed * 9176L * 1000003L +
        i.toLong * 8191L) & 0xffffL) - 32768L).toInt
      val v = math.max(-32767, math.min(2 * base, 32767)) // gain only (symmetric clamp)
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val gainOnly = graft.ops.Multimodal.audioFp(bos.toByteArray)
    val original = graft.ops.Multimodal.audioFp(
      graft.ops.Multimodal.encodeWavMixed(n, seed, transcode = false))
    assert(gainOnly == original,
      "clamped gain moved fingerprint bits — the invariance theorem broke")
  }

  test("llm_dedup_near is idempotent: surviving docs contain no pairs") {
    val words = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (1 to 20).map(i => s"z$i").mkString(" ")
    val dir = tmpLake("documents" -> docsDf(Seq(
      (1L, words), (2L, words), (3L, other))))
    // keep-one policy: drop every b_id that pairs with a smaller a_id
    val drops = LlmOps.llmDedupNear.build(s, dir)
      .select("b_id").collect().map(_.getLong(0)).toSet
    val survivors = Seq((1L, words), (3L, other)).filterNot(d => drops(d._1))
    val dir2 = tmpLake("documents" -> docsDf(survivors))
    assert(LlmOps.llmDedupNear.build(s, dir2).collect().isEmpty)
  }

  test("typed Dataset entry point: groupByKey.mapGroups matches the untyped aggregate") {
    // SURVEY §1.1/§3: the Dataset[T] surface a type-safe caller uses —
    // case-class Encoders + KeyValueGroupedDataset. mapGroups is the
    // arbitrary-per-group escape hatch; prove it agrees with the
    // Catalyst-optimized untyped aggregate on order-free statistics
    // (count/max — a double SUM would be partition-order-sensitive in
    // the typed path, which is exactly why graded ops stay untyped).
    import org.apache.spark.sql.functions._
    import s.implicits._
    val typed = graft.tables.Tables.orders(s, TestSpark.Sf0001)
      .select(col("o_orderstatus"), col("o_totalprice"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroups { (status, rows) =>
        var n = 0L
        var mx = Double.MinValue
        rows.foreach { r => n += 1; if (r._2 > mx) mx = r._2 }
        (status, n, mx)
      }
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    val untyped = graft.tables.Tables.orders(s, TestSpark.Sf0001)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), max("o_totalprice").as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(typed == untyped)
  }

  test("bpeApplyMerge equals reference greedy BPE on back-to-back runs") {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // Reference greedy BPE: token-wise left-to-right fold with skip.
    def greedy(seq: String, pair: String): String = {
      val Array(x, y) = pair.split(" ", 2)
      val toks = seq.trim.split(" ").toList
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var rest = toks
      while (rest.nonEmpty) rest match {
        case a :: b :: tail if a == x && b == y => out += (x + y); rest = tail
        case a :: tail => out += a; rest = tail
        case Nil => ()
      }
      out.mkString(" ", " ", " ")
    }
    // Hand-picked edges (incl. the x==y runs ≥5 that broke the old
    // two-pass replace form — round-9 advice) plus exhaustive short
    // binary strings: the merge must BE greedy, not resemble it.
    val edges = Seq(
      (" x y x y x y ", "x y"), (" x y x y ", "x y"),
      (" a a a ", "a a"),                       // x==y: true greedy merges ONCE
      (" a a a a a ", "a a"),                   // run of 5: old form gave ' aa a aa '
      (" a a a a a a ", "a a"),                 // run of 6: old form gave ' aa a aa a '
      (" a a a a a a a a a ", "a a"),           // run of 9
      (" ab c d ", "b c"),                      // symbol boundary: 'b' of 'ab' must not match
      (" t h e ", "t h"), (" q ", "x y"),       // plain merge; no occurrence
      (" aa a aa a ", "aa a"), (" a aa a aa ", "a aa")) // multi-char symbols
    val exhaustive = for {
      n <- 1 to 6
      bits <- 0 until (1 << n)
      pair <- Seq("a a", "a b", "b a")
    } yield ((0 until n).map(i => if ((bits >> i & 1) == 1) "b" else "a")
        .mkString(" ", " ", " "), pair)
    val cases = (edges ++ exhaustive).map { case (seq, pair) =>
      (seq, pair, greedy(seq, pair))
    }
    val df = cases.toDF("seq", "pair", "want")
      .withColumn("got", LlmOps.bpeApplyMerge(col("seq"), col("pair")))
    val bad = df.filter(col("got") =!= col("want")).collect()
    assert(bad.isEmpty, bad.take(5).mkString(";"))
  }

  /** Pins the soundex DERIVATION the fn_phonetic_pack oracle re-builds
    * in SQL: H and W are TRANSPARENT (skipped, lastCode unchanged — so
    * same-code letters across an H/W still collapse: ashcraft → A261,
    * bhb → B000), while only vowels and Y are code-0 separators that
    * RESET the run — the adversarial set below covers vowel starts,
    * H/W transparency (ashcraft, bhb, schwarz — the rule the first-cut
    * oracle got wrong), repeats, and the 'small' case that exposed
    * RE2's missing backreferences.
    */
  test("Spark soundex matches the derived algorithm on adversarial words") {
    import s.implicits._
    import org.apache.spark.sql.functions.{col, soundex, upper}
    val cases = Seq(
      ("robert", "R163"), ("rupert", "R163"), ("ashcraft", "A261"),
      ("tymczak", "T522"), ("pfister", "P236"), ("bob", "B100"),
      ("bb", "B000"), ("aeiou", "A000"), ("small", "S540"),
      ("honeyman", "H555"), ("schwarz", "S620"), ("bhb", "B000"),
      ("whisk", "W200"))
    val bad = cases.toDF("w", "want")
      .withColumn("got", soundex(upper(col("w"))))
      .filter(col("got") =!= col("want")).collect()
    assert(bad.isEmpty, bad.mkString(";"))
  }

  /** Pins the video keyframe kernel on a hand-built payload: two
    * identical 32-byte frames then a high-intensity one — exactly one
    * shot boundary, and the mean |delta| is the single 800 jump over
    * two deltas.
    */
  test("videoKeyframes finds the planted shot boundary and nothing else") {
    val payload = (Array.fill(64)('a'.toByte) ++ Array.fill(32)('z'.toByte))
    val (nf, nk, head, sumAbs) = Multimodal.videoKeyframes(payload, 32, 200)
    assert(nf == 3 && nk == 2 && head == "0,2" && sumAbs == 800L,
      s"got ($nf, $nk, $head, $sumAbs)")
    // partial trailing frame: 40 bytes -> frames of 32 and 8
    val (nf2, nk2, head2, _) = Multimodal.videoKeyframes(
      Array.fill(40)('a'.toByte), 32, 200)
    assert(nf2 == 2 && nk2 == 2 && head2 == "0,1",
      "the short trailing frame's signature drop is a boundary")
  }

  /** Pins the ROUGE-L kernel on the textbook LCS instance plus edges
    * (empty side, identical, disjoint).
    */
  test("lcsLen matches the classic DP on textbook instances") {
    def arr(s0: String) = s0.split("").filter(_.nonEmpty)
    assert(LlmOps.lcsLen(arr("abcbdab"), arr("bdcaba")) == 4)
    assert(LlmOps.lcsLen(arr("abc"), arr("abc")) == 3)
    assert(LlmOps.lcsLen(arr("abc"), arr("xyz")) == 0)
    assert(LlmOps.lcsLen(Array.empty[String], arr("abc")) == 0)
  }

  test("PlanSweep counts whole node names, not substrings") {
    val plan = """AdaptiveSparkPlan isFinalPlan=false
      |+- *(3) HashAggregate(keys=[k#1], functions=[count(1)])
      |   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=9]
      |      +- *(2) BroadcastHashJoin [k#1], [k#2], Inner, BuildRight
      |         :- ReusedExchange [k#1], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=7]
      |         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=8]
      |            +- Generate explode(xs#3), [k#2], false, [x#4]""".stripMargin
    Seq("Exchange", "ReusedExchange", "BroadcastExchange", "HashAggregate",
        "BroadcastHashJoin", "Generate").foreach { n =>
      assert(PlanSweep.nodeCount(plan, n) == 1, n)
    }
    assert(PlanSweep.nodeCount(plan, "Broadcast") == 0)
  }
}
