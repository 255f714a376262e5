package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** E2 real-codec unit coverage: the BMP encode → ImageIO decode
  * roundtrip must return the exact pixels the synthesis formulas wrote
  * (`q_media_decode`'s oracle checks aggregate statistics; this spec
  * checks every pixel on a sample of ids, so a compensating-error pair
  * in the stats can't hide a codec bug).
  */
class MultimodalSpec extends AnyFunSuite {

  private def expectedPixel(id: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((7 * id + 3L * x + 5L * y) % 256).toInt,
    ((11 * id + x + 2L * y) % 256).toInt,
    ((13 * id + 2L * x + y) % 256).toInt)

  test("encodeBmp produces a real BMP that ImageIO decodes pixel-exactly") {
    for (id <- Seq(0L, 1L, 7L, 42L, 12345L)) {
      val bytes = Multimodal.encodeBmp(id)
      assert(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte, "BMP magic")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, "ImageIO must decode the payload")
      assert(img.getWidth == 8 + (id % 16).toInt && img.getHeight == 8 + (id % 8).toInt)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val p = img.getRGB(x, y)
        val got = ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
        assert(got == expectedPixel(id, x, y), s"pixel ($x,$y) of media $id")
      }
    }
  }

  test("decodeFeatures dispatches on magic: BMP gets real dimensions, GRFT keeps the fallback") {
    val spark = TestSpark.spark
    val sfDir = "/root/testdata/sf0.001"
    // BMP branch: width/height read from the decoded image
    val bmp = Multimodal.decodeFeatures(Multimodal.synthesizeBmp(spark, sfDir))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(bmp.nonEmpty)
    bmp.foreach { case (id, (w, h)) =>
      assert(w == 8 + (id % 16).toInt && h == 8 + (id % 8).toInt)
    }
    // GRFT branch: unchanged header-parse contract
    val grft = Multimodal.decodeFeatures(Multimodal.synthesizeMedia(spark, sfDir))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(grft.nonEmpty)
    grft.foreach { case (id, (w, h)) =>
      assert(w == 16 + (id % 16).toInt && h == 16 + (id % 8).toInt)
    }
  }

  test("E15 phash banding never misses an exact perceptual duplicate (LSH guarantee)") {
    // two images with equal full hashes agree on EVERY band, so each
    // band's candidate-pair volume must dominate the exact-dup pair
    // volume — the banding-recall invariant that makes the blocked
    // near-dup scan safe to trust at scale (a band that undercounts
    // would silently drop true duplicates from the candidate set)
    val spark = TestSpark.spark
    val sfDir = "/root/testdata/sf0.001"
    val rows = Multimodal.qMediaPhash(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (_, _, exactPairs) = rows(-1L)
    assert(exactPairs > 0, "fixture must contain true perceptual dups")
    for (b <- 0L to 3L) {
      val (nBuckets, maxBucket, candPairs) = rows(b)
      assert(candPairs >= exactPairs,
        s"band $b candidate volume $candPairs < exact-dup volume $exactPairs")
      assert(nBuckets >= 1 && maxBucket >= 1)
    }
    // and the bands really are coarser: every band has at most as many
    // buckets as the full hash (pigeonhole on the 16-bit projections)
    val (fullBuckets, _, _) = rows(-1L)
    for (b <- 0L to 3L)
      assert(rows(b)._1 <= fullBuckets)
  }

  test("E17 pngAudit: clean pass, single-byte flip caught, truncation quarantined") {
    for (id <- Seq(0L, 5L, 97L, 12345L)) {
      val clean = Multimodal.encodePng(id)
      assert(Multimodal.pngAudit(clean) == ((1, 0L, 1)), s"clean png $id")
      // any single-byte data flip must be caught (CRC-32 linearity)
      val flipped = clean.clone()
      flipped(41) = (flipped(41) ^ 0xFF).toByte
      val (sig, bad, ok) = Multimodal.pngAudit(flipped)
      assert(sig == 1 && bad == 1L && ok == 0, s"flipped png $id")
      // truncation mid-chunk: structural failure, verdict 0 even with
      // no CRC mismatch counted
      val trunc = clean.take(clean.length - 5)
      val (sigT, _, okT) = Multimodal.pngAudit(trunc)
      assert(sigT == 1 && okT == 0, s"truncated png $id")
      // wrong magic: signature flag 0
      val badMagic = clean.clone(); badMagic(0) = 0x42
      assert(Multimodal.pngAudit(badMagic)._1 == 0)
    }
  }

  test("encodeWav produces a real RIFF/WAVE file that AudioSystem decodes sample-exactly") {
    for (id <- Seq(0L, 7L, 123L)) {
      val bytes = Multimodal.encodeWav(id)
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      assert(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16)
      assert(fmt.getSampleRate.toLong == 8000 + (id % 5) * 2000)
      val raw = ais.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = raw.length / 2
      assert(n == (48 + id % 96).toInt)
      for (t <- 0 until n) {
        val expected = ((id * 37 + t.toLong * t * 7 + t.toLong * 11) % 4096) - 2048
        assert(bb.getShort().toLong == expected, s"sample $t of media $id")
      }
    }
  }

  test("E20: synthesized ZIPs open with the stock java.util.zip reader; bit-rot arm trips its CRC") {
    // clean archive (id=1 -> 3 members): every member streams out whole
    val zis = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(Multimodal.encodeZip(1L)))
    var names = Vector.empty[String]
    var sizes = Vector.empty[Int]
    var e = zis.getNextEntry
    while (e != null) {
      names :+= e.getName
      sizes :+= zis.readAllBytes().length
      e = zis.getNextEntry
    }
    assert(names == Vector("doc1_0.txt", "doc1_1.txt", "doc1_2.txt"))
    assert(sizes == Vector(21, 22, 23))
    // corrupted archive (id=89): the LAST member's flipped byte must be
    // caught by the reader's own CRC check, not silently returned
    val bad = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(Multimodal.encodeZip(89L)))
    intercept[java.util.zip.ZipException] {
      var e2 = bad.getNextEntry
      while (e2 != null) { bad.readAllBytes(); e2 = bad.getNextEntry }
    }
  }
  /** md5 of (id, length, bytes) per payload, in the given order. */
  private def md5Of(payloads: Iterator[(Long, Array[Byte])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    payloads.foreach { case (id, b) =>
      md.update(java.nio.ByteBuffer.allocate(12).putLong(id).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("synthesized payload bytes are pinned: every encoder and every synthesizer") {
    val spark = TestSpark.spark
    val sfDir = "/root/testdata/sf0.001"
    val encoders = Seq[(String, Long => Array[Byte])](
      "encodeBmp" -> Multimodal.encodeBmp, "encodePng" -> Multimodal.encodePng,
      "encodeWav" -> Multimodal.encodeWav, "encodeAvi" -> Multimodal.encodeAvi,
      "encodeMp3" -> Multimodal.encodeMp3, "encodeZip" -> Multimodal.encodeZip,
      "encodeWarc" -> Multimodal.encodeWarc, "encodePpm" -> Multimodal.encodePpm)
    val frames = Seq(
      "synthesizeVideo" -> Multimodal.synthesizeVideo(spark, sfDir),
      "synthesizeVideoBytes" -> Multimodal.synthesizeVideoBytes(spark, sfDir),
      "synthesizeMedia" -> Multimodal.synthesizeMedia(spark, sfDir),
      "synthesizeAudio" -> Multimodal.synthesizeAudio(spark, sfDir),
      "synthesizeCrossCodec" -> Multimodal.synthesizeCrossCodec(spark, sfDir))
    val got = encoders.map { case (name, enc) =>
      name -> md5Of((0L until 48L).iterator.map(id => id -> enc(id)))
    } ++ frames.map { case (name, df) =>
      name -> md5Of(df.select("media_id", "payload").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).sortBy(_._1).iterator)
    }
    // the oracles rebuild these payloads from the same formulas, so any
    // byte a refactor of the writers changes is a format change
    val pinned = Map(
      "encodeBmp" -> "995b9166d3e945201faf6d4d749f47ff",
      "encodePng" -> "e0d289f43403de8f5a6ed2aa856f34ee",
      "encodeWav" -> "0c86f47b6d22b84592774f54e29997f7",
      "encodeAvi" -> "02a3c9c24fea4e4e667771a41b226cf2",
      "encodeMp3" -> "37927f929ded6f75889faafc4b0852f3",
      "encodeZip" -> "7fa8ccdafbae05377cc3940e24ddbede",
      "encodeWarc" -> "c8b746fdb229a03e65ff27f37a012ff3",
      "encodePpm" -> "e0db3b28ba14f7ba4da8eacf9f3b6042",
      "synthesizeVideo" -> "30f67482e06759582ea8723698c2dd95",
      "synthesizeVideoBytes" -> "c727f1cec52a8850ba05f3eb49b96d9c",
      "synthesizeMedia" -> "683236eca6a82dbace44acc400d3f731",
      "synthesizeAudio" -> "bf178da21f7fed56b17c998f45851a40",
      "synthesizeCrossCodec" -> "186e0357a5b245b724d845b5cd3dcf67")
    got.foreach { case (name, h) => assert(h == pinned(name), name) }
  }

  test("a null or empty payload fails the payload kernels with its id, not an NPE") {
    val spark = TestSpark.spark
    import spark.implicits._
    val grfv = java.nio.ByteBuffer.allocate(8).put("GRFV".getBytes).putInt(0).array()
    val cases = Seq[(String, () => Any, String)](
      ("decodeFeatures", () => Multimodal.decodeFeatures(
        Seq(1L -> Option(Multimodal.encodeBmp(1L)), 7L -> None)
          .toDF("media_id", "payload")).collect(),
        "non-null payload violated at media_id 7"),
      ("sampleFrames", () => Multimodal.sampleFrames(
        Seq(1L -> Option(grfv), 7L -> None).toDF("media_id", "payload"), 1).collect(),
        "non-null payload violated at media_id 7"),
      ("chunkBytes", () => Multimodal.chunkBytes(
        Seq(1L -> Option("some text"), 7L -> None).toDF("doc_id", "text")).collect(),
        "non-null text violated at doc_id 7"),
      // an empty blob (an empty file on the ingest path) has no magic
      ("decodeFeatures, empty payload", () => Multimodal.decodeFeatures(
        Seq(1L -> Multimodal.encodeBmp(1L), 7L -> Array.empty[Byte])
          .toDF("media_id", "payload")).collect(),
        "bad magic for media 7"))
    for ((name, run, msg) <- cases) {
      val e = intercept[Exception](run())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains(msg)), s"$name: ${chain.mkString("\n")}")
      assert(!chain.exists(_.isInstanceOf[NullPointerException]), name)
    }
  }
}
