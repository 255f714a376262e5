package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GeoTiff

/** E17/A59: real raster-FILE ingest — GeoTIFF bytes on disk, classic
  * and BigTIFF, decoded back through one IFD tag walk for both
  * containers (georeference, header-only) and, for pixels, the JDK
  * ImageIO TIFF plugin (classic) or the hand decoder (BigTIFF). Mirrors the
  * reference's load-from-disk contract (datasets/_base.py:108
  * `_load_rasters_to_array`) and the dtype-promotion test
  * (tests/test_datasets.py:122 `test_load_rasters_promotes_dtype`).
  */
class GeoTiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(): java.nio.file.Path =
    graft.core.TempDir.forJvm("geotiff_spec")

  test("uint8 roundtrip: encoded bytes decode to the formula pixels and tags") {
    val i = GeoTiff.decodeStats(GeoTiff.encode(0L)) // band 0: uint8
    assert(i.width == 16 && i.height == 12)
    assert(i.bits == 8 && i.sampleFmt == 1 && i.dtype == "uint8")
    assert(i.epsg == 32601)
    assert(i.scaleX == 30.0 && i.scaleY == 30.0)
    assert(i.tieX == 500000.0 && i.tieY == 4200000.0)
    // stats vs the formula, computed independently here
    val vs = for (y <- 0 until 12; x <- 0 until 16)
      yield ((3 * x + 5 * y) % 256).toDouble
    assert(i.nPx == 192 && i.vsum == vs.sum && i.vmin == vs.min && i.vmax == vs.max)
  }

  test("float32 roundtrip: IEEE-float strip decodes exactly (quarter values)") {
    val b = 7L // odd: float32, w=16+7%9=23, h=12+7%7=12
    val i = GeoTiff.decodeStats(GeoTiff.encode(b))
    assert(i.width == 23 && i.height == 12)
    assert(i.bits == 32 && i.sampleFmt == 3 && i.dtype == "float32")
    assert(i.epsg == 32601 + 7)
    val vs = for (y <- 0 until 12; x <- 0 until 23)
      yield ((11 * x + 13 * y + b) % 997).toDouble / 4.0
    assert(i.nPx == 23 * 12 && i.vsum == vs.sum)
    assert(i.vmin == vs.min && i.vmax == vs.max)
  }

  /** The real-world layout matrix: every (variant, dtype) cell of the
    * shapes fixture must decode — through the REAL JDK codec — to the
    * same formula pixels the canonical layout carries. A compression,
    * predictor, tiling, multi-strip, byte-order, or signed-sample bug
    * fails the exact cell that exercises it.
    */
  test("shaped roundtrips: multi-strip Deflate, LZW, LZW+predictor, tiled, MM") {
    for (b <- 0L until 36L) {
      val lay = GeoTiff.shapeLayout(b)
      val dt = GeoTiff.shapeDtype(b)
      val i = GeoTiff.decodeStats(GeoTiff.encodeShaped(b))
      val w = GeoTiff.widthOf(b); val h = GeoTiff.heightOf(b)
      assert(i.width == w && i.height == h, s"band $b shape")
      assert(i.dtype == dt, s"band $b dtype: got ${i.dtype}")
      assert(i.meta.compression == lay.compression, s"band $b compression")
      assert(i.meta.predictor == lay.predictor, s"band $b predictor")
      assert(i.meta.tiled == lay.tile.isDefined, s"band $b tiled")
      assert(i.meta.bigEndian == lay.bigEndian, s"band $b byte order")
      assert(i.epsg == GeoTiff.epsgOf(b))
      val vs = for (y <- 0 until h; x <- 0 until w) yield dt match {
        case "uint8"   => ((3L * x + 5L * y + 7L * b) % 256).toDouble
        case "float32" => ((11L * x + 13L * y + b) % 997).toDouble / 4.0
        case _         => ((17L * x + 23L * y + 29L * b) % 1201).toDouble - 600.0
      }
      assert(i.nPx == w.toLong * h, s"band $b n_px")
      assert(i.vsum == vs.sum, s"band $b vsum: got ${i.vsum} want ${vs.sum}")
      assert(i.vmin == vs.min && i.vmax == vs.max, s"band $b min/max")
    }
  }

  test("decodeMeta is header-only: meta from a file whose pixels cannot decode") {
    val hdr = GeoTiff.encodeHeaderOnly(6L)
    val m = GeoTiff.decodeMeta(hdr)
    assert(m.width == GeoTiff.widthOf(6) && m.height == GeoTiff.heightOf(6))
    assert(m.epsg == GeoTiff.epsgOf(6) && m.dtype == "uint8")
    assert(m.tieX == GeoTiff.tieXOf(6) && m.tieY == GeoTiff.tieYOf(6))
    // the same payload CANNOT pixel-decode (strip offset past EOF) —
    // so any path that returns meta provably never read a pixel
    intercept[Exception] { GeoTiff.decodeStats(hdr) }
  }

  test("loadRaster returns a RasterFrame with file-derived GridMeta") {
    val d = tmpDir()
    val b = 4L
    java.nio.file.Files.write(d.resolve("band_004.tif"), GeoTiff.encode(b))
    val rf = GeoTiff.loadRaster(spark, d.resolve("band_004.tif").toString)
    assert(rf.meta.crs.contains(s"EPSG:${32601 + 4}"))
    assert(rf.meta.transform ==
      Vector(30.0, 0.0, 500000.0 + 960.0 * 4, 0.0, -30.0, 4200000.0 - 480.0 * 4))
    assert(rf.width == 16 + 4 % 9 && rf.height == 12 + 4 % 7)
    // cells come through the distributed binaryFile scan, not the
    // driver-side header probe
    val n = rf.df.count()
    assert(n == rf.width * rf.height)
    val got = rf.df.filter("x = 3 AND y = 2").collect().head.getDouble(2)
    assert(got == ((3 * 3 + 5 * 2 + 7 * 4) % 256).toDouble)
  }

  test("loadStack: aligned multi-file stack with NumPy dtype promotion") {
    assert(GeoTiff.promote(Seq("uint8", "uint8")) == "uint8")
    assert(GeoTiff.promote(Seq("uint8", "float32")) == "float32")
    assert(GeoTiff.promote(Seq("float32", "float32")) == "float32")
    // the int16 lattice the reference's own ecoplot rasters need
    assert(GeoTiff.promote(Seq("uint8", "int16")) == "int16")
    assert(GeoTiff.promote(Seq("int16", "uint16")) == "int32")
    assert(GeoTiff.promote(Seq("int32", "float32")) == "float64")
    assert(GeoTiff.promote(Seq("int16", "float32")) == "float32")
    assert(GeoTiff.promote(Seq("uint8", "int16", "float32")) == "float32")
    val d = tmpDir()
    java.nio.file.Files.write(d.resolve("b0.tif"), GeoTiff.encode(0L))
    java.nio.file.Files.write(d.resolve("b1.tif"), GeoTiff.encode(0L))
    val (cells, meta, dtype) = GeoTiff.loadStack(spark, d.toString)
    assert(meta.crs.contains("EPSG:32601"))
    assert(dtype == "uint8")
    assert(cells.count() == 2L * 16 * 12)
    assert(cells.select("band_id").distinct().count() == 2)
  }

  test("loadStack refuses misaligned rasters loudly") {
    val d = tmpDir()
    java.nio.file.Files.write(d.resolve("b0.tif"), GeoTiff.encode(0L))
    java.nio.file.Files.write(d.resolve("b1.tif"), GeoTiff.encode(1L))
    val e = intercept[Exception] {
      GeoTiff.loadStack(spark, d.toString)
    }
    assert(e.getMessage.contains("misaligned"))
  }

  test("loadStack meta path never touches pixel data (driver or executor)") {
    // a directory of header-only files: valid IFDs, strip offsets past
    // EOF — pixel decode ANYWHERE throws, so a successful loadStack
    // return proves meta/alignment/promotion came from headers alone
    val d = tmpDir()
    java.nio.file.Files.write(d.resolve("h0.tif"), GeoTiff.encodeHeaderOnly(0L))
    java.nio.file.Files.write(d.resolve("h1.tif"), GeoTiff.encodeHeaderOnly(0L))
    val (cells, meta, dtype) = GeoTiff.loadStack(spark, d.toString)
    assert(meta.crs.contains("EPSG:32601"))
    assert(dtype == "uint8")
    // the lazily-planned cells DO fail when pixels are finally forced —
    // the failure lives exactly (and only) on the pixel path
    intercept[Exception] { cells.count() }
  }

  test("loadStack CRS consensus: user-defined (32767) defers to declared codes") {
    assert(GeoTiff.decodeMeta(GeoTiff.encode(0L)).crs.contains("EPSG:32601"))
    // promote-only check of the 32767 rule (fixture encoder never emits
    // it; the ecoplot parity spec exercises the real mixed-file case)
    val m = GeoTiff.decodeMeta(GeoTiff.encode(0L)).copy(epsg = 32767)
    assert(m.crs.isEmpty)
  }

  test("gate query matches the oracle formulas at sf0.001") {
    val df = GeoTiff.qRasterTiff(spark, "/root/testdata/sf0.001").collect()
    assert(df.length == 48)
    assert(df.forall(_.getAs[String]("promoted_dtype") == "float32"))
    val r9 = df.find(_.getLong(0) == 9L).get // odd → float32
    assert(r9.getAs[String]("dtype") == "float32")
    assert(r9.getAs[Long]("epsg") == 32601 + 9)
    val w = 16 + 9 % 9; val h = 12 + 9 % 7
    val vs = for (y <- 0 until h; x <- 0 until w)
      yield ((11 * x + 13 * y + 9) % 997).toDouble / 4.0
    assert(r9.getAs[Long]("n_px") == w * h)
    assert(r9.getAs[Double]("vsum") == vs.sum)
  }

  test("shapes gate matches the oracle formulas at sf0.001") {
    val df = GeoTiff.qRasterTiffShapes(spark, "/root/testdata/sf0.001").collect()
    assert(df.length == 48)
    assert(df.forall(_.getAs[String]("promoted_dtype") == "float32"))
    // band 11: variant (11/3)%8 = 3 (LZW), dt 11%3 = 2 (int16)
    val r11 = df.find(_.getLong(0) == 11L).get
    assert(r11.getAs[String]("dtype") == "int16")
    assert(r11.getAs[Long]("compression") == 5)
    assert(r11.getAs[Long]("predictor") == 1)
    // band 9: variant 3, dt 0 → LZW + predictor 2 on uint8
    val r9 = df.find(_.getLong(0) == 9L).get
    assert(r9.getAs[Long]("predictor") == 2)
    // band 12..14: variant 4 → tiled
    assert(df.find(_.getLong(0) == 13L).get.getAs[Long]("tiled") == 1)
    // band 15..17: variant 5 → big-endian
    assert(df.find(_.getLong(0) == 16L).get.getAs[String]("byte_order") == "MM")
    // band 18..20: variant 6 → BigTIFF plain (classic rows read 0)
    val r19 = df.find(_.getLong(0) == 19L).get
    assert(r19.getAs[Long]("bigtiff") == 1)
    assert(r19.getAs[Long]("compression") == 1)
    assert(df.find(_.getLong(0) == 16L).get.getAs[Long]("bigtiff") == 0)
    // band 21..23: variant 7 → BigTIFF hard mode: MM + tiled + LZW,
    // predictor 2 on the uint8 band
    val r21 = df.find(_.getLong(0) == 21L).get // dt 0 (uint8)
    assert(r21.getAs[Long]("bigtiff") == 1)
    assert(r21.getAs[String]("byte_order") == "MM")
    assert(r21.getAs[Long]("tiled") == 1)
    assert(r21.getAs[Long]("compression") == 5)
    assert(r21.getAs[Long]("predictor") == 2)
    val r23 = df.find(_.getLong(0) == 23L).get // dt 2 (int16)
    assert(r23.getAs[String]("dtype") == "int16")
    assert(r23.getAs[Long]("predictor") == 1)
  }

  /** The written bytes are pinned: every fixture, the header-only file
    * and both WRITE paths hash to fixed digests, so a change to the
    * container writer that moves any byte fails here.
    */
  test("writer output is byte-identical: fixtures, header-only file, both write paths") {
    def md5(parts: Iterable[Array[Byte]]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(p => md.update(p))
      md.digest().map(b => f"${b & 0xFF}%02x").mkString
    }
    assert(md5((0L until 48L).map(GeoTiff.encode)) ==
      "43e49cadaae609e25dbaf377ccf7ab9c")
    assert(md5((0L until 48L).map(GeoTiff.encodeShaped)) ==
      "c956a9093cdf747d63829509e3acf339")
    assert(md5(Seq(GeoTiff.encodeHeaderOnly(6L))) ==
      "a63a59fc95e8116913a2b790e43ef38f")
    // q_raster_roundtrip's grid: 96×64 quarter values, ~1/23 missing
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.hexPrefix52
    val w = 96L; val h = 64L
    val cells = spark.range(w * h)
      .select((col("id") % w).as("x"), expr(s"id div $w").as("y"))
      .withColumn("v", ((col("x") * 11 + col("y") * 13) % 997).cast("double") / 4.0)
      .filter(hexPrefix52(concat(lit("rr|"), col("x").cast("string"),
        lit(","), col("y").cast("string"))) % 23 =!= 0)
    val rf = graft.core.RasterFrame(cells, w, h,
      graft.core.GridMeta(Some("EPSG:32614"),
        Vector(30.0, 0.0, 500000.0, 0.0, -30.0, 4200000.0),
        fillValue = Some(-9999L)))
    val d = tmpDir()
    GeoTiff.writeRaster(rf, d.resolve("pred.tif").toString, rowsPerStrip = 16)
    assert(md5(Seq(java.nio.file.Files.readAllBytes(d.resolve("pred.tif")))) ==
      "f8d6358184ef623eee7a80a9aaf01413")
    GeoTiff.writeRasterSharded(rf, d.resolve("sharded").toString, bandRows = 16)
    val shards = (0 until 4).map(i => f"shard_$i%05d.tif") :+ "_manifest.txt"
    assert(md5(shards.map(n =>
      java.nio.file.Files.readAllBytes(d.resolve("sharded").resolve(n)))) ==
      "90ca3cefef65f18e9ffaf058ce65c32b")
  }

  /** TIFF writers emit field types the meta never reads (RATIONAL
    * resolutions, SSHORT, FLOAT, UNDEFINED): the tag walk must size
    * them and move on, in either container.
    */
  test("decodeMeta skips unread entries of any field type, classic and BigTIFF") {
    // retype `tag` in the first IFD, in place; classic: 4-byte IFD
    // offset at 4, 2-byte entry count, 12-byte entries; BigTIFF: 8, 8, 20
    def retype(p: Array[Byte], big: Boolean, tag: Int, tpe: Int): Array[Byte] = {
      val out = p.clone()
      val bb = java.nio.ByteBuffer.wrap(out).order(
        if (out(0) == 'M') java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
      val ifd = if (big) bb.getLong(8).toInt else bb.getInt(4)
      val n = if (big) bb.getLong(ifd).toInt else bb.getShort(ifd).toInt
      val entries = (0 until n).map(i => ifd + (if (big) 8 + 20 * i else 2 + 12 * i))
      val base = entries.find(e => bb.getShort(e) == tag).get
      bb.putShort(base + 2, tpe.toShort)
      out
    }
    val SShort = 8
    // band 0: classic little-endian; band 21: BigTIFF big-endian tiled
    for ((p, big) <- Seq(GeoTiff.encode(0L) -> false, GeoTiff.encodeShaped(21L) -> true))
      assert(GeoTiff.decodeMeta(retype(p, big, 262, SShort)) == GeoTiff.decodeMeta(p),
        s"bigTiff=$big")
  }

  test("a GDAL_NODATA string that fits the value field is written inline") {
    // "0" and "-1" pad to 2 and 4 bytes: TIFF keeps values that fit the
    // 4-byte (classic) or 8-byte (BigTIFF) field inline, and the walk
    // reads them from there
    for (nd <- Seq("0", "-1", "-9999"); big <- Seq(false, true)) {
      val p = GeoTiff.writeContainer(2, 2, 1, 1, Vector(Array[Byte](1, 2, 3, 4)),
        GeoTiff.Layout(bigEndian = big, 1, 1, None, 2, bigTiff = big),
        32610, 30.0, 30.0, 500000.0, 4200000.0, nodata = Some(nd))
      assert(GeoTiff.decodeMeta(p).nodata.contains(nd), s"nodata $nd, bigTiff=$big")
      assert(GeoTiff.decodeStats(p).vsum == 10.0)
    }
  }

  test("loadStack reads a mixed classic + BigTIFF stack transparently") {
    // rasterio parity: the load APIs must not care which container a
    // band arrived in — write an aligned pair (one classic, one
    // BigTIFF, same grid) and stack them
    val dir = graft.core.TempDir.forJvm("graft_bigtiff_mix")
    val w = 20; val h = 14
    val classic = GeoTiff.buildTiff(w, h, "uint8",
      (x, y) => ((3 * x + 5 * y) % 256).toDouble, 32610, 500000.0, 4200000.0,
      GeoTiff.Layout(bigEndian = false, 1, 1, None, h))
    val big = GeoTiff.buildTiff(w, h, "int16",
      (x, y) => ((17 * x + 23 * y) % 1201 - 600).toDouble, 32610, 500000.0, 4200000.0,
      GeoTiff.Layout(bigEndian = true, 5, 1, Some((16, 16)), h, bigTiff = true))
    java.nio.file.Files.write(dir.resolve("band_a.tif"), classic)
    java.nio.file.Files.write(dir.resolve("band_b.tif"), big)
    val (cells, meta, dtype) = GeoTiff.loadStack(spark, dir.toString)
    assert(dtype == "int16") // uint8 + int16 promote to int16
    assert(meta.crs.contains("EPSG:32610"))
    val rows = cells.collect()
    assert(rows.length == 2 * w * h)
    // spot-check exact values from both codec paths
    val byKey = rows.map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    assert(byKey((0L, 7L, 3L)) == ((3 * 7 + 5 * 3) % 256).toDouble)
    assert(byKey((1L, 19L, 13L)) == ((17 * 19 + 23 * 13) % 1201 - 600).toDouble)
  }
}
