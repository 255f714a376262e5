package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GeoTiff

/** The ultimate E17 parity proof: decode the reference's ACTUAL
  * packaged rasters — the 18 rasterio/GDAL-written GeoTIFFs of
  * `swo_ecoplot_128x128.zip` (reference datasets/_base.py:108
  * `load_swo_ecoplot`) — through [[GeoTiff.loadStack]]. These files are
  * everything the canonical fixtures are not: tiled (256×256),
  * LZW-compressed, signed int16 (plus one uint8), GDAL_NODATA-tagged,
  * and a mix of declared (EPSG:5070) and user-defined (32767) CRS.
  *
  * Expected per-file statistics were recomputed INDEPENDENTLY of the
  * JDK codec with a from-scratch TIFF tag-walk + LZW decoder (MSB-first
  * 9→12-bit codes, early change) over the same bytes — so agreement
  * here means two unrelated decoder implementations read identical
  * pixels out of rasterio's output.
  */
class EcoplotParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val zipPath =
    "/root/reference/src/sklearn_raster/datasets/data/swo_ecoplot_128x128.zip"

  /** (file, vsum, vmin, vmax) — independent-decoder ground truth. */
  private val expected = Seq(
    ("ANNPRE.tif", 11505079.0, 697.0, 707.0),
    ("ANNTMP.tif", 18155383.0, 1084.0, 1159.0),
    ("ASPTR.tif", 1699625.0, 0.0, 200.0),
    ("AUGMAXT.tif", 43100957.0, 2566.0, 2763.0),
    ("CONTPRE.tif", 8105380.0, 452.0, 517.0),
    ("CVPRE.tif", 148585779.0, 9001.0, 9213.0),
    ("DECMINT.tif", 3695348.0, 168.0, 313.0),
    ("DEM.tif", 9671684.0, 401.0, 758.0),
    ("DIFTMP.tif", 39405528.0, 2368.0, 2533.0),
    ("NBR.tif", 11575228.0, -247.0, 1074.0),
    ("PRR.tif", 266561749.0, 7976.0, 21384.0),
    ("SLPPCT.tif", 391571.0, 1.0, 76.0),
    ("SMRTMP.tif", 26219620.0, 1576.0, 1674.0),
    ("SMRTP.tif", 5174134.0, 307.0, 333.0),
    ("TC1.tif", 3799321.0, 134.0, 482.0),
    ("TC2.tif", 2770425.0, 15.0, 309.0),
    ("TC3.tif", -719779.0, -364.0, 38.0),
    ("TPI450.tif", 51444.0, -92.0, 80.0))

  private lazy val dir: java.nio.file.Path = {
    val d = graft.core.TempDir.forJvm("ecoplot")
    val zis = new java.util.zip.ZipInputStream(
      new java.io.FileInputStream(zipPath))
    try {
      var e = zis.getNextEntry
      while (e != null) {
        if (!e.isDirectory && e.getName.endsWith(".tif")) {
          val name = e.getName.split('/').last
          java.nio.file.Files.copy(zis, d.resolve(name))
        }
        zis.closeEntry()
        e = zis.getNextEntry
      }
    } finally zis.close()
    d
  }

  private def available: Boolean = java.nio.file.Files.exists(
    java.nio.file.Paths.get(zipPath))

  test("ecoplot headers: tiled LZW int16 with GDAL nodata, meta-only decode") {
    assume(available, s"reference dataset not present at $zipPath")
    val asptr = GeoTiff.decodeMeta(java.nio.file.Files.readAllBytes(
      dir.resolve("ASPTR.tif")))
    assert(asptr.width == 128 && asptr.height == 128)
    assert(asptr.dtype == "uint8" && asptr.compression == 5 && asptr.tiled)
    assert(asptr.nodata.contains("255"))
    assert(asptr.crs.isEmpty) // user-defined (32767) Albers
    val nbr = GeoTiff.decodeMeta(java.nio.file.Files.readAllBytes(
      dir.resolve("NBR.tif")))
    assert(nbr.dtype == "int16" && nbr.crs.contains("EPSG:5070"))
    assert(nbr.nodata.contains("-32768"))
  }

  test("loadStack stacks all 18 rasterio files: geometry, CRS consensus, dtype") {
    assume(available, s"reference dataset not present at $zipPath")
    val (cells, meta, dtype) = GeoTiff.loadStack(spark, dir.toString)
    // xr.merge semantics: geometry must agree (it does — one 30m grid),
    // declared CRS codes win over user-defined 32767 entries
    assert(meta.crs.contains("EPSG:5070"))
    assert(meta.transform ==
      Vector(30.0, 0.0, -2216355.0, 0.0, -30.0, 2546055.0))
    // np.result_type over {uint8 (ASPTR), int16 (rest)} = int16
    assert(dtype == "int16")
    assert(cells.select("band_id").distinct().count() == 18)
  }

  test("pixel parity: JDK decode equals the independent LZW decoder, all bands") {
    assume(available, s"reference dataset not present at $zipPath")
    val (cells, _, _) = GeoTiff.loadStack(spark, dir.toString)
    import org.apache.spark.sql.functions._
    val got = cells.groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got.size == 18)
    expected.zipWithIndex.foreach { case ((name, s, mn, mx), band) =>
      val (n, gs, gmn, gmx) = got(band.toLong)
      assert(n == 128L * 128L, s"$name pixel count")
      assert(gs == s, s"$name sum: got $gs want $s")
      assert(gmn == mn && gmx == mx, s"$name min/max: got [$gmn,$gmx]")
    }
  }
}
