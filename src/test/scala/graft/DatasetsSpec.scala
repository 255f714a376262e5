package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.estimators.KNeighborsRegressor
import graft.sources.Datasets

/** A19: the packaged sample-dataset loader (load_swo_ecoplot analogue)
  * and the canonical fit-on-plots / predict-over-pixels workflow on it.
  */
class DatasetsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("packaged ecoplot sample loads with the documented shape, deterministically") {
    val (x, y, image) = Datasets.loadEcoplotSample(spark, nPixels = 500)
    assert(x.count() == 240 && y.count() == 240)
    assert(x.columns.toSeq == "plot_id" +: Datasets.EcoplotFeatures)
    assert(y.columns.toSeq == "plot_id" +: Datasets.EcoplotTargets)
    assert(image.df.count() == 500)
    assert(image.featureCols == Datasets.EcoplotFeatures)
    // packaged data is immutable: pin one row's exact values
    val r0 = x.filter(x("plot_id") === 0L).collect().head
    assert(r0.getDouble(1) == 1867.4 && r0.getDouble(3) == 8.29)
    val (x2, _, _) = Datasets.loadEcoplotSample(spark, nPixels = 500)
    assert(x2.collect().toSeq == x.collect().toSeq)
  }

  test("large_rasters variant: end-to-end kNN imputation over the 2048x4096 image") {
    val (x, y, image) = Datasets.loadEcoplotSample(spark, large = true)
    assert(Datasets.EcoplotLargeRasterPixels == 2048L * 4096L)
    val train = x.join(y, "plot_id")
    val model = KNeighborsRegressor(k = 5, orderBy = Seq("plot_id"))
      .fit(train, Datasets.EcoplotFeatures, Datasets.EcoplotTargets)
    val pred = model.predict(image)
    // aggregate-only verification: the 8.4M-row image must flow through
    // the codegen'd kNN kernel distributed, never collected
    val t = Datasets.EcoplotTargets.head
    val hull = y.selectExpr(s"min($t) AS lo", s"max($t) AS hi").collect().head
    val agg = pred.selectExpr(
      "count(*) AS n", s"min($t) AS lo", s"max($t) AS hi").collect().head
    assert(agg.getLong(0) == Datasets.EcoplotLargeRasterPixels)
    assert(agg.getDouble(1) >= hull.getDouble(0) && agg.getDouble(2) <= hull.getDouble(1))
  }

  test("the canonical kNN-imputation workflow runs end-to-end on the sample") {
    val (x, y, image) = Datasets.loadEcoplotSample(spark, nPixels = 1000)
    val train = x.join(y, "plot_id")
    val model = KNeighborsRegressor(k = 5, orderBy = Seq("plot_id"))
      .fit(train, Datasets.EcoplotFeatures, Datasets.EcoplotTargets)
    val pred = model.predict(image)
    assert(pred.count() == 1000)
    // k-mean predictions stay inside the training hull per target
    val hull = y.selectExpr(Datasets.EcoplotTargets.flatMap(t =>
      Seq(s"min($t) AS lo_$t", s"max($t) AS hi_$t")): _*).collect().head
    val rows = pred.collect()
    Datasets.EcoplotTargets.zipWithIndex.foreach { case (t, i) =>
      val lo = hull.getDouble(2 * i); val hi = hull.getDouble(2 * i + 1)
      rows.foreach { r =>
        val v = r.getDouble(1 + i)
        assert(!v.isNaN && v >= lo && v <= hi, s"$t=$v outside [$lo,$hi]")
      }
    }
  }
}
