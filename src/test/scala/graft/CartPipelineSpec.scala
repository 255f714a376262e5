package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.FeatureFrame
import graft.estimators._

/** A12c deterministic CART + A18 pipeline composition. */
class CartPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CART recovers a known axis-aligned step function exactly") {
    // y depends on x1<=5 then x2<=3 — the tree must find those splits
    val rows = for (i <- 0 until 10; j <- 0 until 8) yield {
      val x1 = i.toDouble; val x2 = j.toDouble
      val y = (if (x1 <= 4) 100.0 else 300.0) + (if (x2 <= 2) 0.0 else 40.0)
      (i.toLong * 100 + j, x1, x2, y)
    }
    val df = rows.toDF("id", "x1", "x2", "y")
    val m = CartRegression(maxDepth = 2, targetScale = 1.0, orderBy = Seq("id"))
      .fit(df, Seq("x1", "x2"), Seq("y"))
    // root split separates the 200-point gap on x1 at midpoint 4.5
    val root = m.root.asInstanceOf[CartSplit]
    assert(root.fidx == 0 && root.thr == 4.5, m.describe)
    // both children split on x2 at 2.5
    val l = root.left.asInstanceOf[CartSplit]
    val r = root.right.asInstanceOf[CartSplit]
    assert(l.fidx == 1 && l.thr == 2.5, m.describe)
    assert(r.fidx == 1 && r.thr == 2.5, m.describe)
    // leaf predictions are the exact plateau values
    val pred = m.predict(FeatureFrame(df, Seq("id"), Seq("x1", "x2")))
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    rows.foreach { case (id, _, _, y) => assert(pred(id) == y, s"id=$id") }
  }

  test("CART split-gain ties break on (feature index, threshold)") {
    // x1 and x2 are identical columns: equal gains everywhere; the
    // winner must be feature 0 at its lowest best threshold
    val df = Seq((0L, 1.0, 1.0, 10.0), (1L, 2.0, 2.0, 10.0),
                 (2L, 3.0, 3.0, 50.0), (3L, 4.0, 4.0, 50.0))
      .toDF("id", "x1", "x2", "y")
    val m = CartRegression(maxDepth = 1, targetScale = 1.0, orderBy = Seq("id"))
      .fit(df, Seq("x1", "x2"), Seq("y"))
    val root = m.root.asInstanceOf[CartSplit]
    assert(root.fidx == 0 && root.thr == 2.5, m.describe)
  }

  test("CART refuses non-integral targets at the configured scale") {
    val df = Seq((0L, 1.0, 0.123456789), (1L, 2.0, 7.0)).toDF("id", "x1", "y")
    intercept[IllegalArgumentException] {
      CartRegression(maxDepth = 1, targetScale = 100.0, orderBy = Seq("id"))
        .fit(df, Seq("x1"), Seq("y"))
    }
  }

  test("pipeline predict equals manual stage composition (scaler -> PCA -> kNN)") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      val a = rnd.nextDouble() * 100; val b = rnd.nextDouble() * 5 + 0.2 * a
      (i.toLong, a, b, math.floor(a + 3 * b))
    }
    val train = rows.take(60).toDF("id", "a", "b", "y")
    val input = rows.toDF("id", "a", "b", "y")
    val feats = Seq("a", "b")

    val pipe = FeaturePipeline(Seq(StandardScaler(), PCA(k = 2)),
      KNeighborsRegressor(k = 3, orderBy = Seq("id")))
    val pm = pipe.fit(train, feats, Seq("y"))
    val got = pm.predict(FeatureFrame(input, Seq("id"), feats))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // manual composition with the same stages
    val sc = StandardScaler().fit(train, feats)
    val strain = sc.transform(FeatureFrame(train, train.columns.toSeq, feats))
    val scaledNames = sc.outputFeatureNames
    val pca = PCA(k = 2).fit(strain, scaledNames)
    val ptrain = pca.transform(FeatureFrame(strain, strain.columns.toSeq, scaledNames))
    val knn = KNeighborsRegressor(k = 3, orderBy = Seq("id"))
      .fit(ptrain, pca.outputFeatureNames, Seq("y"))

    val sIn = sc.transform(FeatureFrame(input, Seq("id"), feats))
    val pIn = pca.transform(FeatureFrame(sIn, Seq("id"), scaledNames))
    val want = knn.predict(FeatureFrame(pIn, Seq("id"), pca.outputFeatureNames))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    assert(got.size == 300 && got == want)
  }

  test("pipeline propagates the mask through stages; sentinel fill applies only at the end") {
    import graft.core.{NoData, PredictOptions}
    val train = (0 until 40).map(i => (i.toLong, i.toDouble, 2.0 * i, i * 3.0))
      .toDF("id", "a", "b", "y")
    // row 1 is masked via the configured sentinel on `a`
    val input = Seq((0L, 5.0, 10.0), (1L, -1.0, 12.0), (2L, 7.0, 14.0))
      .toDF("id", "a", "b")
    val pipe = FeaturePipeline(Seq(StandardScaler()),
      KNeighborsRegressor(k = 3, orderBy = Seq("id")))
    val pm = pipe.fit(train, Seq("a", "b"), Seq("y"))
    val frame = FeatureFrame(input, Seq("id"), Seq("a", "b"),
      NoData.perFeature(Map("a" -> -1.0)))
    // a NON-NaN sentinel: before the fix the scaler stage wrote -999
    // into the intermediate features, the next frame saw it as valid
    // data, and the masked row got a prediction computed from garbage
    val got = pm.predict(frame, PredictOptions(noDataOutput = -999.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == -999.0, s"masked row must take the caller's fill, got ${got(1L)}")
    // unmasked rows are unaffected by the fill choice
    val plain = pm.predict(frame).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(0L) == plain(0L) && got(2L) == plain(2L))
  }

  test("pipeline validates input feature names against the FIRST stage") {
    val train = Seq((0L, 1.0, 2.0, 3.0)).toDF("id", "a", "b", "y")
    val pipe = FeaturePipeline(Seq(StandardScaler()),
      KNeighborsRegressor(k = 1, orderBy = Seq("id")))
    val pm = pipe.fit(train, Seq("a", "b"), Seq("y"))
    val bad = Seq((0L, 1.0, 2.0)).toDF("id", "a", "WRONG")
    intercept[graft.core.FeatureNameError] {
      pm.predict(FeatureFrame(bad, Seq("id"), Seq("a", "WRONG")))
    }
  }
}
