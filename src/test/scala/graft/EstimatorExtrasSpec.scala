package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{FeatureFrame, PredictOptions}
import graft.estimators.{GBTRegression, PCA, RandomForestRegression}
import graft.sources.Synthetic

/** A12/A13/A16: RF delegation, PCA conventions, synthetic generator. */
class EstimatorExtrasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("random forest learns a nonlinear signal and honors NoData fill") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 500).map { i =>
      val x1 = rnd.nextDouble() * 10; val x2 = rnd.nextDouble() * 10
      (i.toLong, x1, x2, x1 * x2 + (if (x1 > 5) 50.0 else 0.0))
    }
    val df = rows.toDF("id", "x1", "x2", "y")
    val m = RandomForestRegression(numTrees = 30, maxDepth = 8).fit(df, Seq("x1", "x2"), Seq("y"))
    val pred = m.predict(FeatureFrame(df, Seq("id"), Seq("x1", "x2")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val resid = rows.map { case (id, _, _, y) => math.pow(pred(id) - y, 2) }.sum / rows.size
    val yVar = { val ys = rows.map(_._4); val mu = ys.sum / ys.size
      ys.map(y => (y - mu) * (y - mu)).sum / ys.size }
    assert(resid < 0.2 * yVar, s"RF underfits: mse=$resid var=$yVar")

    val masked = Seq((99L, Double.NaN, 1.0)).toDF("id", "x1", "x2")
    val out = m.predict(FeatureFrame(masked, Seq("id"), Seq("x1", "x2")),
      PredictOptions(noDataOutput = -1.0)).collect()
    assert(out.head.getDouble(1) == -1.0)

    // any MLlib regressor wraps through the same delegate
    val g = GBTRegression(maxIter = 10).fit(df, Seq("x1", "x2"), Seq("y"))
    val gPred = g.predict(FeatureFrame(df, Seq("id"), Seq("x1", "x2")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gMse = rows.map { case (id, _, _, y) => math.pow(gPred(id) - y, 2) }.sum / rows.size
    assert(gMse < 0.2 * yVar, s"GBT underfits: mse=$gMse")
  }

  test("Graft.wrap adapts any Spark ML estimator into the contract") {
    val rows = (0 until 200).map { i =>
      val x = i / 10.0
      (i.toLong, x, 1.0 + 2.0 * x)
    }
    val df = rows.toDF("id", "x", "y")
    val m = Graft.wrap(new org.apache.spark.ml.regression.LinearRegression())
      .fit(df, Seq("x"), Seq("y"))
    val pred = m.predict(FeatureFrame(df, Seq("id"), Seq("x")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.take(5).foreach { case (id, _, y) => assert(math.abs(pred(id) - y) < 1e-6) }
    // masked rows still fill per the shared contract
    val masked = Seq((9L, Double.NaN)).toDF("id", "x")
    val out = m.predict(FeatureFrame(masked, Seq("id"), Seq("x")),
      PredictOptions(noDataOutput = -7.0)).collect()
    assert(out.head.getDouble(1) == -7.0)
  }

  test("PCA recovers the dominant axis with deterministic sign") {
    // points spread along (1, 2, 0) with small noise
    val rnd = new scala.util.Random(9)
    val rows = (0 until 400).map { i =>
      val t = rnd.nextGaussian() * 10
      (i.toLong, t + rnd.nextGaussian() * .1,
        2 * t + rnd.nextGaussian() * .1, rnd.nextGaussian() * .1)
    }
    val df = rows.toDF("id", "a", "b", "c")
    val m = PCA(k = 2).fit(df, Seq("a", "b", "c"))
    val v = m.components.head
    // dominant direction ∝ (1,2,0) normalized, largest loading positive
    assert(math.abs(v(1) / v(0) - 2.0) < 0.05)
    assert(v(m.components.head.indices.maxBy(i => math.abs(v(i)))) > 0)
    assert(m.explainedVariance.head > 10 * m.explainedVariance(1))
    // projection of the mean point is ~0
    val out = m.transform(FeatureFrame(df, Seq("id"), Seq("a", "b", "c")))
    val stats = out.agg(avg("pc1"), stddev_pop("pc1")).collect()(0)
    assert(math.abs(stats.getDouble(0)) < 1e-8)
    assert(stats.getDouble(1) > 1.0)

    // k = d roundtrips through inverse_transform exactly
    val full = PCA(k = 3).fit(df, Seq("a", "b", "c"))
    val back = full.inverseTransform(
      full.transform(FeatureFrame(df, Seq("id"), Seq("a", "b", "c"))), Seq("id"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    rows.take(10).foreach { case (id, a, b, c) =>
      val (ra, rb, rc) = back(id)
      assert(math.abs(ra - a) < 1e-9 && math.abs(rb - b) < 1e-9 && math.abs(rc - c) < 1e-9)
    }
  }

  test("weighted kNN follows sklearn's distance weighting and zero-distance rule") {
    import spark.implicits._
    val tr = Seq((0L, 0.0, 0.0), (1L, 1.0, 10.0), (2L, 3.0, 30.0)).toDF("tid", "x", "y")
    val m = graft.estimators.KNeighborsRegressor(k = 2, orderBy = Seq("tid"), weighted = true)
      .fit(tr, Seq("x"), Seq("y"))
    val out = m.predict(graft.core.FeatureFrame(
      Seq((1L, 2.0), (2L, 1.0)).toDF("id", "x"), Seq("id"), Seq("x")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // query 2.0: neighbors x=1 (d=1, w=1) and x=3 (d=1, w=1) → (10+30)/2
    assert(math.abs(out(1L) - 20.0) < 1e-12)
    // query 1.0: exact match on x=1 → its target wins outright
    assert(out(2L) == 10.0)
  }

  test("synthetic generator is deterministic, bounded, smooth, and maskable") {
    val a = Synthetic.featureArray(spark, 2000, Seq("f1", "f2"), seed = 7)
    val b = Synthetic.featureArray(spark, 2000, Seq("f1", "f2"), seed = 7)
    assert(a.orderBy("sample_id").collect().toSeq == b.orderBy("sample_id").collect().toSeq)
    val vals = a.select("f1").collect().map(_.getDouble(0))
    assert(vals.forall(v => v >= 0.0 && v < 1.0))
    // value-noise is smoother than white noise: adjacent deltas are small
    val sortedRows = a.orderBy("sample_id").collect().map(_.getDouble(1))
    val adjacent = sortedRows.sliding(2).map(p => math.abs(p(1) - p(0))).toArray
    val shuffled = new scala.util.Random(1).shuffle(sortedRows.toSeq).toArray
    val shuffledAdj = shuffled.sliding(2).map(p => math.abs(p(1) - p(0))).toArray
    assert(adjacent.sum / adjacent.length < 0.5 * shuffledAdj.sum / shuffledAdj.length)
    // different seeds decorrelate
    val c = Synthetic.featureArray(spark, 2000, Seq("f1"), seed = 8)
      .orderBy("sample_id").collect().map(_.getDouble(1))
    assert(sortedRows.zip(c).count { case (x, y) => math.abs(x - y) < 1e-9 } < 5)

    val masked = Synthetic.featureArray(spark, 2000, Seq("f1", "f2"),
      maskPercentile = 0.2, seed = 7)
    val rowsM = masked.collect()
    val nMasked = rowsM.count(_.getDouble(1).isNaN)
    assert(math.abs(nMasked / 2000.0 - 0.2) < 0.03, s"mask fraction ${nMasked / 2000.0}")
    // mask is the any-feature row mask: f1 NaN iff f2 NaN
    assert(rowsM.forall(r => r.getDouble(1).isNaN == r.getDouble(2).isNaN))
  }
}
