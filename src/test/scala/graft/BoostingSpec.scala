package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.FeatureFrame
import graft.estimators.{GradientBoostStage1, GradientBoostTwoStage}

/** A12d/A12e: the exact boosting stages must actually BOOST — each
  * stage reduces training SSE — and the two-stage model's stage-1 part
  * must coincide with the stage-1 model (shared split + constants).
  */
class BoostingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def train = {
    import spark.implicits._
    // integer-cent targets with structure on both features so both
    // stages find real splits
    (0 until 120).map { i =>
      val x1 = (i % 10).toDouble
      val x2 = (i % 7).toDouble
      val y = 10.0 * x1 + 3.0 * x2 + (i % 3) // exact integers at scale 1
      (i.toLong, x1, x2, y)
    }.toDF("id", "x1", "x2", "y")
  }

  private def sse(pred: org.apache.spark.sql.DataFrame): Double =
    pred.join(train.select(col("id"), col("y")), "id")
      .select(sum(pow(col("yhat") - col("y"), 2)).as("s"))
      .collect()(0).getDouble(0)

  test("stage 2 reduces training SSE below stage 1, which beats the mean") {
    val t = train
    val frame = FeatureFrame(t, Seq("id"), Seq("x1", "x2"))
    val m1 = GradientBoostStage1(learningRate = 0.5, targetScale = 1.0,
      orderBy = Seq("id")).fit(t, Seq("x1", "x2"), Seq("y"))
    val m2 = GradientBoostTwoStage(targetScale = 1.0,
      orderBy = Seq("id")).fit(t, Seq("x1", "x2"), Seq("y"))
    val p1 = m1.predict(frame).withColumnRenamed("y", "yhat")
    val p2 = m2.predict(frame).withColumnRenamed("y", "yhat")
    val meanRow = t.agg(avg(col("y"))).collect()(0).getDouble(0)
    val sse0 = t.select(sum(pow(col("y") - lit(meanRow), 2))).collect()(0).getDouble(0)
    val s1 = sse(p1); val s2 = sse(p2)
    assert(s1 < sse0, s"stage 1 did not improve on the mean: $s1 vs $sse0")
    assert(s2 < s1, s"stage 2 did not improve on stage 1: $s2 vs $s1")
  }

  test("two-stage model's F1 part equals the stage-1 model on every row") {
    val t = train
    val m1 = GradientBoostStage1(learningRate = 0.5, targetScale = 1.0,
      orderBy = Seq("id")).fit(t, Seq("x1", "x2"), Seq("y"))
    val m2 = GradientBoostTwoStage(targetScale = 1.0,
      orderBy = Seq("id")).fit(t, Seq("x1", "x2"), Seq("y"))
    assert(m2.fidx1 == m1.fidx && m2.thr1 == m1.thr)
    assert((m2.leftSum, m2.leftN, m2.rightSum, m2.rightN) ==
           ((m1.leftSum, m1.leftN, m1.rightSum, m1.rightN)))
    // quantized residuals: Σt differs from 0 only by the ≤½-unit
    // per-row quantization of the two stage-1 leaf constants
    val n = m2.leftN + m2.rightN
    assert(math.abs(m2.leftT + m2.rightT) <= (n + 1) / 2 + 1,
      s"stage-2 residual sum |${m2.leftT} + ${m2.rightT}| exceeds the quantization bound")
  }

  test("fit survives train sets past the r10 Long-capacity bound (n > 12,073)") {
    import spark.implicits._
    // 30,000 rows with cent-scale targets in the lineitem price range —
    // the r10 cleared-denominator residuals (D = 2·n·n_L·n_R ≈ 1.3e13,
    // t = D·y ≈ 1e20) overflowed Long here and the fit REFUSED; the
    // quantized-residual form keeps |t| ≤ the data range at any n.
    val big = (0 until 30000).map { i =>
      val x1 = (i % 50).toDouble
      val x2 = (i % 11).toDouble
      val y = 900.0 * x1 + 70.0 * x2 + (i % 97) // dollars; integral cents
      (i.toLong, x1, x2, y)
    }.toDF("id", "x1", "x2", "y")
    val m = GradientBoostTwoStage(targetScale = 100.0, orderBy = Seq("id"))
      .fit(big, Seq("x1", "x2"), Seq("y"))
    assert(m.leftN + m.rightN == 30000)
    // stage 2 still boosts at this size
    val frame = FeatureFrame(big, Seq("id"), Seq("x1", "x2"))
    val p2 = m.predict(frame).withColumnRenamed("y", "yhat")
    val joined = p2.join(big.select(col("id"), col("y")), "id")
    val s2 = joined.select(sum(pow(col("yhat") - col("y"), 2)).as("s"))
      .collect()(0).getDouble(0)
    val meanRow = big.agg(avg(col("y"))).collect()(0).getDouble(0)
    val sse0 = big.select(sum(pow(col("y") - lit(meanRow), 2))).collect()(0).getDouble(0)
    assert(s2 < sse0, s"two-stage fit at n=30000 did not beat the mean: $s2 vs $sse0")
  }
}
