package graft.estimators

import breeze.linalg.{eigSym, DenseMatrix}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{ContractedOutputs, FeatureFrame, PredictOptions}

/** Principal component analysis with a DISTRIBUTED fit: one aggregate
  * pass accumulates the d×d second-moment matrix and the means (d(d+1)/2
  * + d scalars over the wire — rows never leave the executors), the
  * covariance eigendecomposition runs on the driver via Breeze, and
  * transform is a codegen'd affine projection. Mirrors the reference's
  * PCA-through-transform surface (`estimator.py:633`).
  *
  * Deterministic conventions: components are ordered by eigenvalue
  * descending, and each component's sign is fixed so its
  * largest-magnitude loading is positive (sklearn's svd_flip analogue).
  */
final case class PCA(k: Int) extends FeatureEstimator[PCAModel] {

  def fit(train: DataFrame, featureCols: Seq[String], targetCols: Seq[String] = Nil): PCAModel = {
    val d = featureCols.length
    require(k <= d, s"k=$k > number of features $d")
    val xs = featureCols.map(c => col(c).cast("double"))
    val moments = (for (i <- 0 until d; j <- i until d) yield sum(xs(i) * xs(j))) ++
      xs.map(sum) :+ count(lit(1))
    val named = moments.zipWithIndex.map { case (c, i) => c.as(s"m$i") }
    val r = train.agg(named.head, named.tail: _*).collect()(0)
    var p = 0
    val raw = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      raw(i)(j) = r.getDouble(p); raw(j)(i) = raw(i)(j); p += 1
    }
    val sums = Array.tabulate(d)(i => r.getDouble(p + i))
    val n = r.getLong(p + d).toDouble
    val means = sums.map(_ / n)
    val cov = DenseMatrix.tabulate(d, d)((i, j) => raw(i)(j) / n - means(i) * means(j))

    val es = eigSym(cov)
    // breeze returns eigenvalues ascending; take top-k descending
    val order = (0 until d).sortBy(i => -es.eigenvalues(i)).take(k)
    val components = order.map { ei =>
      val v = Array.tabulate(d)(es.eigenvectors(_, ei))
      val m = v.indices.maxBy(i => math.abs(v(i)))
      if (v(m) < 0) v.map(-_) else v
    }
    val variances = order.map(es.eigenvalues(_))
    PCAModel(featureCols, means.toIndexedSeq, components.toIndexedSeq, variances.toIndexedSeq)
  }
}

final case class PCAModel(
    featureNames: Seq[String],
    means: Seq[Double],
    components: Seq[Array[Double]], // k rows of d loadings
    explainedVariance: Seq[Double]
) extends FittedTransform with ContractedOutputs {

  def outputFeatureNames: Seq[String] = components.indices.map(j => s"pc${j + 1}")

  def predict(frame: FeatureFrame, opts: PredictOptions = PredictOptions()): DataFrame =
    transform(frame, opts)

  /** Reconstruct feature space from component scores (reference
    * `inverse_transform`): x̂_i = mean_i + Σ_j pc_j v_ji. Exact when
    * k = d; the least-squares reconstruction otherwise.
    */
  def inverseTransform(df: DataFrame, idCols: Seq[String]): DataFrame = {
    val feats = featureNames.zipWithIndex.map { case (c, i) =>
      components.zipWithIndex
        .map { case (v, j) => col(s"pc${j + 1}") * lit(v(i)) }
        .reduce(_ + _)
        .+(lit(means(i))).as(c)
    }
    df.select(idCols.map(col) ++ feats: _*)
  }

  /** Project onto the top-k components: pc_j = Σ_i (x_i - mean_i) v_ji. */
  def transform(frame: FeatureFrame, opts: PredictOptions = PredictOptions()): DataFrame = {
    val ff = frame.validated(featureNames)
    val out = outputContract(ff.df.sparkSession, opts)
    val mask = ff.noDataMask
    val pcs = components.zipWithIndex.map { case (v, j) =>
      val dot: Column = featureNames.zipWithIndex
        .map { case (c, i) => (col(c) - lit(means(i))) * lit(v(i)) }
        .reduce(_ + _)
      out(dot, mask).as(s"pc${j + 1}")
    }
    ff.df.select(ff.idCols.map(col) ++ pcs: _*)
  }
}
