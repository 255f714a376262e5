package graft.estimators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

import graft.core.{ContractedOutputs, FeatureFrame, PredictOptions}
import graft.sources.Tables.fanOut

/** k-nearest-neighbor estimators — the reference's canonical workload
  * (KNeighborsRegressor/Classifier wrapped by `estimator.py:119`;
  * `predict_proba` `estimator.py:233`; `kneighbors` `estimator.py:387`).
  *
  * Spark realization: the training matrix is SMALL by construction (the
  * tabular fit side), collected once into primitive row-major arrays and
  * shipped inside a Catalyst expression ([[KnnScanExpr]]) — each input
  * row's top-k scan runs directly on InternalRow data inside the
  * projection. Zero shuffle, zero crossJoin, no per-row Row boxing;
  * input partitions are processed independently, so throughput scales
  * linearly with executors at 100 TB. (A crossJoin+window formulation
  * would materialize n×m rows through a shuffle; ruled out at scale.)
  *
  * Determinism: neighbors are ordered by (squaredDistance, trainId)
  * ascending — distance ties break on the training-row id, matching the
  * engine-portable oracle formulation (ROW_NUMBER OVER (ORDER BY dist,
  * tid)). Distance accumulates per-feature in declaration order, so IEEE
  * doubles are bit-identical to a left-associated SQL expression.
  */
private[estimators] final class KnnState(
    val ids: Array[Long],      // m training-row ids (tie-break + kneighbors output)
    val x: Array[Double],      // m*d row-major features
    val y: Array[Double],      // m*t row-major regression targets (empty for cls)
    val yCls: Array[Int],      // m class indices (empty for regression)
    val m: Int,
    val d: Int
) extends Serializable

/** The brute-force kNN scan shared by every kNN estimator: one blocked
  * distance loop ([[KnnKernel.score4]], four training rows per pass) that
  * feeds both the top-k buffer ([[KnnKernel.topK]]) and the radius ball
  * ([[KnnScanExpr]]).
  *
  * Blocking changes no bit of any result. Each row keeps its own
  * accumulator, summed from 0.0 in band order and multiplied by its
  * query's d/n_obs factor, exactly as a one-row loop sums it (the JVM
  * neither reassociates nor fuses double arithmetic). Rows are offered
  * to the (dist², id) buffer in training order, and the buffer's order
  * is total over distinct ids, so ties break on the lower id as before.
  * `KernelProps` checks ids and d² bit for bit against the one-row loop.
  */
private[estimators] object KnnKernel {

  /** Fill `outIdx` with the k training-row indices nearest to `q`,
    * ordered by (dist², id) ascending; `outD` gets the squared distances.
    * Returns the neighbor count (min(k, m)).
    *
    * nan_euclidean (sklearn KNNImputer distance): missing (NaN) query
    * dims are skipped and the sum scales by d/n_obs. Fully-observed
    * rows get factor 1.0 and x*1.0 is the identity for every double,
    * so the classic paths are bit-unchanged. Fully-missing rows are
    * the caller's responsibility (mask + fill).
    *
    * The observed dims are listed once per query, so the m·d loop tests
    * no NaN; [[score4]] scores four training rows per pass, whose four
    * independent add chains overlap instead of waiting on one another.
    */
  def topK(
      q: Array[Double],
      st: KnnState,
      k: Int,
      outIdx: Array[Int],
      outD: Array[Double]
  ): Int = {
    val m = st.m
    val n = math.min(k, m)
    val dims = observedDims(q)
    val factor = st.d.toDouble / dims.length
    val acc = new Array[Double](4)
    var filled = 0
    var i = 0
    while (i < m) {
      val r = score4(q, dims, factor, st, i, acc)
      var b = 0
      while (b < r) {
        filled = offer(acc(b), i + b, st.ids, n, filled, outIdx, outD)
        b += 1
      }
      i += r
    }
    n
  }

  /** Indices of the observed (non-NaN) dims of `q`, in band order. */
  private def observedDims(q: Array[Double]): Array[Int] = {
    var nobs = 0
    var j = 0
    while (j < q.length) { if (!q(j).isNaN) nobs += 1; j += 1 }
    val dims = new Array[Int](nobs)
    nobs = 0; j = 0
    while (j < q.length) { if (!q(j).isNaN) { dims(nobs) = j; nobs += 1 }; j += 1 }
    dims
  }

  /** The one distance loop: squared distances from `q` over `dims` to
    * training rows i, i+1, i+2, i+3, each summed in `dims` order from
    * 0.0 and then multiplied by `factor`, into `acc(0..3)`. Returns how
    * many of the four rows exist (min(4, m − i)); slots past the last
    * row re-score that row and are not read.
    */
  def score4(q: Array[Double], dims: Array[Int], factor: Double, st: KnnState,
             i: Int, acc: Array[Double]): Int = {
    val x = st.x; val d = st.d; val last = st.m - 1
    val b0 = i * d
    val b1 = math.min(i + 1, last) * d
    val b2 = math.min(i + 2, last) * d
    val b3 = math.min(i + 3, last) * d
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var j = 0
    while (j < dims.length) {
      val c = dims(j)
      val qc = q(c)
      val e0 = qc - x(b0 + c); val e1 = qc - x(b1 + c)
      val e2 = qc - x(b2 + c); val e3 = qc - x(b3 + c)
      s0 += e0 * e0; s1 += e1 * e1; s2 += e2 * e2; s3 += e3 * e3
      j += 1
    }
    acc(0) = s0 * factor; acc(1) = s1 * factor
    acc(2) = s2 * factor; acc(3) = s3 * factor
    math.min(4, st.m - i)
  }

  /** Offer training row `i` at squared distance `d2` to the (dist², id)
    * ascending buffer of capacity `n` holding `filled` entries; returns
    * the new fill.
    */
  private def offer(d2: Double, i: Int, ids: Array[Long], n: Int, filled: Int,
                    outIdx: Array[Int], outD: Array[Double]): Int =
    if (filled < n) {
      insert(d2, i, filled, ids, outIdx, outD)
      filled + 1
    } else {
      val lastD = outD(n - 1)
      if (d2 < lastD || (d2 == lastD && ids(i) < ids(outIdx(n - 1))))
        insert(d2, i, n - 1, ids, outIdx, outD)
      filled
    }

  /** Insertion sort of row `i` into the buffer, starting at slot `from`. */
  private def insert(d2: Double, i: Int, from: Int, ids: Array[Long],
                     outIdx: Array[Int], outD: Array[Double]): Unit = {
    val id = ids(i)
    var p = from
    while (p > 0 && (outD(p - 1) > d2 ||
           (outD(p - 1) == d2 && ids(outIdx(p - 1)) > id))) {
      outD(p) = outD(p - 1); outIdx(p) = outIdx(p - 1); p -= 1
    }
    outD(p) = d2; outIdx(p) = i
  }

  /** Project the validated frame to (ids ++ mask ++ knn-scan output):
    * the narrow input is fanned out BEFORE the scan expression so the
    * O(m·d) per-row work runs on all cores even when the source arrives
    * as a single partition, or pinned with its rows in one of its
    * partitions (a raster tile: `fanOut` slices it by rows, no shuffle);
    * masked rows skip the scan entirely.
    */
  def scanned(ff: FeatureFrame, st: KnnState, k: Int, mode: Int, classCount: Int,
              radius2: Double = 0.0, maskOverride: Option[Column] = None): DataFrame = {
    val in = fanOut(ff.df.select(
      (ff.idCols.map(col) ++ ff.featureCols.map(c => col(c).cast("double"))): _*))
    val features = array(ff.featureCols.map(col): _*)
    val knn = GraftSqlBridge.column(
      KnnScanExpr(GraftSqlBridge.expression(features), st, k, mode, classCount, radius2))
    val mask = maskOverride.getOrElse(ff.noDataMask)
    in.select(
      ff.idCols.map(col) :+ mask.as("__m") :+ when(!mask, knn).as("__knn"): _*)
  }
}

/** KNeighborsRegressor: multi-target mean-of-neighbors prediction.
  *
  * `orderBy` defines the canonical training-row order (must be a unique
  * key over the training table); row ids are 0-based positions in that
  * order — sklearn's training-index semantics, and the deterministic
  * distance tie-break. Defaults to the feature+target columns.
  *
  * `weighted = true` is sklearn's `weights="distance"`: targets average
  * with weight 1/distance; zero-distance neighbors take the mean of the
  * exact matches (sklearn's zero-distance rule).
  */
final case class KNeighborsRegressor(
    k: Int = 5, orderBy: Seq[String] = Nil, weighted: Boolean = false)
    extends FeatureEstimator[KnnRegressorModel] {

  /** Unsupervised form (the reference wraps sklearn NearestNeighbors
    * too): fit without targets; only `kneighbors` is meaningful on the
    * resulting model.
    */
  def fit(train: DataFrame, featureCols: Seq[String]): KnnRegressorModel =
    fit(train, featureCols, Nil)

  def fit(train: DataFrame, featureCols: Seq[String], targetCols: Seq[String]): KnnRegressorModel = {
    val ord = if (orderBy.nonEmpty) orderBy else featureCols ++ targetCols
    val sorted = FitUtil.collectSorted(train, ord, featureCols ++ targetCols)
    val d = featureCols.length; val t = targetCols.length
    val st = new KnnState(
      ids = Array.tabulate(sorted.length)(_.toLong),
      x = sorted.flatMap(_.take(d)),
      y = sorted.flatMap(_.slice(d, d + t)),
      yCls = Array.empty,
      m = sorted.length,
      d = d)
    new KnnRegressorModel(featureCols, targetCols, st, k, weighted)
  }
}

final class KnnRegressorModel private[estimators] (
    val featureNames: Seq[String],
    val targetNames: Seq[String],
    st: KnnState,
    k: Int,
    weighted: Boolean = false
) extends FittedModel with ContractedOutputs {

  def predict(frame: FeatureFrame, opts: PredictOptions = PredictOptions()): DataFrame = {
    val ff = frame.validated(featureNames)
    val out = outputContract(ff.df.sparkSession, opts)
    val mode = if (weighted) KnnScanExpr.ModeWeighted else KnnScanExpr.ModeReg
    val scanned = KnnKernel.scanned(ff, st, k, mode, 0)
    val outs = targetNames.zipWithIndex.map { case (tn, i) =>
      out(element_at(col("__knn"), i + 1), col("__m")).as(tn)
    }
    scanned.select(ff.idCols.map(col) ++ outs: _*)
  }

  /** Prediction under PARTIALLY missing features (sklearn KNNImputer's
    * nan_euclidean semantics): NaN feature dims are skipped and the
    * distance scales by d/n_obs, so rows with missing features still
    * find neighbors instead of being masked. Only rows with EVERY
    * feature missing take the `opts.noDataOutput` fill.
    */
  def predictWithMissing(frame: FeatureFrame,
                         opts: PredictOptions = PredictOptions()): DataFrame = {
    val ff0 = frame.validated(featureNames)
    // normalize EVERY missing form to NaN before the scan: the kernel
    // only knows NaN-skipping — a NULL element would read back from
    // ArrayData as 0.0 (a phantom observed value) and a configured
    // NoData sentinel would participate in the distance
    val sentinels = ff0.featureCols.zip(ff0.sentinels)
    val normalized = ff0.df.select(
      ff0.idCols.map(col) ++ sentinels.map { case (c, sv) =>
        val d = col(c).cast("double")
        val missing =
          if (sv.isNaN) d.isNull || isnan(d)
          else d.isNull || isnan(d) || d === lit(sv)
        when(missing, lit(Double.NaN)).otherwise(d).as(c)
      }: _*)
    val ff = FeatureFrame(normalized, ff0.idCols, ff0.featureCols)
    val allMissing = ff.featureCols.map(c => isnan(col(c))).reduce(_ && _)
    val out = outputContract(ff.df.sparkSession, opts)
    val mode = if (weighted) KnnScanExpr.ModeWeighted else KnnScanExpr.ModeReg
    val scanned = KnnKernel.scanned(ff, st, k, mode, 0, maskOverride = Some(allMissing))
    val outs = targetNames.zipWithIndex.map { case (tn, i) =>
      out(element_at(col("__knn"), i + 1), col("__m")).as(tn)
    }
    scanned.select(ff.idCols.map(col) ++ outs: _*)
  }

  /** kneighbors (reference `estimator.py:387`): per input row, the k
    * nearest training ids and (optionally) Euclidean distances, as
    * sequentially-named columns (`generate_sequential_names`). Masked
    * rows get id -1 and `opts.noDataOutput` distances; so do the slots
    * beyond the training size when m < k. `nNeighbors` overrides the
    * fit-time k at call time (reference's `n_neighbors` kwarg); pass
    * 0 to keep the model's k.
    */
  def kneighbors(frame: FeatureFrame, returnDistance: Boolean = true,
                 opts: PredictOptions = PredictOptions(),
                 nNeighbors: Int = 0): DataFrame = {
    val kk = if (nNeighbors > 0) nNeighbors else k
    val ff = frame.validated(featureNames)
    // A15 applies to the DISTANCE columns (double outputs); neighbor ids
    // stay long with the reference's -1 missing marker
    val out = outputContract(ff.df.sparkSession, opts)
    val scanned = KnnKernel.scanned(ff, st, kk, KnnScanExpr.ModeNN, 0)
    val idCols = FeatureFrame.sequentialNames(kk, "neighbor").zipWithIndex.map { case (nm, i) =>
      when(col("__m"), lit(-1L))
        .otherwise(element_at(col("__knn"), i + 1).cast("long")).as(nm)
    }
    val distCols =
      if (!returnDistance) Seq.empty
      else FeatureFrame.sequentialNames(kk, "distance").zipWithIndex.map { case (nm, i) =>
        out(nanvl(element_at(col("__knn"), kk + i + 1), lit(opts.noDataOutput)),
          col("__m")).as(nm)
      }
    scanned.select(ff.idCols.map(col) ++ idCols ++ distCols: _*)
  }

  /** RasterFrame-in → RasterFrame-out kneighbors — the reference's
    * test_crs_preserved also asserts `dist.rio.crs` and `nn.rio.crs`
    * on the kneighbors OUTPUT grids (tests/test_estimator.py:289-296):
    * the neighbor-id and distance bands come back on a raster carrying
    * the input's CRS/transform with "kneighbors" appended to history.
    * Input NoData rides the grid's fill attr, exactly as the raster
    * `predict` overload on [[FittedModel]].
    */
  def kneighbors(raster: graft.core.RasterFrame, returnDistance: Boolean,
                 opts: PredictOptions, nNeighbors: Int): graft.core.RasterFrame = {
    val nd = raster.meta.fillValue
      .map(v => graft.core.NoData.all(v.toDouble)).getOrElse(graft.core.NoData.none)
    val ff = FeatureFrame(raster.df, Seq("x", "y"), featureNames, nd)
    graft.core.RasterFrame(
      kneighbors(ff, returnDistance, opts, nNeighbors),
      raster.width, raster.height,
      raster.meta.after("kneighbors")
        .copy(fillValue = graft.core.GridMeta.integralFill(opts.noDataOutput)))
  }
}

/** RadiusNeighborsRegressor (sklearn's radius_neighbors family): the
  * prediction is the mean target over ALL training neighbors within
  * Euclidean `radius` — no k, the ball defines the neighborhood. Same
  * broadcast-state scan as kNN (one corpus pass, zero shuffle); empty
  * balls yield `opts.noDataOutput` (sklearn emits NaN + a warning;
  * the fill keeps the output double-typed and oracle-comparable).
  */
final case class RadiusNeighborsRegressor(radius: Double, orderBy: Seq[String] = Nil)
    extends FeatureEstimator[RadiusRegressorModel] {

  def fit(train: DataFrame, featureCols: Seq[String], targetCols: Seq[String]): RadiusRegressorModel = {
    val ord = if (orderBy.nonEmpty) orderBy else featureCols ++ targetCols
    val sorted = FitUtil.collectSorted(train, ord, featureCols ++ targetCols)
    val d = featureCols.length; val t = targetCols.length
    val st = new KnnState(
      ids = Array.tabulate(sorted.length)(_.toLong),
      x = sorted.flatMap(_.take(d)),
      y = sorted.flatMap(_.slice(d, d + t)),
      yCls = Array.empty,
      m = sorted.length,
      d = d)
    new RadiusRegressorModel(featureCols, targetCols, st, radius)
  }
}

final class RadiusRegressorModel private[estimators] (
    val featureNames: Seq[String],
    val targetNames: Seq[String],
    st: KnnState,
    radius: Double
) extends FittedModel with ContractedOutputs {

  /** Per input row: `n_in_radius` plus the mean of each target over the
    * ball (filled with `opts.noDataOutput` when empty or masked).
    * Empty-ball rows are intentional fills on VALID rows, so the opt-in
    * collision check counts them — they are exactly the rows downstream
    * cannot distinguish from masked fills.
    */
  def predict(frame: FeatureFrame, opts: PredictOptions = PredictOptions()): DataFrame = {
    val ff = frame.validated(featureNames)
    val out = outputContract(ff.df.sparkSession, opts)
    if (st.m == 0) {
      // empty fit: the kernel's output array carries no target slots, so
      // element_at would be out of bounds (NULL, or an error under ANSI
      // mode) — emit the documented fill directly
      val outs = targetNames.map(tn =>
        lit(opts.noDataOutput).cast(opts.resolveOutputType()).as(tn))
      return ff.df.select(
        (ff.idCols.map(col) :+ lit(0L).as("n_in_radius")) ++ outs: _*)
    }
    val scanned = KnnKernel.scanned(ff, st, k = 0, KnnScanExpr.ModeRadius, 0,
      radius2 = radius * radius)
    val nCol = when(col("__m"), lit(0L))
      .otherwise(element_at(col("__knn"), 1).cast("long")).as("n_in_radius")
    val outs = targetNames.zipWithIndex.map { case (tn, i) =>
      out(nanvl(element_at(col("__knn"), i + 2), lit(opts.noDataOutput)),
        col("__m")).as(tn)
    }
    scanned.select((ff.idCols.map(col) :+ nCol) ++ outs: _*)
  }
}

/** KNeighborsClassifier: majority vote with sklearn's tie rule
  * (highest count, then lowest class value).
  */
final case class KNeighborsClassifier(k: Int = 5, orderBy: Seq[String] = Nil,
    weighted: Boolean = false)
    extends FeatureEstimator[KnnClassifierModel] {

  def fit(train: DataFrame, featureCols: Seq[String], targetCols: Seq[String]): KnnClassifierModel = {
    require(targetCols.length == 1, "classifier takes exactly one target column")
    val ord = if (orderBy.nonEmpty) orderBy else featureCols
    val (feats, labels) = FitUtil.collectSortedWithLabel(
      train, ord, featureCols, labelCol = Some(targetCols.head))
    require(labels.forall(_ != null),
      s"classifier label column '${targetCols.head}' contains NULLs")
    val d = featureCols.length
    // sklearn's tie rule is "lowest class VALUE": order numerically when
    // every label parses as a number (string sort would put "10" < "2"),
    // lexicographically otherwise
    val asNumbers = labels.distinct.toSeq.map(c => c -> c.toDoubleOption)
    val classes =
      if (asNumbers.forall(_._2.isDefined)) asNumbers.sortBy(_._2.get).map(_._1)
      else asNumbers.map(_._1).sorted
    val clsIdx = classes.zipWithIndex.toMap
    val st = new KnnState(
      ids = Array.tabulate(feats.length)(_.toLong),
      x = feats.flatten,
      y = Array.empty,
      yCls = labels.map(clsIdx),
      m = feats.length,
      d = d)
    new KnnClassifierModel(featureCols, classes, st, k, weighted)
  }
}

final class KnnClassifierModel private[estimators] (
    val featureNames: Seq[String],
    val classes: Seq[String],
    st: KnnState,
    k: Int,
    weighted: Boolean = false
) extends FittedModel with ContractedOutputs {

  private def counts(ff: FeatureFrame): DataFrame = {
    val mode =
      if (weighted) KnnScanExpr.ModeWeightedCounts else KnnScanExpr.ModeCounts
    KnnKernel.scanned(ff, st, k, mode, classes.length)
  }

  /** Majority-vote class per row. Masked rows get `opts.noDataOutput`
    * rendered as a label (integers render without a decimal point so
    * numeric label spaces round-trip); the default NaN maps to NULL.
    * Use [[predictLabeled]] to pick the fill label directly.
    */
  def predict(frame: FeatureFrame, opts: PredictOptions = PredictOptions()): DataFrame = {
    // A15 is a numeric-output contract; the label prediction is a STRING
    // column, so a requested numeric cast or fill-collision check cannot
    // apply — reject loudly instead of silently ignoring the options
    // (predictProba carries the contract on its numeric columns)
    require(opts.outputType.isEmpty && !opts.checkOutputForNoData,
      "outputType / checkOutputForNoData do not apply to string-label " +
        "prediction; use predictProba for contracted numeric outputs")
    val fill =
      if (opts.noDataOutput.isNaN) null
      else if (opts.noDataOutput == math.floor(opts.noDataOutput) && !opts.noDataOutput.isInfinite)
        opts.noDataOutput.toLong.toString
      else opts.noDataOutput.toString
    predictLabeled(frame, noDataLabel = fill)
  }

  def predictLabeled(frame: FeatureFrame, noDataLabel: String): DataFrame = {
    val ff = frame.validated(featureNames)
    val scanned = counts(ff)
    val scores = classes.indices.map(i => element_at(col("__knn"), i + 1))
    // first class (ascending order) whose count >= every later count is
    // the argmax with ties to the lowest class value
    val pred = classes.zipWithIndex.foldRight(lit(classes.last): Column) {
      case ((cls, i), elseExpr) =>
        val rest = scores.drop(i + 1)
        if (rest.isEmpty) elseExpr
        else when(rest.map(o => scores(i) >= o).reduce(_ && _), cls).otherwise(elseExpr)
    }
    scanned.select(ff.idCols.map(col) :+
      when(col("__m"), lit(noDataLabel)).otherwise(pred).as("prediction"): _*)
  }

  /** predict_proba (reference `estimator.py:233`): neighbor class
    * frequencies, one column per class value (classes-as-bands).
    */
  def predictProba(frame: FeatureFrame, opts: PredictOptions = PredictOptions()): DataFrame = {
    val ff = frame.validated(featureNames)
    val out = outputContract(ff.df.sparkSession, opts)
    val scanned = counts(ff)
    // uniform votes normalize by the neighbor count; distance weights
    // normalize by the row's TOTAL weight (sklearn semantics) so the
    // columns always sum to 1
    val denom: Column =
      if (weighted)
        classes.indices.map(i => element_at(col("__knn"), i + 1)).reduce(_ + _)
      else lit(math.min(k, st.m).toDouble)
    val outs = classes.zipWithIndex.map { case (cls, i) =>
      out(element_at(col("__knn"), i + 1) / denom, col("__m")).as(s"p_$cls")
    }
    scanned.select(ff.idCols.map(col) ++ outs: _*)
  }
}
