package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType,
  IntegerType, LongType, NumericType, ShortType}

/** NoData configuration for input features.
  *
  * Mirrors the reference's `nodata_input` parameter
  * (sklearn-raster `features.py:46`, `ufunc/_base.py:51`): a scalar
  * broadcast to all features, a per-feature mapping, or disabled.
  * Independently of this, NaN is ALWAYS treated as NoData for
  * floating-point features (`ufunc/_base.py:60`).
  */
sealed trait NoData {
  /** Sentinel for feature `name`, if any. */
  def valueFor(name: String): Option[Double]
}

object NoData {
  case object None extends NoData {
    def valueFor(name: String): Option[Double] = scala.None
  }
  final case class All(value: Double) extends NoData {
    def valueFor(name: String): Option[Double] = Some(value)
  }
  final case class PerFeature(values: Map[String, Double]) extends NoData {
    def valueFor(name: String): Option[Double] = values.get(name)
  }

  def none: NoData = None
  def all(v: Double): NoData = All(v)
  def perFeature(values: Map[String, Double]): NoData = PerFeature(values)
}

/** Options controlling prediction over a [[FeatureFrame]].
  *
  * Parity with the reference's predict/transform kwargs
  * (`estimator.py:125`): `nodata_output` fills masked rows,
  * `skip_nodata` computes only valid rows, `ensure_min_samples` pads
  * fully-masked partitions, `allow_cast` permits output-dtype widening
  * when `nodata_output` doesn't fit the estimator dtype
  * (`ufunc/_base.py:148`), `check_output_for_nodata` flags valid
  * outputs that collide with the fill value (`ufunc/_base.py:424`).
  *
  * `outputType` requests a narrower output dtype than the engine's
  * natural double (e.g. IntegerType predictions). Enforcement mirrors
  * the reference: if `noDataOutput` is not representable in the
  * requested type, predict REFUSES unless `allowCast = true`, in which
  * case the output silently widens back to double (the dtype of the
  * fill), exactly the reference's cast-to-`type(nodata_output)` rule.
  *
  * `checkOutputForNoData = true` counts VALID (unmasked) outputs equal
  * to `noDataOutput` — those rows are indistinguishable from fills
  * downstream. Counting runs in the executors via an accumulator (see
  * the owning model's `noDataCollisionCount`); it is opt-in because the
  * per-row check drops the output column out of pure codegen.
  */
final case class PredictOptions(
    skipNoData: Boolean = true,
    noDataOutput: Double = Double.NaN,
    ensureMinSamples: Int = 1,
    allowCast: Boolean = false,
    checkOutputForNoData: Boolean = false,
    outputType: Option[DataType] = scala.None
) {

  /** The dtype predict must emit: the requested `outputType` when the
    * fill fits it, the widened `natural` when it doesn't and casting is
    * allowed, an error otherwise (`ufunc/_base.py:148-149`).
    */
  def resolveOutputType(natural: DataType = DoubleType): DataType = outputType match {
    case scala.Some(dt) if PredictOptions.representable(noDataOutput, dt) => dt
    case scala.Some(_) if allowCast => natural
    case scala.Some(dt) =>
      throw new IllegalArgumentException(
        s"noDataOutput $noDataOutput cannot be represented in the requested " +
          s"output type $dt; pass allowCast = true to widen the output to $natural " +
          "or choose a representable fill value")
    case scala.None => natural
  }
}

object PredictOptions {
  /** Can `v` round-trip through `dt` exactly? (np.can_cast analogue.) */
  def representable(v: Double, dt: DataType): Boolean = dt match {
    case DoubleType => true
    case FloatType  => v.isNaN || v.toFloat.toDouble == v
    case LongType =>
      // Long.MaxValue.toDouble rounds UP to 2^63, so `v <= Long.MaxValue
      // .toDouble` admits 2^63 itself — which the Spark cast CLAMPS to
      // Long.MaxValue, leaving masked rows holding a value different
      // from noDataOutput. Strict upper bound: every double below 2^63
      // is an exact long (doubles that large are integral multiples of
      // 1024), and a round-trip check alone would also pass 2^63
      // (toLong clamps, clamp.toDouble rounds back up).
      !v.isNaN && !v.isInfinite && v == math.floor(v) &&
        v >= Long.MinValue.toDouble && v < 9.223372036854776e18
    case IntegerType | ShortType | ByteType =>
      val (lo, hi) = dt match {
        case IntegerType => (Int.MinValue.toDouble, Int.MaxValue.toDouble)
        case ShortType   => (Short.MinValue.toDouble, Short.MaxValue.toDouble)
        case _           => (Byte.MinValue.toDouble, Byte.MaxValue.toDouble)
      }
      !v.isNaN && !v.isInfinite && v == math.floor(v) && v >= lo && v <= hi
    case _ => false
  }
}

/** Errors raised by fit/predict-time feature-name validation, matching
  * the reference's checks (`estimator.py:796` `_check_feature_names`).
  */
final case class FeatureNameError(message: String) extends IllegalArgumentException(message)

/** The engine's feature-array data model: features-as-columns over an
  * arbitrarily large DataFrame (the reference's features-as-bands over a
  * sample grid, `features.py:26`, re-expressed relationally).
  *
  * `idCols` identify samples (carried through to outputs); `featureCols`
  * are the model inputs, in order. NoData semantics: a row is masked when
  * ANY feature is NoData (NULL, NaN for float types, or the configured
  * sentinel) — `ufunc/_base.py:26` row-mask rule.
  */
final case class FeatureFrame(
    df: DataFrame,
    idCols: Seq[String],
    featureCols: Seq[String],
    noData: NoData = NoData.none
) {
  require(featureCols.nonEmpty, "FeatureFrame needs at least one feature column")

  private def schemaFields = df.schema.fields.map(f => f.name -> f.dataType).toMap

  for (c <- idCols ++ featureCols)
    if (!schemaFields.contains(c))
      throw FeatureNameError(s"column '$c' not present in DataFrame schema")

  for (c <- featureCols)
    schemaFields(c) match {
      case _: NumericType => ()
      case dt => throw FeatureNameError(s"feature column '$c' has non-numeric type $dt")
    }

  private def isFloating(name: String): Boolean = schemaFields(name) match {
    case DoubleType | FloatType => true
    case _                      => false
  }

  /** Row-level NoData mask: true when any feature is NULL, NaN (floats),
    * or equal to its configured sentinel.
    */
  def noDataMask: Column =
    featureCols
      .map { c =>
        val base = col(c).isNull ||
          (if (isFloating(c)) isnan(col(c)) else lit(false))
        noData.valueFor(c) match {
          case Some(v) => base || col(c) === lit(v)
          case None    => base
        }
      }
      .reduce(_ || _)

  /** Per-feature sentinel array aligned with `featureCols` (NaN = none),
    * for kernels that evaluate the mask row-by-row.
    */
  private[graft] def sentinels: Array[Double] =
    featureCols.map(c => noData.valueFor(c).getOrElse(Double.NaN)).toArray

  /** Validate this frame's features against fit-time feature names.
    *
    * Reference parity (`estimator.py:796`): missing features and
    * unexpected features are errors; same set in a different order is
    * accepted and reordered to fit order (the reference warns and
    * reorders — we reorder silently, order is explicit here).
    */
  def validated(fitFeatureNames: Seq[String]): FeatureFrame = {
    val missing    = fitFeatureNames.filterNot(featureCols.contains)
    val unexpected = featureCols.filterNot(fitFeatureNames.contains)
    if (missing.nonEmpty || unexpected.nonEmpty) {
      val parts = Seq(
        if (missing.nonEmpty) s"missing: ${missing.mkString(", ")}" else "",
        if (unexpected.nonEmpty) s"unexpected: ${unexpected.mkString(", ")}" else ""
      ).filter(_.nonEmpty)
      throw FeatureNameError(
        s"feature names do not match fit-time names (${parts.mkString("; ")})")
    }
    if (featureCols == fitFeatureNames) this
    else copy(featureCols = fitFeatureNames)
  }
}

object FeatureFrame {
  /** Sequential output naming, reference `utils/estimator.py:30`
    * (`generate_sequential_names`).
    */
  def sequentialNames(n: Int, prefix: String): Seq[String] =
    (0 until n).map(i => s"$prefix$i")
}
