package graft.estimators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._



/** Smoothed target mean encoding of a categorical key — the standard
  * high-cardinality categorical featurizer for tree/linear models:
  *
  *   enc(k) = (Σ_k y + m · prior) / (n_k + m),   prior = global mean(y)
  *
  * Unseen categories fall back to the prior (n_k = 0) — which is also
  * what makes fitting on a sample sound. Scale shape: the fitted state
  * is one aggregate ROW PER CATEGORY (dim-scale, NOT fact-scale), kept
  * as a DataFrame and broadcast-joined back at encode time — never a
  * driver-side map, so a million-category corpus still fits the plan.
  * Determinism: with integer-valued targets (the caller's contract,
  * e.g. cents) the per-category sums are exact, and the prior is
  * quantized half-up to the same integer unit — so the encoding is a
  * ratio of two INTEGER-valued doubles, whose downstream roundings
  * can only tie on true binary .5 values both engines round alike
  * (rounding a quotient with a float prior in the numerator diverged
  * cross-engine on ~1% of rows at the 4th decimal).
  */
final case class TargetEncoder(keyCol: String, targetCol: String, smoothing: Double) {

  def fit(train: DataFrame): TargetEncoderModel = {
    val y = col(targetCol).cast("double")
    val g = train.groupBy(col(keyCol)).agg(
      sum(y).as("__enc_sum"), count(lit(1)).cast("double").as("__enc_cnt"))
    val r = train.agg(sum(y).as("s"), count(lit(1)).cast("double").as("n")).collect()(0)
    // half-up integer quantization (positive targets), oracle: FLOOR(s/n + 0.5)
    val prior = math.floor(r.getDouble(0) / r.getDouble(1) + 0.5)
    TargetEncoderModel(keyCol, prior, smoothing, g)
  }
}

final case class TargetEncoderModel(
    keyCol: String,
    prior: Double,
    smoothing: Double,
    stats: DataFrame
) {
  /** Adds `enc_<keyCol>` via a broadcast join on the key (the key is a
    * CATEGORICAL — string or integral — not a numeric FeatureFrame
    * feature); rows whose key was never fitted encode to the prior.
    */
  def transform(df: DataFrame, idCols: Seq[String]): DataFrame = {
    val joined = df.join(
      broadcast(stats.withColumnRenamed(keyCol, "__enc_key")),
      df(keyCol) === col("__enc_key"), "left")
    val enc = (coalesce(col("__enc_sum"), lit(0.0)) + lit(smoothing) * lit(prior)) /
      (coalesce(col("__enc_cnt"), lit(0.0)) + lit(smoothing))
    joined.select(idCols.map(col) :+ enc.as(s"enc_$keyCol"): _*)
  }
}

/** One-hot encoding, sklearn OneHotEncoder(handle_unknown='ignore')
  * semantics: fit learns each column's sorted distinct categories from
  * the (small) training side; transform emits one 0/1 indicator column
  * `<col>_<category>` per fitted category as pure codegen'd
  * comparisons — unseen categories encode to all-zeros. Category sets
  * are dim-scale by nature (they become physical columns), so the
  * driver collect in fit is bounded by the output schema width.
  */
final case class OneHotEncoder(cols: Seq[String]) {
  def fit(train: DataFrame): OneHotModel = {
    // One aggregate job for ALL columns (collect_set per column with
    // map-side partial aggregation), not one distinct().collect() job
    // per column — fit cost is one scan regardless of column count.
    // null categories carry no indicator column (sklearn raises on
    // NaN; encoding nulls to all-zeros is the 'ignore' analogue).
    val aggs = cols.map(c => collect_set(col(c).cast("string")).as(c))
    val row = train.agg(aggs.head, aggs.tail: _*).collect()(0)
    val cats = cols.zipWithIndex.map { case (c, i) =>
      c -> row.getSeq[String](i).sorted.toSeq
    }
    OneHotModel(cats)
  }
}

final case class OneHotModel(categories: Seq[(String, Seq[String])]) {
  def transform(df: DataFrame, idCols: Seq[String]): DataFrame = {
    val outs = categories.flatMap { case (c, cats) =>
      // null-safe equality: a null category encodes to all-zeros
      // (the 'ignore' analogue), not to null indicator columns
      cats.map(v =>
        (col(c).cast("string") <=> v).cast("long").as(s"${c}_$v"))
    }
    df.select(idCols.map(col) ++ outs: _*)
  }
}
