package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{FeatureFrame, Materialize}
import graft.estimators.{KNeighborsRegressor, KnnRegressorModel}
import graft.sources.Synthetic

/** The fit-small/predict-big mapping job: a kNN regressor fitted on a
  * small plot table maps tiles of a pinned synthetic feature array with
  * contiguous NoData regions. Each operation maps one tile: `predict`,
  * then `kneighbors`, both written to the noop sink.
  */
final class RasterMap(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import RasterMap._

  private var tiles: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var plots: DataFrame = _
  private var model: KnnRegressorModel = _
  private val maskedRows = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def tile(i: Int): FeatureFrame = FeatureFrame(tiles(i), Seq("sample_id"), Bands)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Traced, the prediction also counts the rows the mask skipped: the
    * NaN predictions in the output, observed while it is written.
    */
  private def mapTile(i: Int): Unit = {
    val ff = tile(i)
    tr("estimators.predict") {
      if (!tr.enabled) noop(model.predict(ff))
      else {
        val masked = Observation()
        noop(model.predict(ff).observe(masked,
          sum(when(isnan(col(Targets.head)), 1L).otherwise(0L)).as("rows")))
        if (tr.op >= 0) maskedRows += masked.get("rows").asInstanceOf[Long].toDouble
      }
    }
    tr("estimators.kneighbors")(noop(model.kneighbors(ff)))
  }

  def setup(): Unit = {
    // each tile is pinned on its own, so every tile's plan is the same
    // and its generated code is compiled once
    tiles = tr("sources.gen") {
      val raster = Materialize.pin(Synthetic.featureArray(spark, Tiles.toLong * TilePx, Bands,
        maskPercentile = MaskShare, seed = seed))
      val ts = (0 until Tiles).map(i => Materialize.pin(
        raster.where(col("sample_id").between(i.toLong * TilePx, (i + 1L) * TilePx - 1))))
      Materialize.release(raster)
      ts
    }
    plots = tr("sources.gen") {
      val f = Synthetic.featureArray(spark, Plots, Bands, octaves = 1, seed = seed + 1)
        .withColumnRenamed("sample_id", "plot_id")
      def noise(t: String) =
        (abs(xxhash64(lit(seed), lit(t), col("plot_id"))) % 1000000L).cast("double") / 1e6
      Materialize.pin(f
        .withColumn("t1", col("b1") * 40 + col("b2") * 25 + noise("t1") * 5)
        .withColumn("t2", col("b3") * 30 - col("b4") * 10 + noise("t2"))
        .withColumn("t3", col("b5") * col("b6") * 20 + col("b8") + noise("t3") * 2))
    }
    model = tr("estimators.fit") {
      KNeighborsRegressor(k = K, orderBy = Seq("plot_id")).fit(plots, Bands, Targets)
    }
    // warm-up: generated code is compiled, then the JIT settles
    (1 to WarmRounds).foreach(r => round(-r).foreach(_.body()))
  }

  /** Every tile once, in an order drawn from the seed and the round. */
  def round(r: Int): Seq[Op] =
    new Random(seed * 7919L + r).shuffle((0 until Tiles).toVector)
      .map(i => Op(s"tile$i", TilePx.toLong, () => mapTile(i)))

  def nominalRoundS: Double = 4.5

  def tidy(): Unit = ()

  def check(): Seq[Check] = {
    val rng = new Random(seed ^ 0x5DEECE66DL)
    val checked = rng.shuffle((0 until Tiles).toVector).take(CheckTiles)
    val train = plots.orderBy("plot_id").select((Bands ++ Targets).map(col): _*).collect()
      .map(r => Array.tabulate(Bands.length + Targets.length)(r.getDouble))
    checked.flatMap(i => checkTile(i, train, rng))
  }

  private def checkTile(i: Int, train: Array[Array[Double]], rng: Random): Seq[Check] = {
    val ff = tile(i)
    val input = ff.df.orderBy("sample_id").collect()
      .map(r => r.getLong(0) -> Array.tabulate(Bands.length)(j => r.getDouble(j + 1))).toMap
    val pred = model.predict(ff).collect().map(r => r.getLong(0) -> r).toMap
    val nn = model.kneighbors(ff).collect().map(r => r.getLong(0) -> r).toMap
    val masked = input.filter(_._2.exists(_.isNaN)).keySet

    val nanRows = pred.collect { case (id, r) if (1 to Targets.length).exists(j => r.getDouble(j).isNaN) => id }.toSet
    val nanOk = pred.size == input.size && nanRows == masked
    val unmasked = input.keys.filterNot(masked).toVector.sorted

    val ascBad = unmasked.count { id =>
      val r = nn(id)
      val ds = (0 until K).map(j => r.getDouble(1 + K + j))
      ds.exists(_.isNaN) || ds.zip(ds.tail).exists { case (a, b) => a > b } ||
        (0 until K).exists(j => r.getLong(1 + j) < 0)
    }

    val sample = rng.shuffle(unmasked).take(SamplePerTile)
    var worst = 0.0
    val wrong = sample.filterNot { id =>
      val (ids, d2) = bruteForce(input(id), train)
      val p = pred(id); val n = nn(id)
      val means = Targets.indices.map(t => ids.map(j => train(j)(Bands.length + t)).sum / K)
      val relErr = means.indices.map(t => rel(p.getDouble(1 + t), means(t))) ++
        (0 until K).map(j => rel(n.getDouble(1 + K + j), math.sqrt(d2(j))))
      worst = math.max(worst, relErr.max)
      (0 until K).forall(j => n.getLong(1 + j) == ids(j)) && relErr.forall(_ <= Tolerance)
    }
    Seq(
      Check(s"tile$i.nan_exactly_on_nodata", nanOk,
        s"${masked.size} NoData rows, ${nanRows.size} NaN predictions, ${pred.size}/${input.size} rows"),
      Check(s"tile$i.kneighbors_k_ascending", ascBad == 0,
        s"$ascBad of ${unmasked.size} unmasked rows break k ascending distances"),
      Check(s"tile$i.brute_force_knn", wrong.isEmpty,
        s"${wrong.size} of ${sample.size} sampled pixels differ; worst relative error $worst " +
          s"(tolerance $Tolerance)"))
  }

  def layerMetrics(probe: SparkProbe): Seq[(String, Double, String)] = {
    val ops = probe.ops
    def med(f: OpCounters => Double) = Stats.median(ops.map(f).toSeq)
    Seq(
      ("sources.gen_s", tr.seconds("sources.gen").sum, "s"),
      ("estimators.fit_s", tr.seconds("estimators.fit").sum, "s"),
      ("estimators.predict_s", Stats.median(tr.timedSeconds("estimators.predict")), "s"),
      ("estimators.kneighbors_s", Stats.median(tr.timedSeconds("estimators.kneighbors")), "s"),
      ("core.masked_rows", Stats.median(maskedRows.toSeq), "rows"),
      ("spark.planning_s", med(_.planningS), "s"),
      ("spark.tasks", med(_.tasks.toDouble), "count"),
      ("spark.task_s_sum", med(_.taskSumS), "s"),
      ("spark.task_s_max", med(_.taskMaxS), "s"),
      ("spark.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes"),
      ("spark.gc_s", med(_.gcS), "s"))
  }

  def close(): Unit = {
    (tiles :+ plots).filter(_ != null).foreach(Materialize.release)
  }
}

object RasterMap {
  val Bands: Seq[String] = (1 to 8).map(i => s"b$i")
  val Targets: Seq[String] = Seq("t1", "t2", "t3")
  val K = 5
  val Plots = 2000L
  val TileSide = 64
  val TilePx: Int = TileSide * TileSide
  val Tiles = 12
  val WarmRounds = 1
  val MaskShare = 0.2
  val CheckTiles = 2
  val SamplePerTile = 100
  val Tolerance = 1e-9

  private def rel(a: Double, b: Double): Double =
    if (a == b) 0.0 else math.abs(a - b) / math.max(math.abs(a), math.abs(b))

  /** The k nearest plots by (squared distance, plot index), summing the
    * squared differences band by band in declaration order.
    */
  def bruteForce(q: Array[Double], train: Array[Array[Double]]): (Seq[Int], Seq[Double]) = {
    val d2 = train.indices.map { j =>
      var s = 0.0
      var b = 0
      while (b < q.length) { val diff = q(b) - train(j)(b); s += diff * diff; b += 1 }
      (s, j)
    }
    val best = d2.sorted.take(K)
    (best.map(_._2), best.map(_._1))
  }
}
