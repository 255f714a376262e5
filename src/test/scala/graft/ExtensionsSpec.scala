package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Skew
import graft.sources.Datasets
import graft.estimators.KNeighborsRegressor
import graft.core.PredictOptions

/** Native expression registration, skew helpers, dataset loaders. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("graft_cosine is a registered codegen'd SQL function matching the HOF formulation") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0)),
      (Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0)),
      (Array(0.5, -1.0, 2.0), Array(-2.0, 0.25, 1.0))
    ).toDF("a", "b")
    val native = df.selectExpr("graft_cosine(a, b) AS c").collect().map(_.getDouble(0))
    val hof = df.select(VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .collect().map(_.getDouble(0))
    native.zip(hof).foreach { case (n, h) => assert(n == h, "bit-identical accumulation") }
    assert(math.abs(native(1) - 1.0) < 1e-15)
    // the native expression stays inside WholeStageCodegen (repartition
    // breaks LocalRelation folding; execute so AQE finalizes the plan)
    val pdf = df.repartition(2).selectExpr("graft_cosine(a, b)")
    pdf.collect()
    val plan = pdf.queryExecution.executedPlan.toString
    // "*(n) Project" is the WholeStageCodegen stage marker; a fallback
    // (interpreted) projection would print a bare "Project"
    assert(plan.split("\n").exists(l => l.trim.matches("""\+- \*\(\d+\) Project .*graft_cosine.*""")), plan)
  }

  test("G18 cartesian guard rejects unbounded cross joins and admits bounded ones") {
    import spark.implicits._
    // parquet-backed (scan-rooted) frames: the shape the guard exists for
    val dir = "/root/testdata/sf0.001"
    val fact = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"))
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    // naked fact x fact cross join -> refused at ANALYSIS time (the
    // Dataset cannot even be constructed; no task ever runs)
    val ex = intercept[Exception] {
      fact.crossJoin(fact.select(col("k").as("k2")))
    }
    assert(rootMsg(ex).contains("cartesian guard"))
    // SQL CROSS JOIN goes through the same guard
    fact.createOrReplaceTempView("cg_fact")
    val ex2 = intercept[Exception] {
      spark.sql("SELECT * FROM cg_fact a CROSS JOIN cg_fact b")
    }
    assert(rootMsg(ex2).contains("cartesian guard"))
    // the engine's own conventions all pass: broadcast hint ...
    val n = fact.count()
    assert(fact.crossJoin(broadcast(
      graft.sources.Tables.region(spark, dir).select(col("r_regionkey"))))
      .count() == 5 * n)
    // ... grand-total aggregate (1-row stats frame) ...
    assert(fact.crossJoin(fact.agg(sum(col("k")).as("tot"))).count() == n)
    // ... and LIMIT-bounded sides
    assert(fact.crossJoin(fact.select(col("k").as("k2")).limit(2))
      .count() == 2 * n)
    // joins WITH conditions (equi or range) are untouched
    assert(fact.as("a").join(fact.limit(3).as("b"), $"a.k" === $"b.k")
      .count() == 3)
  }

  test("graft_mg works per GROUP in SQL (heavy hitters per key)") {
    import spark.implicits._
    // per-group sketches: each group's summary obeys the MG contract
    // independently (the group-by path exercises partial merge per key)
    val rows = (0 until 2).flatMap { g =>
      (0 until 4).flatMap(k => Seq.fill(500 * (k + 1))((g.toLong, k.toLong)))
    }
    val df = rows.toDF("g", "k").repartition(8)
    df.createOrReplaceTempView("mg_in")
    val out = spark.sql("SELECT g, graft_mg(k, 3) AS mg FROM mg_in GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getMap[Long, Long](1).toMap).toMap
    val exact = (0 until 4).map(k => k.toLong -> 500L * (k + 1)).toMap
    val n = exact.values.sum
    for (g <- Seq(0L, 1L); (key, est) <- out(g)) assert(est <= exact(key))
    for (g <- Seq(0L, 1L); (key, t) <- exact)
      assert(t - out(g).getOrElse(key, 0L) <= n / 4, s"g=$g key=$key")
    // k=3 holds the 2000-count key (> n/4 = 1250) in every layout
    assert(out.values.forall(_.contains(3L)))
  }

  test("salted aggregations equal their direct formulations") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // heavy skew: 80% of rows on key 0
    val rows = (0 until 5000).map { i =>
      val k = if (rnd.nextDouble() < 0.8) 0L else rnd.nextInt(50).toLong
      (k, rnd.nextInt(300).toLong, rnd.nextDouble())
    }
    val df = rows.toDF("k", "v", "x")
    val direct = df.groupBy("k")
      .agg(sum("x").as("sum_x"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (math.round(r.getDouble(1) * 1e6), r.getLong(2))).toMap
    val salted = Skew.saltedSumCount(df, Seq("k"), "x")
      .collect().map(r => r.getLong(0) -> (math.round(r.getDouble(1) * 1e6), r.getLong(2))).toMap
    assert(salted == direct)

    val directD = df.groupBy("k").agg(countDistinct("v").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saltedD = Skew.saltedCountDistinct(df, Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(saltedD == directD)
  }

  test("sample imputation dataset supports the canonical fit-small/predict-big flow") {
    val (plots, pixels) = Datasets.sampleImputationData(spark, nPixels = 5000)
    val nPlots = plots.count()
    assert(nPlots > 10 && nPlots < 200)
    val model = KNeighborsRegressor(k = 3, orderBy = Seq("sample_id"))
      .fit(plots, Seq("elev", "precip", "temp"), Seq("biomass"))
    val preds = model.predict(pixels, PredictOptions(noDataOutput = -1))
    assert(preds.count() == 5000)
    assert(preds.columns.toSeq == Seq("sample_id", "biomass"))
    // kNN imputation should roughly track the true response on unmasked rows
    val joined = preds.withColumnRenamed("biomass", "pred")
      .join(pixels.df.withColumn("truth",
        col("elev") * 2.0 + col("precip") * 5.0 - col("temp") * 1.5), "sample_id")
    val mse = joined.selectExpr("avg(pow(pred - truth, 2)) AS mse").collect()(0).getDouble(0)
    assert(mse < 0.5, s"imputation mse $mse")
  }

  test("partitioned parquet sink enables partition pruning on read") {
    val tmp = graft.core.TempDir.forJvm("graft_part").toString
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    graft.sources.Sinks.parquet(events, tmp, partitionBy = Seq("event_type"))
    val back = spark.read.parquet(tmp).filter(col("event_type") === "error")
    val n = back.count()
    assert(n > 0 && n < events.count())
    val plan = back.queryExecution.executedPlan.toString
    // the predicate must prune at the directory level, not row level
    assert(plan.contains("PartitionFilters: [(event_type"), plan)
  }

  test("csv loader round-trips with explicit schema") {
    import spark.implicits._
    val tmp = graft.core.TempDir.forJvm("graft_csv").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x")
    df.write.mode("overwrite").option("header", "true").csv(tmp)
    val back = Datasets.csv(spark, tmp, df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }
}
