package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Estimation, Similarity}

/** Round-15 optimization parity: every operator whose internals were
  * rewritten for performance is checked against its PRE-r15
  * implementation, kept here as the test reference.
  *
  *  - q_logistic / q_poisson / q_gmm: the driver-side Newton/EM solves
  *    must publish frames IDENTICAL to the previous distributed
  *    iteration (same shared formula texts evaluated by Catalyst) —
  *    byte-for-byte on the collected rows.
  *  - q_huber: the LONG per-row pipeline must equal the previous
  *    all-DECIMAL(38,0) formulation.
  *  - q_matryoshka: the fused multi-prefix kernel must equal an
  *    independent brute-force per-prefix reference.
  */
class R15OptimizationParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ===
           b.schema.map(f => (f.name, f.dataType)))
    assert(rowsOf(a) === rowsOf(b))
  }

  // ---- pre-r15 distributed reference implementations ----

  /** The pre-r15 q_logistic: 6 Newton iterations as nested distributed
    * aggregates over the pinned cell frame. */
  private def logisticDistributed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.lineitem
    import graft.functions.dec6
    val cells0 = lineitem(s, dir)
      .select(col("l_quantity").cast("decimal(6,0)").as("x1"),
              round(col("l_discount") * 100, 0).cast("decimal(6,0)").as("x2"),
              (col("l_returnflag") === "R").cast("int").as("r"))
      .groupBy(col("x1"), col("x2"))
      .agg(count(lit(1)).cast("decimal(14,0)").as("nn"),
           sum(col("r")).cast("decimal(14,0)").as("kk"))
      .withColumn("x1f", col("x1").cast("double"))
      .withColumn("x2f", col("x2").cast("double"))
    val cells = graft.core.Materialize.pin(cells0)
    var w: DataFrame = s.range(1).select(
      lit(0.0).as("w0"), lit(0.0).as("w1"), lit(0.0).as("w2"))
    for (_ <- 1 to Estimation.logNewtonIters) {
      val terms = cells.crossJoin(broadcast(w))
        .withColumn("eta", expr(Estimation.logEtaSql))
        .withColumn("pe6", expr(s"CAST(${Estimation.logPe6Sql} AS DECIMAL(38,0))"))
      val aggs = Estimation.logSumDefs.map { case (nm, f) =>
        sum(expr(f)).cast("decimal(38,0)").as(nm) }
      val sums = terms.groupBy(col("w0"), col("w1"), col("w2"))
        .agg(aggs.head, aggs.tail: _*)
      val der = Estimation.logSolveDerivs.foldLeft(sums) {
        case (acc, (nm, f)) => acc.withColumn(nm, expr(f))
      }
      w = der.select(col("nw0").as("w0"), col("nw1").as("w1"),
                     col("nw2").as("w2"))
    }
    val wFinal = graft.core.Materialize.pin(w)
    graft.core.Materialize.release(cells)
    val fit = broadcast(wFinal)
    lineitem(s, dir)
      .select(col("l_quantity").cast("long").cast("double").as("x1f"),
              round(col("l_discount") * 100, 0).cast("long").cast("double").as("x2f"),
              (col("l_returnflag") === "R").cast("int").as("actual"))
      .crossJoin(fit)
      .withColumn("pred", expr(Estimation.logScoreSql).cast("int"))
      .groupBy(col("w0"), col("w1"), col("w2"))
      .agg(sum(expr("pred * actual")).as("tp"),
           sum(expr("pred * (1 - actual)")).as("fp"),
           sum(expr("(1 - pred) * actual")).as("fn"),
           sum(expr("(1 - pred) * (1 - actual)")).as("tn"))
      .select(dec6(col("w0")).as("w0"), dec6(col("w1")).as("w1"),
              dec6(col("w2")).as("w2"), col("tp"), col("fp"), col("fn"),
              col("tn"))
  }

  /** The pre-r15 q_poisson: distributed Newton over the per-day frame. */
  private def poissonDistributed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.orders
    import graft.functions.dec6
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).cast(dec).as("yy"))
    val base = daily
      .crossJoin(broadcast(daily.agg(min(col("day")).as("d0"))))
      .select(col("yy"), datediff(col("day"), col("d0")).cast("long").as("t"),
        (pmod(datediff(col("day"), lit("1970-01-01")) + 4, lit(7))
          .isin(0, 6)).cast("long").as("wkd"))
    val tb = base.agg(expr("sum(t) div count(1)").as("tbar"))
    val cells0 = base.crossJoin(broadcast(tb))
      .select(col("yy"), (col("t") - col("tbar")).cast(dec).as("x1"),
              col("wkd").cast(dec).as("x2"))
      .withColumn("x1f", col("x1").cast("double"))
      .withColumn("x2f", col("x2").cast("double"))
    val cells = graft.core.Materialize.pin(cells0)
    var w: DataFrame = s.range(1).select(
      lit(0.0).as("w0"), lit(0.0).as("w1"), lit(0.0).as("w2"))
    for (_ <- 1 to Estimation.poisNewtonIters) {
      val terms = cells.crossJoin(broadcast(w))
        .withColumn("eta", expr(Estimation.poisEtaSql))
        .withColumn("mu6", expr(s"CAST(${Estimation.poisMu6Sql} AS DECIMAL(38,0))"))
      val aggs = Estimation.poisSumDefs.map { case (nm, f) =>
        sum(expr(f)).cast(dec).as(nm) }
      val sums = terms.groupBy(col("w0"), col("w1"), col("w2"))
        .agg(aggs.head, aggs.tail: _*)
      val der = Estimation.poisSolveDerivs.foldLeft(sums) {
        case (acc, (nm, f)) => acc.withColumn(nm, expr(f))
      }
      w = der.select(col("nw0").as("w0"), col("nw1").as("w1"),
                     col("nw2").as("w2"))
    }
    val tot = cells.agg(count(lit(1)).as("n_days"),
      sum(col("yy")).cast("long").as("n_orders"))
    val out = graft.core.Materialize.pin(
      w.crossJoin(broadcast(tot))
        .select(dec6(col("w0")).as("w0"), dec6(col("w1")).as("w1"),
                dec6(col("w2")).as("w2"), col("n_days"), col("n_orders")))
    graft.core.Materialize.release(cells)
    out
  }

  /** The pre-r15 q_gmm: distributed EM over the quantity histogram. */
  private def gmmDistributed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.lineitem
    import graft.functions.dec6
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells0 = lineitem(s, dir)
      .select(col("l_quantity").cast("decimal(6,0)").as("x"))
      .groupBy(col("x")).agg(count(lit(1)).cast("decimal(14,0)").as("c"))
      .withColumn("xf", col("x").cast("double"))
    val cells = graft.core.Materialize.pin(cells0)
    var params: DataFrame = s.range(1).select(
      lit(15.0).as("mu1"), lit(100.0).as("va1"), lit(0.5).as("pi1"),
      lit(35.0).as("mu2"), lit(100.0).as("va2"), lit(0.5).as("pi2"))
    for (_ <- 1 to Estimation.gmmIters) {
      val est = cells.crossJoin(broadcast(params))
        .withColumn("d1", expr(Estimation.gmmD1Sql))
        .withColumn("d2", expr(Estimation.gmmD2Sql))
        .withColumn("r6", expr(s"CAST(${Estimation.gmmR6Sql} AS DECIMAL(38,0))"))
      val sums = est.agg(
        sum(col("c")).cast(dec).as("tn"),
        sum(col("c") * col("x")).cast(dec).as("tx"),
        sum(col("c") * col("x") * col("x")).cast(dec).as("tq"),
        sum(col("c") * col("r6")).cast(dec).as("gw1"),
        sum(col("c") * col("r6") * col("x")).cast(dec).as("gx1"),
        sum(col("c") * col("r6") * col("x") * col("x")).cast(dec).as("gq1"))
      val der = (Estimation.gmmCompDefs ++ Estimation.gmmSolveDerivs).foldLeft(sums) {
        case (acc, (nm, f)) => acc.withColumn(nm, expr(f))
      }
      params = der.select(col("mu1n").as("mu1"), col("va1n").as("va1"),
        col("pi1n").as("pi1"), col("mu2n").as("mu2"),
        col("va2n").as("va2"), col("pi2n").as("pi2"))
    }
    val fin = graft.core.Materialize.pin(params)
    graft.core.Materialize.release(cells)
    fin.select(dec6(col("mu1")).as("mu1"), dec6(col("va1")).as("var1"),
               dec6(col("pi1")).as("pi1"), dec6(col("mu2")).as("mu2"),
               dec6(col("va2")).as("var2"), dec6(col("pi2")).as("pi2"))
  }

  /** The pre-r15 q_huber: every per-row step in DECIMAL(38,0). */
  private def huberDecimal(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.lineitem
    import graft.functions.dec6
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def base = lineitem(s, dir)
      .select(col("l_quantity").cast("decimal(20,0)").as("x1"),
              round(col("l_discount") * 100, 0).cast("decimal(20,0)").as("x2"),
              round(col("l_extendedprice") * 100, 0).cast("decimal(20,0)").as("y"))
      .withColumn("x1f", col("x1").cast("double"))
      .withColumn("x2f", col("x2").cast("double"))
    def solve(weighted: DataFrame): DataFrame = {
      val aggs = Estimation.hubSumDefs.map { case (nm, f) =>
        sum(expr(f)).cast(dec).as(nm) }
      val sums = weighted.agg(aggs.head, aggs.tail: _*)
      Estimation.hubSolveDerivs.foldLeft(sums) {
        case (acc, (nm, f)) => acc.withColumn(nm, expr(f))
      }.select(col("nb0").as("b0"), col("nb1").as("b1"), col("nb2").as("b2"))
    }
    var w = graft.core.Materialize.pin(
      solve(base.withColumn("aw", lit(1000000L).cast(dec))))
    for (_ <- 1 to Estimation.hubIrlsIters) {
      val weighted = base.crossJoin(broadcast(w))
        .withColumn("pred", expr(s"CAST(${Estimation.hubPredSql} AS DECIMAL(38,0))"))
        .withColumn("r", col("y") - col("pred"))
        .withColumn("aw",
          expr(s"CASE WHEN abs(r) <= ${Estimation.HubDelta} THEN CAST(1000000 AS DECIMAL(38,0)) " +
               s"ELSE CAST((CAST(${Estimation.HubDelta} AS DECIMAL(38,0)) * 1000000) div abs(r) " +
               "AS DECIMAL(38,0)) END"))
      val next = graft.core.Materialize.pin(solve(weighted))
      graft.core.Materialize.release(w)
      w = next
    }
    base.crossJoin(broadcast(w))
      .withColumn("pred", expr(s"CAST(${Estimation.hubPredSql} AS DECIMAL(38,0))"))
      .withColumn("r", col("y") - col("pred"))
      .groupBy(col("b0"), col("b1"), col("b2"))
      .agg(count(lit(1)).as("n_rows"),
           sum((abs(col("r")) > Estimation.HubDelta).cast("long")).as("n_out"))
      .select(dec6(col("b0")).as("b0"), dec6(col("b1")).as("b1"),
              dec6(col("b2")).as("b2"), col("n_rows"),
              col("n_out").cast("long").as("n_out"))
  }

  // ---- parity tests ----

  test("q_logistic driver solve equals the distributed Newton iteration") {
    assertSame(Estimation.qLogistic(spark, dir), logisticDistributed(spark, dir))
  }

  test("q_poisson driver solve equals the distributed Newton iteration") {
    assertSame(Estimation.qPoisson(spark, dir), poissonDistributed(spark, dir))
  }

  test("q_gmm driver EM equals the distributed EM") {
    assertSame(Estimation.qGmm(spark, dir), gmmDistributed(spark, dir))
  }

  test("q_huber long per-row arithmetic equals the DECIMAL formulation") {
    assertSame(Estimation.qHuber(spark, dir), huberDecimal(spark, dir))
  }

  test("q_matryoshka fused kernel equals a brute-force per-prefix reference") {
    // independent reference: collect the embedding table and compute
    // each prefix's exact top-10 (cosine over the first d dims,
    // (sim DESC, vec_id ASC) order), then recall vs the 64-dim arm
    val rows = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val probes = rows.filter { case (id, _) => id % 50 == 0 && id < 5000 }
    def topk(d: Int): Map[Long, Set[Long]] = probes.map { case (qid, qv) =>
      val qn = math.sqrt(qv.take(d).map(x => x * x).sum)
      val scored = rows.map { case (vid, v) =>
        var dot = 0.0; var n2 = 0.0; var j = 0
        while (j < d) { dot += qv(j) * v(j); n2 += v(j) * v(j); j += 1 }
        (vid, dot / (qn * math.sqrt(n2)))
      }
      qid -> scored.sortBy { case (vid, s) => (-s, vid) }.take(10)
        .map(_._1).toSet
    }.toMap
    val exact = topk(64)
    val expected = Seq(8, 16, 32).map { d =>
      val arm = topk(d)
      val hits = arm.map { case (q, set) => (set intersect exact(q)).size }.sum
      val nEx = exact.values.map(_.size).sum
      (d.toLong, hits.toLong, nEx.toLong, hits.toLong * 1000000L / nEx)
    }
    // a registry query returns a row set: compare in dims order
    val got = Similarity.qMatryoshka(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(got === expected)
  }
}
