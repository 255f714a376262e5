package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{dec2, dec4, dec6, TextFunctions => TF}
import graft.sources.Tables._

/** Relational / OLAP query surface (SURVEY.md §2 B1–B11).
  *
  * Scale posture: fact tables (lineitem, orders, events) are only ever
  * scanned, filtered, joined on their keys or window-partitioned; dims
  * (region/nation/customer/supplier) are broadcast explicitly. No
  * crossJoin, no collect. Output ordering is for the correctness dump;
  * Catalyst's EliminateSorts drops it under count-only benchmarks.
  */
object Relational {

  /** B1: pricing summary — scan + filter + hash aggregate (TPC-H Q1 shape). */
  def q1Pricing(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2000-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dec2(sum(col("l_quantity"))).as("sum_qty"),
        dec2(sum(col("l_extendedprice"))).as("sum_base_price"),
        dec2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        dec4(avg(col("l_quantity"))).as("avg_qty"),
        dec4(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** B2: shipping priority — selective join chain + agg + deterministic top-N. */
  def q3Shipping(s: SparkSession, dir: String): DataFrame = {
    val cust = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = orders(s, dir).filter(col("o_orderdate") < lit("1998-06-15"))
    val li   = lineitem(s, dir).filter(col("l_shipdate") > lit("1998-06-15"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(dec2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** B3: regional supplier volume — 5-way join with broadcast dims (TPC-H Q5 shape). */
  def q5Region(s: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      supplier(s, dir)
        .join(nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(region(s, dir).filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("n_name"))
    )
    lineitem(s, dir)
      .join(dims, col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, dir).filter(col("o_orderdate") >= lit("1997-01-01") &&
                                  col("o_orderdate") < lit("1999-01-01")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(dec2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
  }

  /** B4: running total per customer — single shuffle on the window key. */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        dec2(sum(col("o_totalprice")).over(w)).as("running_total"))
  }

  /** B5: top-3 orders per customer by price (Windowed.topNPerKey). */
  def qTopNGroup(s: SparkSession, dir: String): DataFrame =
    Windowed.topNPerKey(orders(s, dir), Seq("o_custkey"),
        order = col("o_totalprice"), tieBreak = col("o_orderkey"), n = 3)
      .select(col("o_custkey"), col("o_orderkey"),
              dec2(col("o_totalprice")).as("totalprice"), col("rn"))

  /** B6: rollup aggregation over returnflag × linestatus. */
  def qRollup(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dec2(sum(col("l_quantity"))).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
  }

  /** B7: distinct counting per group. */
  def qDistinct(s: SparkSession, dir: String): DataFrame = {
    customer(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("c_nationkey")).as("n_nations"),
           count(lit(1)).as("n_customers"),
           dec2(sum(col("c_acctbal"))).as("sum_acctbal"))
  }

  /** The generator's closed event-type vocabulary — shared by B8 pivot
    * and B24 unpivot so the two cannot drift; a type outside this list
    * would be silently dropped by pivot(values), so it is the CONTRACT,
    * not a convenience.
    */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** B8: pivot event_type into per-user count columns (map-side expressible). */
  def qPivot(s: SparkSession, dir: String): DataFrame = {
    val types = eventTypes
    val aggs =
      types.map(t => sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")) :+
        dec2(sum(col("value"))).as("sum_value")
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** B9: as-of join — latest order per user at event time.
    *
    * Spark-first formulation of an operator Spark lacks natively: union
    * both sides tagged, one shuffle on the shared key, then
    * `last(..., ignoreNulls)` over an ordered window carries the most
    * recent order payload forward to each event row. Orders are deduped
    * to one per (custkey, orderdate) first so the as-of pick is
    * deterministic (mirrors DuckDB ASOF JOIN semantics, ts >= orderdate).
    */
  def qAsOf(s: SparkSession, dir: String): DataFrame = {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val ord = orders(s, dir)
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"),
              col("o_orderkey"), col("o_totalprice"))
    Windowed.asOfJoin(
        left = events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        right = ord,
        key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
              col("o_orderkey"), dec2(col("o_totalprice")).as("o_totalprice"))
  }

  /** B9b: the same as-of join through the CUSTOM PHYSICAL OPERATOR
    * (AsOfJoinExec via Windowed.asOfJoinExec) — gate-verified against
    * the identical DuckDB ASOF JOIN oracle as q_asof.
    */
  def qAsOfExec(s: SparkSession, dir: String): DataFrame = {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val ord = orders(s, dir)
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"),
              col("o_orderkey"), col("o_totalprice"))
    Windowed.asOfJoinExec(
        left = events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        right = ord,
        key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
              col("o_orderkey"), dec2(col("o_totalprice")).as("o_totalprice"))
  }

  /** B9c: the G16/G17 optimizer rules driven through the DRIVER gate —
    * a selective filter plus a narrow projection over the custom as-of
    * exec. Without AsOfFilterPushdown the user_id predicate would stop
    * above the node (both scans full); without AsOfColumnPruning the
    * dropped o_totalprice payload would still be scanned, merged, and
    * shuffled. With them the plan is: pruned scans → one exchange +
    * sort per side → merge carrying ONE payload column. The oracle is
    * the same DuckDB ASOF JOIN with the WHERE applied after — proving
    * push-then-join == join-then-filter on real data.
    */
  def qAsOfPruned(s: SparkSession, dir: String): DataFrame = {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val ord = orders(s, dir)
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"),
              col("o_orderkey"), col("o_totalprice"))
    Windowed.asOfJoinExec(
        left = events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        right = ord,
        key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice"))
      .filter(col("user_id") % 10 === 3)
      .select(col("event_id"), col("user_id"), col("o_orderkey"))
  }

  /** Shared B9c/G16/G17 as-of frame: the custom-exec as-of join with
    * the deduped orders side and both payload columns.
    */
  private def asOfExecJoined(s: SparkSession, dir: String): DataFrame = {
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val ord = orders(s, dir)
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"),
              col("o_orderkey"), col("o_totalprice"))
    Windowed.asOfJoinExec(
      left = events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
      right = ord,
      key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
      payload = Seq("o_orderkey", "o_totalprice"))
  }

  /** G16 (query-backed): the custom FILTER-PUSHDOWN optimizer rule
    * machine-checked through the driver gate — the q_skew_plan_bounds
    * literal-flags pattern applied to `AsOfFilterPushdown`: the gate
    * probes the OPTIMIZED plan of the user-shaped query (no Filter may
    * remain parked above the custom as-of node — stock
    * PushPredicateThroughNonJoin stops at unknown nodes, so without
    * the injected rule the flag flips) and the EXECUTED plan (the
    * left-only comparison must reach the events parquet scan as a
    * pushed data filter), then publishes the filtered join's value
    * census. The oracle recomputes the census via DuckDB's ASOF JOIN
    * with the WHERE applied after — push-then-join == join-then-filter
    * — and pins the two plan flags at 1.
    */
  def qAsOfFilterRule(s: SparkSession, dir: String): DataFrame = {
    val lf = asOfExecJoined(s, dir).filter(col("user_id") < 300)
    val noFilterAboveNode = lf.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.child.isInstanceOf[graft.plans.AsOfJoinPlan] => f
    }.isEmpty
    val phys = lf.queryExecution.executedPlan.toString
    val atScan = phys.contains("LessThan(user_id,300)")
    lf.agg(count(lit(1)).as("n_rows"),
           count(col("o_orderkey")).as("n_matched"),
           sum(col("o_orderkey")).as("sum_key"))
      .select(col("n_rows"), col("n_matched"), col("sum_key"),
        lit(if (noFilterAboveNode) 1L else 0L).as("pushed_below_node"),
        lit(if (atScan) 1L else 0L).as("pushed_to_scan"))
  }

  /** G17 (query-backed): the custom COLUMN-PRUNING optimizer rule
    * machine-checked through the driver gate (`AsOfColumnPruning` —
    * stock ColumnPruning stops at the custom node, so a narrow
    * projection of the wide as-of result would still scan every
    * column): the gate probes the optimized plan's as-of NODE (its
    * payload list must have shrunk to the one referenced column) and
    * the executed plan (the dropped o_totalprice must appear NOWHERE —
    * scan, exchange, or merge), then publishes the narrow projection's
    * value census, which the oracle recomputes via the same ASOF JOIN.
    */
  def qAsOfPruneRule(s: SparkSession, dir: String): DataFrame = {
    val narrow = asOfExecJoined(s, dir)
      .select(col("event_id"), col("user_id"), col("o_orderkey"))
    val nodes = narrow.queryExecution.optimizedPlan.collect {
      case a: graft.plans.AsOfJoinPlan => a
    }
    val nodePruned =
      nodes.nonEmpty && nodes.forall(_.payload.map(_.name) == Seq("o_orderkey"))
    val physAbsent =
      !narrow.queryExecution.executedPlan.toString.contains("o_totalprice")
    narrow.agg(count(lit(1)).as("n_rows"),
           count(col("o_orderkey")).as("n_matched"),
           sum(col("o_orderkey")).as("sum_key"))
      .select(col("n_rows"), col("n_matched"), col("sum_key"),
        lit(if (nodePruned) 1L else 0L).as("node_payload_pruned"),
        lit(if (physAbsent) 1L else 0L).as("column_absent_physical"))
  }

  /** G18 (query-backed): the session-wide CARTESIAN ANALYSIS GUARD
    * machine-checked through the driver gate: a naked fact×fact cross
    * join must REFUSE at Dataset construction (the guard's
    * injectCheckRule fires at analysis — no task ever runs; the flag
    * records the refusal with the guard's own message, not a generic
    * error), while the engine's bounded conventions pass — the gate
    * then RUNS a broadcast-hinted cross of a keyed orders slice
    * against the 5-row region dim and publishes its exact census
    * (n_rows = slice×5 plus a region-weighted checksum), which the
    * oracle recomputes from parquet and pins alongside the flags.
    */
  def qCartesianGuard(s: SparkSession, dir: String): DataFrame = {
    val fact = orders(s, dir).select(col("o_orderkey").as("k"))
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    val refused =
      try { fact.crossJoin(fact.select(col("k").as("k2"))); 0L }
      catch { case e: Exception =>
        if (rootMsg(e).contains("cartesian guard")) 1L else 0L }
    val slice = orders(s, dir).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    slice.crossJoin(broadcast(region(s, dir).select(col("r_regionkey"))))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("cents") * (col("r_regionkey") + 1)).as("checksum"))
      .select(col("n_rows"), col("checksum"),
        lit(refused).as("naked_refused"))
  }

  /** B10: sessionization (Windowed.sessionized, 30 min inactivity gap). */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    Windowed.sessionized(events(s, dir), key = "user_id", ts = "ts",
        tieBreak = "event_id", gapUs = 1800L * 1000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"),
           (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"),
           dec2(sum(col("value"))).as("sum_value"))
  }

  /** B12: range join — every error event opens a 1-hour incident window
    * per user; count that user's events inside each window
    * (Windowed.rangeJoin: bucketed equi-join, no nested loop). Inner
    * semantics (every window contains at least its own error event).
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val intervals = events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("user_id"),
              col("ts").as("w_start"),
              timestamp_micros(unix_micros(col("ts")) + hourUs).as("w_end"))
    Windowed.rangeJoin(
        points = events(s, dir).select(col("event_id"), col("user_id"), col("ts"), col("value")),
        intervals = intervals,
        key = "user_id", ts = "ts", start = "w_start", end = "w_end",
        bucketUs = hourUs)
      .groupBy(col("incident_id"))
      .agg(count(lit(1)).as("n_events"), dec2(sum(col("value"))).as("sum_value"))
  }

  /** B13: semi/anti join — customers who ever ordered (EXISTS) but not
    * since 2000 (NOT EXISTS): lapsed customers per segment. LeftSemi/LeftAnti never
    * materialize the probe side's payload: the orders scan is pruned to
    * the join key + pushed date filter, and both joins broadcast the
    * filtered key sets.
    */
  def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val everOrdered = orders(s, dir).select(col("o_custkey"))
    val recent = orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .select(col("o_custkey"))
    customer(s, dir)
      .join(broadcast(everOrdered), col("c_custkey") === everOrdered("o_custkey"), "left_semi")
      .join(broadcast(recent), col("c_custkey") === recent("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_lapsed"), dec2(sum(col("c_acctbal"))).as("sum_acctbal"))
  }

  /** B14: set operations — customer cohorts by year compared with
    * INTERSECT / EXCEPT (distinct set semantics, one hash shuffle per
    * operand pair).
    */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    def cohort(year: Int) = orders(s, dir)
      .filter(col("o_orderdate") >= lit(s"$year-01-01") &&
              col("o_orderdate") < lit(s"${year + 1}-01-01"))
      .select(col("o_custkey"))
    val c97 = cohort(1997); val c98 = cohort(1998)
    // one lazy plan, one action: the three set-op counts run as sibling
    // subtrees of a single job instead of three driver round-trips
    def counted(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("cohort"), col("n"))
    counted("acquired", c98.except(c97))
      .unionAll(counted("churned", c97.except(c98)))
      .unionAll(counted("retained", c97.intersect(c98)))
  }

  /** B15: CUBE aggregation — all grouping-set combinations of
    * returnflag × linestatus in one pass (map-side partials per set).
    */
  def qCube(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dec2(sum(col("l_extendedprice"))).as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_price"))
  }

  /** B16: exact percentiles per group — `percentile` is Spark's exact
    * (sort-based, interpolating) aggregate, the same definition as
    * DuckDB's quantile_cont. Exact quantiles need the full value set
    * per group; the approximate path for 100 TB interactive use is
    * Sketches.percentilePerKey (mergeable Greenwald-Khanna partials,
    * no global sort).
    */
  def qPercentile(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        dec4(expr("percentile(l_extendedprice, 0.5)")).as("p50_price"),
        dec4(expr("percentile(l_extendedprice, 0.9)")).as("p90_price"),
        dec4(expr("percentile(l_quantity, 0.5)")).as("p50_qty"))
  }

  /** B17: correlation / covariance / spread statistics per group —
    * single-pass co-moment aggregates (mergeable partials, one shuffle
    * of constant-size state per group).
    */
  def qCorr(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        dec4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        dec2(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_qty_price"),
        dec4(stddev_samp(col("l_discount"))).as("std_discount"))
  }

  /** B18: nation-pair trade volume (TPC-H Q7 shape) — fact table joined
    * through orders to the customer nation and directly to the supplier
    * nation, both dimension chains broadcast; revenue per ordered
    * nation pair × year for differing nations.
    */
  def q7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val supNation = broadcast(
      supplier(s, dir).join(nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val custNation = broadcast(
      customer(s, dir).join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation")))
    lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("o_orderdate")).cast("long").as("l_year"))
      // exact integer-cents arithmetic: ep·(1-disc) summed as cents ×
      // discount-percent units is order-independent in BOTH engines
      // (unlike a double sum, which can land on a rounding boundary —
      // observed as an off-by-0.01 vs the oracle on this very query),
      // and the single final division is the same double op both sides
      .agg((sum(round(col("l_extendedprice") * 100, 0).cast("long") *
                (lit(100L) - round(col("l_discount") * 100, 0).cast("long")))
              .cast("double") / 10000.0).as("revenue"))
  }

  /** B19: sequential window functions — per-customer order timeline with
    * previous-order gap (LAG) and spend quartile (NTILE). One shuffle on
    * the window key.
    */
  def qLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("long").as("gap_days"),
        ntile(4).over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))).cast("long").as("spend_quartile"))
  }

  /** B20: as-of join with staleness tolerance — the matched order's
    * payload is kept only when it is at most 30 days old at event time
    * (sensor-fusion/feature-store semantics: stale state is no state).
    */
  def qAsOfTolerance(s: SparkSession, dir: String): DataFrame = {
    val tolUs = 30L * 86400L * 1000000L
    val dedupW = Window.partitionBy(col("o_custkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey").desc)
    val ord = orders(s, dir)
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"),
              col("o_orderkey"), col("o_totalprice"))
    // o_orderdate round-trips through the as-of payload struct as
    // TIMESTAMP_NTZ; unix_micros needs TIMESTAMP (the session is UTC, so
    // the cast is a no-op on the instant)
    val fresh = unix_micros(col("ts")) -
      unix_micros(col("o_orderdate").cast("timestamp")) <= tolUs
    Windowed.asOfJoin(
        left = events(s, dir).select(col("event_id"), col("user_id"), col("ts")),
        right = ord,
        key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        payload = Seq("o_orderkey", "o_totalprice", "o_orderdate"))
      .select(col("event_id"), col("user_id"),
              when(fresh, col("o_orderkey")).as("o_orderkey"),
              when(fresh, dec2(col("o_totalprice"))).as("o_totalprice"))
  }

  /** B21: salted aggregation on a skewed key (Skew.saltedSumCount) —
    * event_type has 5 hot values at any scale, so the direct hash
    * aggregate funnels into 5 reducers; salting spreads the wide
    * shuffle uniformly and reduces the tiny salted partials. The result
    * is provably identical to the direct aggregate (associative sums).
    */
  def qSkewAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedSumCount(
        events(s, dir).select(col("event_type"), col("value")),
        keys = Seq("event_type"), valueCol = "value")
      .select(col("event_type"), dec2(col("sum_value")).as("sum_value"), col("n"))

  /** B22: ordered string aggregation — the top-5 account balances per
    * market segment as a comma-joined custkey list (LISTAGG/string_agg
    * semantics). collect_list alone is partition-order-nondeterministic,
    * so elements carry their rank and sort_array restores a total order
    * before joining.
    */
  def qStringAgg(s: SparkSession, dir: String): DataFrame = {
    val top = Windowed.topNPerKey(customer(s, dir), Seq("c_mktsegment"),
      order = col("c_acctbal"), tieBreak = col("c_custkey"), n = 5)
    top
      .groupBy(col("c_mktsegment"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("rn"), col("c_custkey")))),
          x => x.getField("c_custkey").cast("string")),
        ",").as("top5_custkeys"))
  }

  /** B23: full outer join — per-nation customer vs supplier presence,
    * including nations with only one side (dimension-sized inputs, so
    * both aggregates broadcast into the join).
    */
  def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_customers"))
    val p = supplier(s, dir).groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(p, Seq("nk"), "full_outer")
      .select(col("nk").as("nationkey"),
              coalesce(col("n_customers"), lit(0L)).as("n_customers"),
              coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
  }

  /** B24: unpivot/melt — the per-user event-type counts turned back
    * into (user_id, event_type, n) rows via stack (the inverse of B8's
    * pivot; map-side, no shuffle beyond the source aggregate).
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val types = eventTypes
    val wide = events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types.map(t => t: Any))
      .agg(count(lit(1)))
      .na.fill(0L, types)
    wide.select(col("user_id"),
        expr(s"stack(${types.length}, " +
          types.map(t => s"'$t', `$t`").mkString(", ") + ") AS (event_type, n)"))
      .filter(col("n") > 0)
  }

  /** B25: deterministic sampling — an md5-keyed 5% sample (the
    * engine-portable way to sample reproducibly at 100 TB: no RNG
    * state, any engine computes the same subset) aggregated per flag.
    */
  def qSample(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir)
      .filter(TF.hexPrefix52(concat_ws("|",
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))) % 100 < 5)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dec2(sum(col("l_extendedprice"))).as("sum_price"))
  }

  /** B26: histogram — fixed-width binning of order totals (width 50k),
    * one hash aggregate; integer bin arithmetic is engine-exact.
    */
  def qHistogram(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir)
      .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), dec2(min(col("o_totalprice"))).as("lo"),
           dec2(max(col("o_totalprice"))).as("hi"))
  }

  /** B27: customer order-count distribution (TPC-H Q13 shape) — LEFT
    * OUTER join so zero-order customers count, then a second aggregate
    * over the per-customer counts. Both aggregates shuffle keys whose
    * cardinality collapses after the first partial.
    */
  def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    val perCust = customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** B28: large-volume orders (TPC-H Q18 shape) — a HAVING aggregate
    * over lineitem feeds a semi-join filter on orders: the IN-subquery
    * family, planned as one shuffle per aggregate plus a broadcast
    * semi-join on the tiny qualifying key set.
    */
  def q18TopOrders(s: SparkSession, dir: String): DataFrame = {
    val big = lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300)
      .select(col("l_orderkey"), col("sum_qty"))
    orders(s, dir)
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
              dec2(col("o_totalprice")).as("o_totalprice"),
              dec2(col("sum_qty")).as("sum_qty"))
  }

  /** B29: exact distinct users per event type through the SALTED dedup
    * shuffle (Skew.saltedCountDistinct) — the hot-key-safe form of
    * COUNT(DISTINCT): the dedup shuffle keys on (type, user, salt), so
    * one dominant type cannot funnel into one reducer.
    */
  def qSkewDistinct(s: SparkSession, dir: String): DataFrame =
    Skew.saltedCountDistinct(
        events(s, dir).select(col("event_type"), col("user_id")),
        keys = Seq("event_type"), valueCol = "user_id")
      .select(col("event_type"), col("n_distinct_user_id"))

  /** Row count for the B57/B58 Zipf fixture — bounded by the DuckDB
    * oracle's md5 replay cost at the gate, not by Spark.
    */
  private val zipfRows = 500000L

  /** B57: the SALTED distinct count on GENUINELY skewed data —
    * [[graft.sources.Synthetic.zipfEvents]] gives user 1 ~50% of all
    * rows (the parquet testdata's user_id is uniform, so B29 never
    * faced real skew). Twin of [[qZipfDistinctDirect]]: same rows, same
    * oracle — the gate proves salted == direct == ground truth under a
    * Zipf(2) hot key, and the bench carries both lines so the cost of
    * the salted layout is auditable round-over-round. Measured finding
    * (SURVEY §6): Spark's two-phase distinct rewrite already dedups on
    * the uniform (key, value) pair, so salting is insurance for
    * engines/plans without that rewrite, not a local win.
    */
  def qZipfDistinct(s: SparkSession, dir: String): DataFrame =
    Skew.saltedCountDistinct(
        graft.sources.Synthetic.zipfEventsPinned(s, zipfRows),
        keys = Seq("user_id"), valueCol = "v")
      .select(col("user_id"), col("n_distinct_v"))

  /** B58: the direct COUNT(DISTINCT) twin of [[qZipfDistinct]] on the
    * same Zipf fixture — Catalyst's planAggregateWithOneDistinct keys
    * the dedup exchange on (user_id, v), which is uniform even when
    * user_id is not.
    */
  def qZipfDistinctDirect(s: SparkSession, dir: String): DataFrame =
    graft.sources.Synthetic.zipfEventsPinned(s, zipfRows)
      .groupBy(col("user_id"))
      .agg(countDistinct(col("v")).as("n_distinct_v"))

  /** Per-user digest of a running-sum frame that PROVES every
    * intermediate prefix value: `total` = last running (values are
    * non-negative), and `sum_running` = Σᵢ (n−i+1)·vᵢ — order-
    * sensitive, so a single transposed or mis-offset prefix anywhere
    * changes it. Keeps the gate result at #keys rows instead of #rows,
    * and forces full window computation under the bench's count()
    * (a bare window column would be pruned).
    */
  private def runningDigest(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("running")).as("total"),
           sum(col("running")).as("sum_running"))

  /** B59: skew-proof RUNNING aggregate (two-phase distributed scan,
    * Skew.rangePartitionedRunningSum) on the Zipf fixture — the plan
    * shape a hot key GENUINELY breaks (§6): the direct window ships
    * every hot-key row to one reducer for a single-threaded sort+scan,
    * and neither WindowGroupLimit (all rows are output) nor salting
    * (prefix sums are order-defined) applies. HONEST cost accounting
    * (the r11 crossover at 8M and 64M rows recorded in SURVEY §6):
    * charged its full cost the two-phase form LOSES to the direct
    * window at both decades on
    * local[32] — it is the structural answer ONLY when one key's rows
    * exceed a single task, which no single machine can demonstrate.
    * That structural property is therefore machine-checked by
    * [[qSkewPlanBounds]] (B59b) instead of benchmarked. Twin of
    * [[qRunningSkewWindow]] under the same oracle.
    */
  def qRunningSkew(s: SparkSession, dir: String): DataFrame =
    runningDigest(Skew.rangePartitionedRunningSum(
      graft.sources.Synthetic.zipfEventsPinned(s, zipfRows),
      key = "user_id", orderCol = "event_id", valueCol = "v"))

  /** B59b (query-backed): the §6 running-sum trade MACHINE-CHECKED —
    * local[32] cannot honestly demonstrate a hot key exceeding one
    * task, so the gate pins the LAYOUT facts the trade rests on
    * instead of wall-clock: under the direct window's exchange
    * (hash-partition by user_id) the hot key's rows all land in ONE
    * task, so the max task input is at least the hot count
    * (`direct_hot_one_task`); under the two-phase form's range
    * partitioner on (key, order) the max task input stays within 4×
    * rows/partitions regardless of skew (`two_phase_bounded` — the
    * hot key SPLITS across tasks on the order axis), leaving the
    * worst range task ≥4× smaller than the hot key (`separation_4x`).
    * Both layouts are probed with a per-partition count over the SAME
    * exchanges the two B59/B60 plans schedule. The oracle recomputes
    * n_rows and the exact hot count from the md5 fixture and pins the
    * three flags — a partitioner change that silently re-concentrates
    * the hot key fails the hash.
    */
  def qSkewPlanBounds(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val nParts = 32
    val e = graft.sources.Synthetic.zipfEventsPinned(s, zipfRows)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"), col("v").cast("long").as("v"))
    val sizeSchema = StructType(Seq(StructField("n", LongType, nullable = false)))
    def maxPartSize(df: DataFrame): Long =
      df.mapPartitions { it =>
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }
        Iterator(org.apache.spark.sql.Row(n))
      }(org.apache.spark.sql.Encoders.row(sizeSchema))
        .agg(max(col("n"))).collect()(0).getLong(0)
    val directMax = maxPartSize(e.repartition(nParts, col("user_id")))
    val rangeMax = maxPartSize(
      e.repartitionByRange(nParts, col("user_id"), col("event_id")))
    val hotCnt = e.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .agg(max(col("cnt"))).collect()(0).getLong(0)
    s.range(1).select(
      lit(zipfRows).as("n_rows"),
      lit(hotCnt).as("hot_cnt"),
      lit(nParts.toLong).as("n_parts"),
      lit(if (directMax >= hotCnt) 1L else 0L).as("direct_hot_one_task"),
      lit(if (rangeMax <= 4L * zipfRows / nParts) 1L else 0L)
        .as("two_phase_bounded"),
      lit(if (rangeMax * 4L <= hotCnt) 1L else 0L).as("separation_4x"))
  }

  /** B60: the direct per-key window twin of [[qRunningSkew]] — the
    * hot-reducer baseline, benched round-over-round next to the
    * two-phase form.
    */
  def qRunningSkewWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    runningDigest(graft.sources.Synthetic.zipfEventsPinned(s, zipfRows)
      .select(col("user_id"), col("event_id"), col("v"),
              sum(col("v")).over(w).as("running")))
  }

  /** B61: EXACT per-key median on the skewed key, cardinality-bounded —
    * the third genuinely-skew-vulnerable plan from §6 (exact percentile
    * buffers raw values per key). Two-level form: (key, value)
    * histogram first — that shuffle keys on the UNIFORM pair and
    * map-side combines duplicates — then the per-key cumulative window
    * runs over DISTINCT VALUES only, so the hot reducer's input is
    * bounded by value cardinality, not row count (100k here vs 250k hot
    * rows; at 100 TB: |domain| vs billions). Lower-median contract,
    * rank (n+1) div 2, all-integer — hash-exact. For continuous
    * (all-distinct) values this degenerates and the scale answer is the
    * B51 sketch, not this.
    */
  def qMedianSkew(s: SparkSession, dir: String): DataFrame = {
    val hist = graft.sources.Synthetic.zipfEventsPinned(s, zipfRows)
      .groupBy(col("user_id"), col("v")).agg(count(lit(1)).as("cnt"))
    val byVal = Window.partitionBy(col("user_id")).orderBy(col("v"))
    val whole = Window.partitionBy(col("user_id"))
    val rank = expr("(n + 1) div 2") // integral division (Column./ is float)
    hist
      .withColumn("cum", sum(col("cnt")).over(byVal))
      .withColumn("n", sum(col("cnt")).over(whole))
      .filter(col("cum") >= rank && col("cum") - col("cnt") < rank)
      .select(col("user_id"), col("v").as("median_v"), col("n"))
  }

  /** B62: heavy-hitters CONTRACT on the Zipf fixture — the B51/B56
    * idiom for frequent items: the native `graft_mg` Misra–Gries
    * aggregate (functions/expressions/MisraGries.scala) compresses the
    * 500k-row stream into ≤64 counters with the deterministic guarantee
    * true − N/(k+1) ≤ est ≤ true, every key above N/65 present. The
    * query checks the top-5 TRUE heavy keys (exact aggregate, unique
    * (count desc, key) order) against the sketch: found + both bounds,
    * all deterministically 1 by the MG theorem regardless of partition
    * layout or merge order — which is exactly what makes the sketch
    * safe at 100 TB, where the exact groupBy is a full shuffle but the
    * sketch is one ≤64-entry map per task merged in a 1-row aggregate.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Synthetic.zipfEventsPinned(s, zipfRows)
    val bound = zipfRows / 65L // floor(N/(k+1)) with k = 64
    val sk = e.agg(expr("graft_mg(user_id, 64)").as("mg"))
    val exact = e.groupBy(col("user_id")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("user_id")).limit(5)
    val est = coalesce(try_element_at(col("mg"), col("user_id")), lit(0L))
    exact.crossJoin(broadcast(sk))
      .select(col("user_id"), col("true_cnt"),
        map_contains_key(col("mg"), col("user_id")).cast("int").as("found"),
        (est <= col("true_cnt") && est >= col("true_cnt") - lit(bound))
          .cast("int").as("bounds_ok"))
  }

  /** B71: Count-Min frequency estimates under the B51/B62
    * sketch-vs-exact contract, on the SAME genuinely-skewed Zipf
    * fixture as B62: build one `graft_cms(user_id, 4, 2048)` grid
    * (native mergeable aggregate, constant task memory), then probe it
    * for the top-5 true heavy keys with PURE BUILTIN SQL —
    * `least(element_at(cms, d·w + pmod(xxhash64(user_id, d), w) + 1))`
    * — no UDF anywhere on the probe path. Flags: `over_ok` is CMS's
    * deterministic one-sided guarantee (est ≥ true, always); `bound_ok`
    * gates the overshoot at 4·N/width, ~4× the expected colliding mass
    * per row (deterministic here: fixed hashes, fixed fixture).
    */
  def qCmsFreq(s: SparkSession, dir: String): DataFrame = {
    val e = graft.sources.Synthetic.zipfEventsPinned(s, zipfRows)
    val depth = 4
    val width = 2048
    val sk = e.agg(expr(s"graft_cms(user_id, $depth, $width)").as("cms"))
    val exact = e.groupBy(col("user_id")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("user_id")).limit(5)
    val est = least((0 until depth).map(d =>
      element_at(col("cms"),
        (lit(d * width) +
          pmod(xxhash64(col("user_id"), lit(d.toLong)), lit(width)) +
          lit(1)).cast("int"))): _*)
    val slack = 4L * zipfRows / width
    exact.crossJoin(broadcast(sk))
      .select(col("user_id"), col("true_cnt"),
        (est >= col("true_cnt")).cast("int").as("over_ok"),
        (est <= col("true_cnt") + lit(slack)).cast("int").as("bound_ok"))
  }

  /** B63: the ranking-function window family — percent_rank,
    * cume_dist and nth_value (3rd-lowest value so far) per event-type
    * partition, ordered by the UNIQUE (value, event_id) key so every
    * rank is deterministic cross-engine (ties on value alone would
    * make nth_value engine-dependent). One shuffle on the window key;
    * the fractions are exact integer ratios evaluated in fixed order,
    * so dec6 is noise-free. Skew caveat (§6): event_type has few
    * distinct values, so each window partition is one reducer — the
    * B59 two-phase range-partitioned scan is the answer when a single
    * type outgrows a task, and cume_dist/nth_value specifically can be
    * rebuilt from the B61 (key, value)-histogram shape; this query
    * documents the DIRECT family semantics those rewrites must match.
    */
  def qRankFns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    events(s, dir)
      .select(col("event_type"), col("event_id"),
        dec6(percent_rank().over(w)).as("pct_rank"),
        dec6(cume_dist().over(w)).as("cume"),
        dec2(nth_value(col("value"), 3).over(w)).as("third_low"))
  }

  /** B30: RANGE-frame window — each order's trailing 30-day same-
    * customer order count and spend (a time-range frame, not a row
    * frame: peers enter by VALUE distance on the epoch-day axis). One
    * shuffle on the window key.
    */
  def qRangeWindow(s: SparkSession, dir: String): DataFrame = {
    val days = datediff(col("o_orderdate").cast("date"), lit("1990-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(days)
      .rangeBetween(-30, 0)
    orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
              count(lit(1)).over(w).as("n_30d"),
              dec2(sum(col("o_totalprice")).over(w)).as("spend_30d"))
      .select(col("o_custkey"), col("o_orderkey"), col("n_30d"), col("spend_30d"))
  }

  /** B31: time-series resample — 15-minute OHLC bars per event type
    * (open/close picked by deterministic (ts, event_id) endpoints via
    * ranked windows, high/low/volume as plain aggregates). One shuffle
    * on the (bucket, type) key.
    */
  def qOhlc(s: SparkSession, dir: String): DataFrame = {
    val bucket = timestamp_micros(
      (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(900000000L))))
    val base = events(s, dir).select(
      bucket.as("bucket"), col("event_type"), col("ts"), col("event_id"), col("value"))
    val wAsc = Window.partitionBy(col("bucket"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(col("bucket"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    base
      .withColumn("rna", row_number().over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .groupBy(col("bucket"), col("event_type"))
      .agg(
        dec2(max(when(col("rna") === 1, col("value")))).as("open"),
        dec2(max(col("value"))).as("high"),
        dec2(min(col("value"))).as("low"),
        dec2(max(when(col("rnd") === 1, col("value")))).as("close"),
        count(lit(1)).as("n"))
  }

  /** B11: tumbling 1-hour window aggregate over the event stream (batch twin of F1). */
  def qTumbling(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dec2(sum(col("value"))).as("sum_value"))
  }

  /** B32: revenue-change forecast (TPC-H Q6 shape) — THE pushdown
    * showcase: every predicate (date range, discount band, quantity cap)
    * reaches the parquet scan, the aggregate is one partial-combined
    * scalar; zero shuffle beyond the 1-row exchange.
    */
  def q6Forecast(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1998-01-01") &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(dec2(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"))

  /** B33: returned-item reporting (TPC-H Q10 shape) — fact-fact join on
    * the order key, customer×nation dims broadcast, deterministic top-20
    * on (rounded revenue desc, custkey).
    */
  def q10Returns(s: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      customer(s, dir)
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name")))
    lineitem(s, dir).filter(col("l_returnflag") === "R")
      .join(orders(s, dir).filter(col("o_orderdate") >= lit("1997-07-01") &&
                                  col("o_orderdate") < lit("1997-10-01")),
            col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dec2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** B34: promotion revenue share (TPC-H Q14 shape). Each sum is rounded
    * to cents BEFORE the division — raw double sums drift by ulps with
    * partial-aggregation order (run-to-run and engine-to-engine), and a
    * ratio of two drifting sums could flip the final 4dp rounding; two
    * stable operands make the quotient bit-deterministic.
    */
  def q14Promo(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01") &&
              col("l_shipdate") < lit("1997-10-01"))
      .join(broadcast(part(s, dir).select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
      .agg(
        dec2(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))).as("promo"),
        dec2(sum(rev)).as("total"))
      .select(dec4(lit(100.0) * col("promo") / col("total")).as("promo_revenue_pct"))
  }

  /** B36: supplier-count by part attributes (TPC-H Q16 shape, adapted:
    * no partsupp table ships, so supplier×part pairs come from observed
    * lineitem rows). Distinct aggregation after a broadcast part join;
    * the corpus shuffles once on the group key.
    */
  def q16SuppCnt(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(
      part(s, dir)
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
                col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
    lineitem(s, dir)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** B35: disjunctive predicate join (TPC-H Q19 shape) — three OR'd
    * brand/size/quantity bands; the part side is broadcast and the OR
    * chain stays inside one codegen'd filter (no union-of-scans).
    */
  def q19Disjunct(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
      .join(broadcast(part(s, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))),
            col("l_partkey") === col("p_partkey"))
    val bands =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.filter(bands)
      .agg(dec2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
  }

  /** B37: distribution windows — ntile quartiles, percent_rank and
    * cume_dist over per-customer spend, WITHOUT the single-partition
    * global window those functions naively need (the q_rank_norm
    * lesson): GK-sketch bucket boundaries + per-bucket partitioned
    * row_numbers + exact bucket offsets give the exact global rank,
    * and because the order key (cents-rounded spend, custkey) is
    * UNIQUE, every SQL distribution function is a closed form of that
    * rank — ntile by the remainder formula, percent_rank (r−1)/(n−1),
    * cume_dist r/n. Plans contain no unpartitioned window at any
    * scale.
    */
  def qNtile(s: SparkSession, dir: String): DataFrame = {
    val nBuckets = 32
    val nTiles = 4
    val spend = orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(dec2(sum(col("o_totalprice"))).as("spend"))
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val bounds = graft.operators.Sketches.quantiles(spend, "spend", probs).distinct.sorted
    val bucket = bounds
      .foldLeft(lit(0))((acc, b) => acc + (col("spend") > lit(b)).cast("int"))
      .as("__bkt")
    val bucketed = spend.select(col("o_custkey"), col("spend"), bucket)
    val counts = bucketed.groupBy(col("__bkt")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    val offsets = Array.tabulate(bounds.length + 1)(b =>
      (0 until b).map(counts.getOrElse(_, 0L)).sum)
    val w = Window.partitionBy(col("__bkt")).orderBy(col("spend"), col("o_custkey"))
    // NTILE(t) over n rows: the first n%t tiles take ceil(n/t) rows
    val q = n / nTiles; val rem = n % nTiles
    val r1 = (row_number().over(w) + element_at(lit(offsets), col("__bkt") + 1))
      .cast("long") // 1-based exact global rank
    val r0 = r1 - 1
    val quartile =
      if (q == 0) r1 // degenerate n < t: one row per tile, NTILE = rank
      else when(r0 < rem * (q + 1), floor(r0 / lit((q + 1).toDouble)))
        .otherwise(lit(rem) + floor((r0 - rem * (q + 1)) / lit(q.toDouble))) + 1
    bucketed.select(
      col("o_custkey"), col("spend"),
      quartile.cast("long").as("quartile"),
      dec4(r0.cast("double") / lit((n - 1).toDouble)).as("pct_rank"),
      dec4(r1.cast("double") / lit(n.toDouble)).as("cume"))
  }

  /** B38: explicit GROUPING SETS — the arbitrary-combination form that
    * rollup (B6) and cube (B15) can't express: (flag, status), (flag),
    * and grand total, with grouping_id disambiguating NULL-as-data from
    * NULL-as-aggregated. SQL-expressed (the Dataset API only surfaces
    * rollup/cube); one shuffle, partial aggregation per set.
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("graft_li_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id() AS BIGINT) AS gid,
        |  CAST(ROUND(SUM(l_quantity), 2) AS DECIMAL(18,2)) AS sum_qty,
        |  COUNT(*) AS n
        |FROM graft_li_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin)
      .selectExpr("l_returnflag", "l_linestatus", "gid",
        "CAST(sum_qty AS DOUBLE) AS sum_qty", "n")
  }

  /** B39: time-series gap fill + forward fill — the feature-store
    * "carry last observation forward" primitive: per-user daily sums
    * densified onto the observed calendar (users × distinct days — a
    * broadcast of the tiny day dim), gaps NULL, then
    * last-non-null-carried-forward via an IGNORE NULLS running window.
    * The window partitions by user — parallel at any scale; leading
    * gaps before a user's first observation stay NULL (no lookback
    * into other users).
    */
  def qFfill(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(dec2(sum(col("value"))).as("day_sum"))
    val cal = daily.select(col("user_id")).distinct()
      .crossJoin(broadcast(daily.select(col("day")).distinct()))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(
        col("user_id"), col("day"),
        last(col("day_sum"), ignoreNulls = true).over(w).as("filled_sum"),
        col("day_sum").isNull.cast("int").as("is_gap"))
  }

  /** B40: rows-frame moving average — 3-order trailing mean per
    * customer. A float `avg` over the frame is NOT oracle-safe here:
    * a 3-value mean lands exactly on half-cent boundaries often enough
    * (~50 flips per 15k rows observed) that engine summation order
    * flips the rounding — so the frame sums EXACT CENTS (the money
    * columns' integer form) and derives the mean with one fixed float
    * sequence both engines replicate bit-for-bit.
    */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    // mean cents can be an EXACT x.5 (n=2) — a true binary tie both
    // engines round half-away identically; rounding the /100 quotient
    // directly instead would tie on a non-representable x.xx5 where
    // Spark (shortest-string HALF_UP) and DuckDB (binary) disagree
    val meanCents = round(sum(cents).over(w).cast("double") / count(lit(1)).over(w), 0)
    orders(s, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        dec2(meanCents / lit(100.0)).as("ma3"))
  }

  /** Exact per-line revenue in 10^-4-dollar units: money columns carry
    * exactly 2 decimals and discounts are whole percents, so
    * cents × (100 − pct) is an integer — sums are order-independent
    * and engine-identical, unlike float `price*(1-discount)` sums.
    */
  private def revE4: Column =
    round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))

  /** B41: order-priority checking (TPC-H Q4 shape, adapted: no
    * commit/receipt dates ship, so "late" = any lineitem shipped more
    * than 60 days after the order date). The EXISTS is a LEFT SEMI
    * join on the order key with the lateness residual — one shuffle
    * on the key, lineitem never aggregated, duplicates never built.
    */
  def q4OrderPrio(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-07-01") &&
              col("o_orderdate") < lit("1997-10-01"))
    ord.join(lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate")),
             col("o_orderkey") === col("l_orderkey") &&
               col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
             "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** B42: priority line counts (TPC-H Q12 shape, adapted: no shipmode
    * column ships, so the group key is l_returnflag). Fact-fact equi
    * join + conditional CASE sums; the only shuffles are the join key
    * and the 3-group aggregate.
    */
  def q12Priority(s: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1998-01-01"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** B43: small-quantity revenue (TPC-H Q17 shape). The correlated
    * `l_quantity < 0.2 * avg(per-part quantity)` is decided in EXACT
    * integer algebra — quantities are whole numbers, so
    * `5·q·cnt < sum` is the same predicate with no float threshold
    * that could flip with aggregation order. Per-part stats are
    * dim-scale (one row per brand part) and broadcast back.
    */
  def q17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val parts = broadcast(
      part(s, dir).filter(col("p_brand") === "Brand#23").select(col("p_partkey")))
    val li = lineitem(s, dir).join(parts, col("l_partkey") === col("p_partkey"))
    val stats = broadcast(
      li.groupBy(col("p_partkey").as("sp_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty_sum"),
             count(lit(1)).as("qty_cnt")))
    // avg_yearly = sum(price)/7; cents(sum)/7 never lands on a .5 tie
    // (c/7 has fractional part k/7), so the integer rounding is exact
    li.join(stats, col("p_partkey") === col("sp_partkey"))
      .filter(col("l_quantity").cast("long") * 5 * col("qty_cnt") < col("qty_sum"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev_cents"))
      .select(dec2(round(col("rev_cents").cast("double") / 7.0, 0) / 100.0).as("avg_yearly"))
  }

  /** B44: dormant high-balance customers (TPC-H Q22 shape, adapted:
    * no phone column ships, so the "country code" group key is
    * c_nationkey). The positive-balance average is a 1-row broadcast
    * aggregate (never a driver scalar), and the above-average test is
    * exact integer algebra on cents (`bal·cnt > sum`); "dormant" =
    * no order since 2000-01-01 (every synthetic customer has SOME
    * order, so the literal Q22 "no orders at all" is vacuous here),
    * realized as a LEFT ANTI join against the filtered order fact.
    */
  def q22Balance(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("c_acctbal") * 100, 0).cast("long")
    val cust = customer(s, dir)
    val stats = broadcast(
      cust.filter(col("c_acctbal") > 0)
        .agg(sum(cents).as("bal_cents"), count(lit(1)).as("bal_cnt")))
    cust.crossJoin(stats)
      .filter(cents * col("bal_cnt") > col("bal_cents"))
      .join(orders(s, dir).filter(col("o_orderdate") >= lit("2000-01-01"))
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), dec2(sum(col("c_acctbal"))).as("totacctbal"))
  }

  /** B45: top supplier by quarterly revenue (TPC-H Q15 shape). Revenue
    * accumulates in exact 10^-4-dollar integers so the global max and
    * its ties are engine-identical (a float max could disagree by one
    * ulp and drop a tying supplier); the max is a 1-row broadcast
    * aggregate crossed back, never a driver scalar or global sort.
    */
  def q15TopSupp(s: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revE4).as("rev_e4"))
    val top = broadcast(rev.agg(max(col("rev_e4")).as("max_e4")))
    rev.crossJoin(top).filter(col("rev_e4") === col("max_e4"))
      .join(broadcast(supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
              dec2(round(col("rev_e4").cast("double") / 100.0, 0) / 100.0).as("total_revenue"))
  }

  /** B46: national market share (TPC-H Q8 shape): NATION_3's share of
    * ASIA-customer revenue per order year. Customer-region and
    * supplier-nation dim chains both broadcast; numerator and
    * denominator are exact integer sums, so the published ratio is a
    * division of two engine-identical integers.
    */
  def q8Share(s: SparkSession, dir: String): DataFrame = {
    val asiaCust = broadcast(
      customer(s, dir)
        .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(region(s, dir).filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey")))
    val suppNation = broadcast(
      supplier(s, dir)
        .join(nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    lineitem(s, dir)
      .join(orders(s, dir)
              .filter(col("o_orderdate") >= lit("1996-01-01") &&
                      col("o_orderdate") < lit("1998-01-01"))
              .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_3", revE4).otherwise(0L)).as("nation_e4"),
           sum(revE4).as("total_e4"))
      .select(col("o_year"),
              dec4(col("nation_e4").cast("double") / col("total_e4")).as("mkt_share"))
  }

  /** B47: suppliers who kept orders waiting (TPC-H Q21 shape, adapted
    * to shipped columns: in each multi-supplier order, blame the
    * supplier holding the UNIQUE latest ship date; orders whose max is
    * shared across suppliers are skipped). Two aggregates over the
    * same order key — Catalyst reuses the exchange — then a broadcast
    * name join; no correlated per-row subqueries survive into the plan.
    */
  def q21Waiting(s: SparkSession, dir: String): DataFrame = {
    // r15: probed a pin+repartition("l_orderkey") rewrite here — it
    // measured NEUTRAL-to-negative (2.10s → 2.3-3.0s solo): AQE stage
    // reuse already dedupes the identical orderkey exchanges at
    // runtime, so the pin only added a materialization barrier. Kept
    // as-is deliberately.
    val li = lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val ostats = li.groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("max_ship"),
           countDistinct(col("l_suppkey")).as("nsupp"))
      .filter(col("nsupp") >= 2)
    val blame = li.join(ostats, Seq("l_orderkey"))
      .filter(col("l_shipdate") === col("max_ship"))
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("maxsupp"),
           min(col("l_suppkey")).as("blame_supp"))
      .filter(col("maxsupp") === 1)
    blame
      .join(broadcast(supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
            col("blame_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** B48: percent-of-total (ratio_to_report semantics) — each order
    * priority's share of total order value. The naive form is
    * `sum(x) OVER ()` — a single-partition window over the whole
    * aggregate; here the total is a 1-row broadcast aggregate crossed
    * back (the q_rank_norm rule), and both operands are exact cent
    * integers so the shares are engine-identical quotients.
    */
  def qPctTotal(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val g = orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(sum(cents).as("cents"))
    val t = broadcast(g.agg(sum(col("cents")).as("total")))
    g.crossJoin(t)
      .select(col("o_orderpriority"),
              dec2(col("cents").cast("double") / 100.0).as("revenue"),
              dec4(col("cents").cast("double") / col("total")).as("share"))
  }

  /** B49: cohort retention matrix — users bucketed by first-active
    * day, distinct-user counts per (cohort, activity day) — the events
    * table spans one month, so day is the meaningful grain. Two
    * aggregates keyed on user_id (Catalyst reuses the exchange) then
    * one (cohort, month) aggregate; the classic product-analytics
    * shape with no window at all.
    */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    val m = events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("m"))
      .distinct()
    val c = m.groupBy(col("user_id")).agg(min(col("m")).as("cohort"))
    m.join(c, "user_id")
      .groupBy(col("cohort"), col("m").as("active_day"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** B50: conversion funnel (view → click → purchase, order enforced by
    * FIRST-occurrence timestamps) — per-user conditional MIN aggregates,
    * one user-keyed shuffle, no window, no self-join chain (the naive
    * funnel is a 3-way self-join that explodes at scale).
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    def firstTs(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    val perUser = events(s, dir)
      .groupBy(col("user_id"))
      .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(col("t_view").isNotNull.cast("long")).as("n_view"),
      sum((col("t_view").isNotNull && col("t_click") > col("t_view"))
        .cast("long")).as("n_view_click"),
      sum((col("t_view").isNotNull && col("t_click") > col("t_view") &&
           col("t_purchase") > col("t_click")).cast("long")).as("n_full_funnel"))
  }

  /** B104: marketing touch attribution over the event stream — the
    * "which touch gets credit for the purchase" query every growth
    * team runs, in its two classic models side by side: LAST-touch
    * (most recent click/view in a 7-day lookback) and FIRST-touch
    * (earliest click/view ever before the purchase). Pure window
    * machinery: per-user (ts, event_id)-ordered frames with
    * IGNORE-NULLS first/last over the preceding rows — one user-key
    * shuffle, no self-join, no fact×fact anything; purchases outside
    * the lookback (or with no prior touch) land in the audited 'none'
    * bucket. Published: per (model, touch_type) purchase counts plus
    * the exact summed last-touch gap (µs) for latency-to-convert
    * analysis. At 100 TB: the one shuffle is the sessionization
    * shuffle (B10), windows are per-user bounded.
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val lookbackUs = 7L * 24 * 3600 * 1000000L
    val isTouch = col("event_type").isin("click", "view")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = struct(col("ts"), col("event_id"), col("event_type"))
    val marked = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("lt", last(when(isTouch, touch), ignoreNulls = true).over(w))
      .withColumn("ft", first(when(isTouch, touch), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us",
        expr("unix_micros(ts) - unix_micros(lt.ts)"))
      .withColumn("last_type",
        when(col("lt").isNull || col("gap_us") > lookbackUs, "none")
          .otherwise(col("lt.event_type")))
      .withColumn("first_type",
        coalesce(col("ft.event_type"), lit("none")))
    val lastAgg = marked.groupBy(col("last_type").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
           coalesce(sum(when(col("last_type") =!= "none", col("gap_us"))),
             lit(0L)).as("sum_gap_us"))
      .withColumn("model", lit("last"))
    val firstAgg = marked.groupBy(col("first_type").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
           lit(0L).as("sum_gap_us"))
      .withColumn("model", lit("first"))
    lastAgg.unionByName(firstAgg)
      .select(col("model"), col("touch_type"), col("n_purchases"),
              col("sum_gap_us"))
  }

  /** B107: TIME-CONSTRAINED funnel (the deadline form of B50 —
    * conversion only counts if each step lands inside its window:
    * click ≤ 1 h after first view, purchase ≤ 24 h after that click):
    * three user-key aggregate passes, each anchoring the next step's
    * conditional min on the previous anchor (earliest-qualifying
    * chain, the standard greedy funnel semantics), deadlines compared
    * in exact epoch-µs integers. Publishes per-stage user counts and
    * the exact summed view→purchase latency of full conversions. At
    * 100 TB: three shuffles on the SAME user key (co-partitioned
    * reuse), no self-join, no windows over the fact.
    */
  def qFunnelDeadline(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val dayUs = 24L * hourUs
    val ev = events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("tv"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("t") > col("tv") && col("t") <= col("tv") + hourUs)
      .groupBy(col("user_id"), col("tv")).agg(min(col("t")).as("tc"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("t") > col("tc") && col("t") <= col("tc") + dayUs)
      .groupBy(col("user_id"), col("tv"), col("tc"))
      .agg(min(col("t")).as("tp"))
    v.agg(count(lit(1)).as("n_view")).crossJoin(
        broadcast(c.agg(count(lit(1)).as("n_click_1h"))))
      .crossJoin(broadcast(p.agg(
        count(lit(1)).as("n_purchase_24h"),
        coalesce(sum(col("tp") - col("tv")), lit(0L)).as("sum_latency_us"))))
  }

  /** B108: clamped running balance per part (event-sourced INVENTORY
    * reconstruction — shipments add, returns subtract, stock never
    * goes below zero: bal ← max(0, bal + Δ), the recursion no window
    * function expresses because the clamp makes it non-linear — the
    * same sequential family as B94's CUSUM): events co-partitioned by
    * part and folded IN KEY ORDER inside each partition (repartition +
    * sortWithinPartitions + one pass — per-key sequential work bounded
    * by items-per-part, all keys in parallel), publishing per part the
    * exact final balance, running max, and clamp count. At 100 TB:
    * ONE part-key shuffle, then embarrassingly parallel folds — the
    * standard event-sourcing replay plan.
    */
  def qClampedBalance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("partkey", LongType, nullable = false),
      StructField("n_events", LongType, nullable = false),
      StructField("final_bal", LongType, nullable = false),
      StructField("max_bal", LongType, nullable = false),
      StructField("n_clamps", LongType, nullable = false)))
    lineitem(s, dir)
      .select(col("l_partkey").as("pk"), col("l_shipdate").as("d"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        (col("l_quantity").cast("long") *
          when(col("l_returnflag") === "R", -1L).otherwise(1L)).as("delta"))
      .repartition(col("pk"))
      .sortWithinPartitions(col("pk"), col("d"), col("ok"), col("ln"))
      .mapPartitions { it =>
        var pk = Long.MinValue
        var bal = 0L; var mx = 0L; var clamps = 0L; var n = 0L
        var open = false
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        def close(): Unit = if (open) out += Row(pk, n, bal, mx, clamps)
        it.foreach { r =>
          val k = r.getLong(0)
          if (k != pk) { close(); pk = k; bal = 0L; mx = 0L; clamps = 0L; n = 0L; open = true }
          val next = bal + r.getLong(4)
          if (next < 0) { clamps += 1; bal = 0L } else bal = next
          if (bal > mx) mx = bal
          n += 1
        }
        close()
        out.iterator
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** B105: first-order Markov transition matrix over the event stream
    * — the "user journey" analysis behind funnel design (which step
    * follows which, and how often): per-user (ts, event_id)-ordered
    * lag gives each event its predecessor type, transition counts
    * aggregate over the ≤|types|² domain, and the row-conditional
    * probability is an EXACT integral-division PPM (n_ab·10⁶ div
    * n_a·) — float-free. One user-key shuffle (the B10 sessionization
    * shuffle), per-user bounded windows, then a ≤25-key aggregate. At
    * 100 TB: identical plan; the transition frame is
    * domain-bounded.
    */
  def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTot = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(fromTot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        expr("CAST((n * 1000000) div n_from AS BIGINT)").as("p_ppm"))
  }

  /** B156: Markov REMOVAL-EFFECT attribution (Anderl et al. 2016 —
    * the data-driven attribution model that replaced last-touch in
    * marketing analytics; B104 gives the positional heuristics, this
    * gives the causal-flavored one): user journeys become an
    * absorbing Markov chain (start → channel states → conv at first
    * purchase / null at journey end), and a channel's credit is how
    * much the start→conv absorption probability DROPS when journeys
    * may no longer pass through it. Distributed part: the journey
    * edge construction (one user-key window pass truncated at first
    * purchase, start/conv/null edges from per-user aggregates) and
    * the ppm transition matrix — after which the matrix is
    * STRUCTURALLY bounded at |event types|² (≤36 cells, a fit
    * artifact like the D6 centroids), so the 5 arms × 8 Jacobi
    * rounds run on collected integers. The iteration is FLOAT-FREE:
    * p(s) ← ppm(s→conv) + Σ_t ppm(s→t)·p(t) div 10⁶ per edge
    * (round-before-sum), so Scala and the machine-generated DuckDB
    * CTE chain execute the same integer recursion bit-identically.
    * Removal arms force p(channel) = 0 by dropping edges INTO the
    * removed channel — mass that routed through it dies, exactly the
    * model's counterfactual. Published: per channel the full and
    * channel-removed conversion e6, the removal effect, and its
    * permille share. At 100 TB: one user-key shuffle + a ≤36-row
    * collect; the iteration never touches the fact.
    */
  def qAttributionMarkov(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("seq", row_number().over(w))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("seq")).as("fp"))
    val j = ev.join(fp, Seq("user_id"), "left")
    val path = j.filter(col("fp").isNull || col("seq") < col("fp"))
    val steps = path
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .select(col("event_type").as("from_type"),
        coalesce(col("nxt"),
          when(col("fp").isNotNull, lit("conv")).otherwise(lit("null")))
          .as("to_type"))
    val starts = j.groupBy(col("user_id"))
      .agg(max(col("fp")).as("fp"),
           min_by(col("event_type"), col("seq")).as("first_ev"))
      .select(lit("start").as("from_type"),
        when(col("fp") === 1, lit("conv")).otherwise(col("first_ev"))
          .as("to_type"))
    val cnt = steps.union(starts)
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    val ppm = cnt.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"),
        expr("CAST((n * 1000000) div n_from AS BIGINT)").as("ppm"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = "start" +: ppm.map(_._1).filter(_ != "start").distinct.sorted
    def converge(removed: Option[String]): Long = {
      val p = scala.collection.mutable.Map.from(states.map(_ -> 0L))
      for (_ <- 1 to 8) {
        val nw = states.map { st =>
          val base = ppm.filter(e => e._1 == st && e._2 == "conv").map(_._3).sum
          val inner = ppm.iterator
            .filter(e => e._1 == st && e._2 != "conv" && e._2 != "null"
              && !removed.contains(e._2))
            .map(e => e._3 * p.getOrElse(e._2, 0L) / 1000000L).sum
          st -> (base + inner)
        }
        nw.foreach { case (k, v) => p(k) = v }
      }
      p("start")
    }
    val pFull = converge(None)
    val channels = states.filter(_ != "start")
    val rows = channels.map { c =>
      val pw = converge(Some(c)); (c, pw, pFull - pw)
    }
    val totRem = rows.map(_._3).sum
    val out = rows.map { case (c, pw, rem) =>
      Row(c, pFull, pw, rem,
        if (totRem == 0L) null else java.lang.Long.valueOf(rem * 1000L / totRem))
    }
    val schema = StructType(Seq(
      StructField("channel", StringType, nullable = false),
      StructField("p_full_e6", LongType, nullable = false),
      StructField("p_wo_e6", LongType, nullable = false),
      StructField("removal_e6", LongType, nullable = false),
      StructField("share_permille", LongType, nullable = true)))
    s.createDataFrame(s.sparkContext.parallelize(out.toIndexedSeq, 1), schema)
  }

  /** B106: Kaplan–Meier survival estimate of time-to-purchase after
    * signup (right-censored at the study end — the retention/
    * conversion-latency curve every product team reads): per-user
    * first signup and first subsequent purchase (one user-key
    * aggregate), exact integer day durations from epoch-µs floor
    * division (calendar-free), censored users carry the study-end
    * duration. The curve collapses to the ≤|days| DURATION DOMAIN:
    * risk sets n_i from a reverse cumulative over the day frame, and
    * the survival product S ← (S·(n−d)) div n runs as an EXACT
    * INTEGRAL recursion over the bounded frame (the B96/A38 sequential
    * posture; e6 scale, no float anywhere — the oracle replays the
    * identical integer recursion as a recursive CTE). At 100 TB: one
    * user-key shuffle, then domain-bounded work.
    */
  def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ev = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("ts") >= col("s_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val endTs = ev.agg(max(col("ts")).as("end_ts"))
    val dur = su.join(firstP, Seq("user_id"), "left_outer")
      .crossJoin(broadcast(endTs))
      .select(
        expr("(unix_micros(coalesce(p_ts, end_ts)) - unix_micros(s_ts)) " +
             "div 86400000000").as("dur"),
        col("p_ts").isNotNull.cast("long").as("ev"))
    val days = dur.groupBy(col("dur"))
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("tot"))
    val wr = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val km = days
      .withColumn("n_risk", sum(col("tot")).over(wr))
      .filter(col("d") > 0)
      .select(col("dur"), col("d"), col("n_risk"))
    val outSchema = StructType(Seq(
      StructField("dur_days", LongType, nullable = false),
      StructField("d_events", LongType, nullable = false),
      StructField("n_risk", LongType, nullable = false),
      StructField("surv_e6", LongType, nullable = false)))
    km.coalesce(1).sortWithinPartitions(col("dur"))
      .select(col("dur").cast("long"), col("d").cast("long"),
              col("n_risk").cast("long"))
      .mapPartitions { it =>
        var sE6 = 1000000L
        it.map { r =>
          val (t, d, n) = (r.getLong(0), r.getLong(1), r.getLong(2))
          sE6 = sE6 * (n - d) / n
          Row(t, d, n, sE6)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** B51: sketch-vs-exact quantile contract — the scale path for
    * percentiles is approx_percentile (one pass, mergeable, no global
    * sort); this query GATES its documented accuracy=10⁴ bound against
    * the exact per-group percentiles, emitting 1-flags the oracle
    * expects to be all-true (the RF/GBT invariant-oracle idiom: the
    * sketch values themselves are engine-specific, the CONTRACT is
    * not). A sketch drifting out of tolerance fails the hash gate.
    */
  def qApproxQuantile(s: SparkSession, dir: String): DataFrame = {
    val acc = 10000
    val li = lineitem(s, dir)
    // RANK-SPACE ε-contract (ε = 2/acc), the true approximate-percentile
    // definition and the scale-independent one: the count of rows
    // strictly below / at-or-below the sketch's value must bracket n·p
    // within ±εn, compared in exact integers (scaled by acc). The r7
    // value-space form (exact percentiles at p ± 2/acc) FAILED at
    // sf0.001: percentile_approx returns an observed data value while
    // exact percentile interpolates, and at n≈600 the value interval is
    // degenerate — it contains no data value at all. Rank space is the
    // space the sketch's guarantee actually lives in.
    val g = li.groupBy(col("l_returnflag")).agg(
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(acc)).as("a50"),
      percentile_approx(col("l_extendedprice"), lit(0.95), lit(acc)).as("a95"))
    val gb = broadcast(g.select(col("l_returnflag").as("bf"),
                                col("a50"), col("a95")))
    li.join(gb, col("l_returnflag") === col("bf"))
      .groupBy(col("l_returnflag"))
      .agg(sum((col("l_extendedprice") < col("a50")).cast("long")).as("lt50"),
           sum((col("l_extendedprice") <= col("a50")).cast("long")).as("le50"),
           sum((col("l_extendedprice") < col("a95")).cast("long")).as("lt95"),
           sum((col("l_extendedprice") <= col("a95")).cast("long")).as("le95"),
           count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        (col("lt50") * acc <= col("n") * (acc / 2) + col("n") * 2 &&
         col("le50") * acc >= col("n") * (acc / 2) - col("n") * 2)
          .cast("int").as("p50_in_bounds"),
        (col("lt95") * acc <= col("n") * (acc * 95 / 100) + col("n") * 2 &&
         col("le95") * acc >= col("n") * (acc * 95 / 100) - col("n") * 2)
          .cast("int").as("p95_in_bounds"))
  }

  /** B56: sketch-vs-exact DISTINCT contract (the B51 idiom for
    * cardinality) — the scale path for distinct counts is
    * approx_count_distinct (HLL++: one pass, mergeable, constant
    * memory, no Expand, no dedup shuffle); this query GATES the
    * sketch against the exact per-group cardinality at 5× the
    * configured rsd (HLL++ is deterministic for given data, so the
    * flag is stable cross-run) and emits 1-flags the oracle expects
    * all-true. The exact side is computed the scale-safe two-level
    * way (group on (key, value) with map-side dedup, then count) —
    * never a mixed distinct/non-distinct aggregate that would plan an
    * Expand.
    */
  def qHllDistinct(s: SparkSession, dir: String): DataFrame = {
    val rsd = 0.01
    val li = lineitem(s, dir)
    val exact = li
      .groupBy(col("l_returnflag"), col("l_partkey")).agg(count(lit(1)))
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_exact"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), rsd).as("n_approx"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") <=
          lit(5 * rsd) * col("n_exact").cast("double"))
          .cast("int").as("distinct_in_bounds"))
  }

  /** B52: truncated exponential moving average (half-life weights
    * 1, ½, ¼, ⅛ over the 4 most recent orders per customer) — the
    * LAG-column formulation keeps the float op sequence FIXED
    * (numerator and denominator built left-to-right over exact cent
    * inputs), so both engines compute bit-identical smoothed values,
    * unlike a true infinite-memory EWMA whose recurrence order is
    * engine-private. One user-keyed window, no global sort.
    */
  def qEwma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    def lagc(i: Int): Column = if (i == 0) cents else lag(cents, i).over(w)
    val weights = Seq(1.0, 0.5, 0.25, 0.125)
    val terms = (0 until 4).map(i =>
      (when(lagc(i).isNotNull, lit(weights(i))).otherwise(lit(0.0)),
       when(lagc(i).isNotNull, lagc(i).cast("double") * weights(i)).otherwise(lit(0.0))))
    val num = terms.map(_._2).reduceLeft(_ + _)
    val den = terms.map(_._1).reduceLeft(_ + _)
    orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
              dec2(num / den / 100.0).as("ewma"))
  }

  /** B53: table profiling — the data-quality audit primitive every
    * ingestion pipeline runs first: per column null count, distinct
    * count, min/max rendered to strings.
    *
    * Scale shape (since r6): Spark compiles N `countDistinct` in one
    * aggregate into an Expand that multiplies every input row ×(N+1)
    * BEFORE the shuffle — a 6× shuffle amplification over the full
    * fact table at 100 TB. Instead:
    *   - pass 1: null counts / min / max / row count fused in ONE
    *     hash-agg (no Expand — these are plain aggregates);
    *   - pass 2: exact distinct counts via explode to (column, value)
    *     pairs and a TWO-LEVEL aggregate. The first level groups by
    *     (column, value) with map-side partial aggregation, so the
    *     shuffle carries at most the per-partition-distinct pairs —
    *     the true information content — never a blown-up copy of the
    *     input. The second level is 5 keys.
    * The two 5-row results meet in a broadcast join. Values are exact,
    * so the DuckDB oracle hash-checks them. PlanAuditSpec locks the
    * no-Expand property.
    */
  def qProfile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                   "o_orderpriority")
    val df = orders(s, dir)
    val basicAggs = cols.flatMap { c =>
      Seq(sum(col(c).isNull.cast("long")).as(s"nn_$c"),
          min(col(c)).cast("string").as(s"mn_$c"),
          max(col(c)).cast("string").as(s"mx_$c"))
    } :+ count(lit(1)).as("n")
    val basic = df.agg(basicAggs.head, basicAggs.tail: _*)
    // pivot the 1-row aggregate by EXPLODING it — a unionAll of
    // per-column selects would re-run the aggregation (and the scan)
    // once per column
    val entries = cols.map(c =>
      struct(lit(c).as("column_name"), col("n").as("n_rows"),
             col(s"nn_$c").as("n_null"),
             col(s"mn_$c").as("min_str"), col(s"mx_$c").as("max_str")))
    val basicRows = basic.select(explode(array(entries: _*)).as("e"))
      .select(col("e.*"))
    // exact distinct counts, two-level: the string rendering is
    // injective per column (long/double/string), so distinct-of-
    // rendered == distinct-of-typed; nulls dropped to match
    // COUNT(DISTINCT c) semantics
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("string").as("v"))): _*)).as("p"))
      .select(col("p.*"))
      .filter(col("v").isNotNull)
    val nd = pairs
      .groupBy(col("column_name"), col("v")).agg(count(lit(1)))
      .groupBy(col("column_name")).agg(count(lit(1)).as("n_distinct"))
    // LEFT join + coalesce(0): an all-NULL column yields no nd row
    // (its values are filtered before the distinct pass) but must still
    // profile with n_distinct = 0, matching COUNT(DISTINCT c) = 0 —
    // an inner join would silently drop the column from the audit.
    basicRows.join(broadcast(nd), Seq("column_name"), "left")
      .select(col("column_name"), col("n_rows"), col("n_null"),
              coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
              col("min_str"), col("max_str"))
  }

  /** B54: Z-order (Morton) clustering key — the write-layout primitive
    * behind multi-dimensional data skipping: interleaving the bits of
    * two 8-bit dimension bins gives a 16-bit key whose sort order
    * keeps both dimensions locally clustered, so min/max file stats
    * prune on either predicate. Pure integer bit arithmetic, codegen'd
    * per row; sorting BY the key at write time is Sinks.parquet's job.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val b1 = least(lit(255L), floor(col("o_totalprice") / 2000.0).cast("long"))
    val b2 = col("o_custkey") % 256
    val z = (0 until 8).foldLeft(lit(0L): Column) { (acc, i) =>
      acc +
        shiftright(b1, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b2, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }
    orders(s, dir)
      .select(col("o_orderkey"), b1.as("price_bin"), b2.as("cust_bin"), z.as("zkey"))
  }

  /** B55: table-version diff (data reconciliation): two deterministic
    * "snapshots" of orders (v1 drops keys % 97 = 0, v2 drops % 103 = 0
    * and bumps prices on % 101 = 0), compared by ONE full-outer join
    * on the key with per-row content hashes → added/removed/changed/
    * same counts. The at-scale shape of a snapshot audit: no collect,
    * no sort, one key shuffle.
    */
  def qDiff(s: SparkSession, dir: String): DataFrame = {
    def hashed(df: DataFrame, hc: String): DataFrame =
      df.select(col("o_orderkey").as(s"k_$hc"),
        md5(concat_ws("|", col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long"),
          col("o_orderstatus"))).as(s"h_$hc"))
    val v1 = orders(s, dir).filter(col("o_orderkey") % 97 =!= 0)
    val v2 = orders(s, dir).filter(col("o_orderkey") % 103 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 101 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    hashed(v1, "a").join(hashed(v2, "b"), col("k_a") === col("k_b"), "full_outer")
      .select(
        when(col("k_a").isNull, "added")
          .when(col("k_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("same").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"))
  }

  /** B64: gaps-and-islands — per user, maximal runs of CONSECUTIVE
    * active days (the classic streak/retention primitive): distinct
    * (user, day) first, then the row_number trick (day − rn is
    * constant within a run) groups each streak with plain aggregates.
    * Scale shape: one (user, day) distinct shuffle (map-side
    * combined), then per-user windows — partitioned by user_id, so no
    * global sort; a hot user's window input is bounded by the DAY
    * domain (≤ 365/user/year after the distinct), not their event
    * count — the same cardinality-bound argument as B61.
    */
  def qGapIslands(s: SparkSession, dir: String): DataFrame = {
    val d = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val rn = row_number().over(
      Window.partitionBy(col("user_id")).orderBy(col("day")))
    d.withColumn("anchor", date_sub(col("day"), rn))
      .groupBy(col("user_id"), col("anchor"))
      .agg(min(col("day")).as("island_start"),
           max(col("day")).as("island_end"),
           count(lit(1)).as("n_days"))
      .select(col("user_id"), col("island_start"), col("island_end"),
        col("n_days"))
  }

  /** B65: peak concurrency via the sweep line — "how many sessions are
    * open at once", the load-planning query an interval self-join
    * answers in O(n²) and the sweep answers in O(n log n): each B10
    * session emits +1 at its start and −1 just after its end
    * (end-exclusive, so back-to-back sessions touching at one
    * microsecond don't count as concurrent), deltas collapse per
    * timestamp, and the running sum of deltas IS the concurrency
    * profile. The global prefix sum is the B59 two-phase distributed
    * scan (range-partition + broadcast carry offsets) — NO
    * single-reducer global window anywhere, so the shape survives any
    * session count; the top-10 peaks are a TakeOrderedAndProject.
    */
  def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val sess = Windowed.sessionized(events(s, dir), key = "user_id",
        ts = "ts", tieBreak = "event_id", gapUs = 1800L * 1000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(unix_micros(col("ts"))).as("s_us"),
           max(unix_micros(col("ts"))).as("e_us"))
    val deltas = sess
      .select(explode(array(
        struct(col("s_us").as("t_us"), lit(1L).as("d")),
        struct((col("e_us") + 1L).as("t_us"), lit(-1L).as("d")))).as("x"))
      .groupBy(col("x.t_us").as("t_us")).agg(sum(col("x.d")).as("delta"))
      .withColumn("g", lit(0L))
    Skew.rangePartitionedRunningSum(deltas.select(col("g"), col("t_us"),
        col("delta")), key = "g", orderCol = "t_us", valueCol = "delta")
      .select(col("t_us"), col("running").as("concurrency"))
      .orderBy(col("concurrency").desc, col("t_us"))
      .limit(10)
  }

  /** B66: two-sample Kolmogorov–Smirnov statistic — does the discount
    * regime shift the quantity distribution? D = max |F_A − F_B| over
    * the value domain, computed EXACTLY in integers: the cumulative
    * counts are cross-multiplied (|cumA·n_B − cumB·n_A|) instead of
    * divided, so there is no float CDF and the argmax is bit-stable
    * cross-engine (ties → lowest quantity). Scale shape: one
    * (qty)-key count shuffle with map-side combine collapses the fact
    * table to the VALUE DOMAIN (50 distinct quantities — the B61
    * cardinality bound), the cumulative window runs over that bounded
    * domain only, totals ride a 1-row broadcast, and the argmax row is
    * a TakeOrderedAndProject(1).
    */
  def qKsTest(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(
      col("l_quantity").cast("long").as("qty"),
      (col("l_discount") >= 0.05).cast("long").as("isa"))
    val h = li.groupBy(col("qty"))
      .agg(sum(col("isa")).as("ca"),
           (count(lit(1)) - sum(col("isa"))).as("cb"))
    val tot = h.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val w = Window.orderBy(col("qty"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.select(col("qty"), sum(col("ca")).over(w).as("cuma"),
             sum(col("cb")).over(w).as("cumb"))
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("cuma") * col("n_b") - col("cumb") * col("n_a")).as("d_scaled"),
        col("qty").as("at_qty"))
      .orderBy(col("d_scaled").desc, col("at_qty"))
      .limit(1)
  }

  /** B76: chi-squared independence test over the (returnflag ×
    * linestatus) contingency table, EXACT to the last integer: using
    * χ² = N·Σ O²/(r·c) − N, each cell's term is the integral division
    * (N·O²·10⁶) div (r_i·c_j) — all operands exact DECIMAL(38,0), so
    * the published χ²-PPM is bit-identical cross-engine with no float
    * CDF or quotient anywhere (the B66 cross-multiplication idea
    * fused with C33's scale-then-sum rule). Scale shape: one
    * domain-bounded (cell) aggregate collapses the fact; row/column
    * totals re-aggregate the tiny cell frame; every join is a
    * broadcast of ≤|domain| rows.
    */
  def qChi2(s: SparkSession, dir: String): DataFrame = {
    val c = lineitem(s, dir)
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("o"))
    val r  = c.groupBy(col("rf")).agg(sum(col("o")).as("rt"))
    val cl = c.groupBy(col("ls")).agg(sum(col("o")).as("ct"))
    val nT = c.agg(sum(col("o")).as("nn"))
    val rn  = r.agg(count(lit(1)).as("nr"))
    val cln = cl.agg(count(lit(1)).as("nc"))
    c.join(broadcast(r), "rf").join(broadcast(cl), "ls")
      .crossJoin(broadcast(nT))
      .select(expr("(nn * o * o * 1000000) div (rt * ct)").as("tij"), col("nn"))
      .agg(sum(col("tij")).as("ts"), max(col("nn")).as("nn"))
      .crossJoin(broadcast(rn)).crossJoin(broadcast(cln))
      .select(col("nn").cast("long").as("n"),
              ((col("nr") - 1) * (col("nc") - 1)).as("df"),
              expr("CAST(ts - nn * 1000000 AS BIGINT)").as("chi2_ppm"))
  }

  /** B73: exact per-group mode (most frequent value) with a
    * deterministic tie-break — the categorical summary statistic
    * `mode()` that SQL lacks natively. Two-level aggregate: the fact
    * collapses to (group, value) counts with map-side combine first
    * (the B61 cardinality bound — the shuffle carries at most
    * |status|×|priority| rows), then the per-group argmax is a
    * `min_by` over the (−count, value) struct — lexicographic struct
    * comparison makes the tie rule (highest count, then lowest value)
    * engine-identical with no window over the fact. At 100 TB the
    * shape is two domain-bounded aggregates; nothing scales with row
    * count past the first combiner.
    */
  def qMode(s: SparkSession, dir: String): DataFrame = {
    val c = orders(s, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    c.groupBy(col("o_orderstatus"))
      .agg(min_by(struct(col("o_orderpriority"), col("cnt")),
                  struct((-col("cnt")).as("nc"), col("o_orderpriority"))).as("m"),
           sum(col("cnt")).as("n_rows"))
      .select(col("o_orderstatus"), col("m.o_orderpriority").as("mode_priority"),
              col("m.cnt").as("mode_count"), col("n_rows"))
  }

  /** B74: Gini impurity of the order-status mix per priority class —
    * the split-quality statistic of A12c's CART (and the diversity
    * audit a label-distribution monitor runs), computed EXACTLY:
    * impurity = 1 − Σ(c_i/n)² is published as integer PPM
    * (n² − Σc_i²)·10⁶ div n², with the counts carried in
    * DECIMAL(38,0) so n² cannot overflow at any corpus size and the
    * integral division is bit-identical cross-engine (no float
    * quotient at all). Same two-level domain-bounded aggregate shape
    * as B73.
    */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    val c = orders(s, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("cnt"))
    c.groupBy(col("o_orderpriority"))
      .agg(sum(col("cnt")).as("n"), sum(col("cnt") * col("cnt")).as("ss"),
           count(lit(1)).as("n_classes"))
      .select(col("o_orderpriority"), col("n").cast("long").as("n_rows"),
              col("n_classes"),
              expr("CAST(((n*n - ss) * 1000000) div (n*n) AS BIGINT)").as("gini_ppm"))
  }

  /** B75: exact ROC AUC via the Mann–Whitney U statistic — the
    * ranking-quality metric for a classifier score (does quantity
    * predict a return?), computed with NO per-row ranking: the fact
    * collapses to the 50-value score domain first (the B66 KS idiom),
    * the tie-corrected U then reads off the histogram —
    * U·2 = Σ_v pos_v·(2·negBelow_v + neg_v), every term an exact
    * integer (midrank tie handling falls out of the +neg_v term
    * without any ½ fractions). The cumulative window runs over the
    * bounded domain only, totals ride a 1-row broadcast, U
    * accumulates in DECIMAL(38,0) (nPos·nNeg·2 overflows a long at
    * corpus scale), and the published AUC = U2/(2·nPos·nNeg) is one
    * IEEE division of exactly-representable operands.
    */
  def qAuc(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(
      col("l_quantity").cast("long").as("qty"),
      (col("l_returnflag") === "R").cast("long").as("pos"))
    val h = li.groupBy(col("qty"))
      .agg(sum(col("pos")).as("p"), (count(lit(1)) - sum(col("pos"))).as("ng"))
    val w = Window.orderBy(col("qty"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = h.select(col("p"), col("ng"),
      (sum(col("ng")).over(w) - col("ng")).as("cnb"))
    val tot = h.agg(sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"))
    c.agg(sum((col("p") * (lit(2L) * col("cnb") + col("ng")))
           .cast("decimal(38,0)")).as("u2"))
      .crossJoin(broadcast(tot))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        dec6(col("u2").cast("double") /
             (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** A52: precision-recall curve + best-F1 operating point for the
    * B75 score (sklearn precision_recall_curve / "argmax F1" parity —
    * the THRESHOLD-PICKING step that follows every AUC report): the
    * score is domain-bounded (quantity 1..50), so each threshold t's
    * confusion counts are reverse-cumulative sums over the ≤50-row
    * value frame ("predict positive when qty ≥ t" — never the fact),
    * and precision/recall/F1 are EXACT integral-ppm divisions;
    * f1_ppm = 2·TP·e6 div (2·TP + FP + FN) uses the single-division
    * harmonic identity so no intermediate rounding compounds. The
    * best row is the (f1 DESC, t ASC) pick — an exact integer
    * compare. Float-free. At 100 TB: one ≤50-key fact aggregate.
    */
  def qPrCurve(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(
      col("l_quantity").cast("long").as("qty"),
      (col("l_returnflag") === "R").cast("long").as("pos"))
    val h = li.groupBy(col("qty"))
      .agg(sum(col("pos")).cast("decimal(38,0)").as("p"),
           (count(lit(1)) - sum(col("pos"))).cast("decimal(38,0)").as("ng"))
    // reverse cumulative over the ≤50-row domain frame
    val wRev = Window.orderBy(col("qty").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.agg(sum(col("p")).as("n_pos"))
    val curve = h
      .withColumn("tp", sum(col("p")).over(wRev))
      .withColumn("fp", sum(col("ng")).over(wRev))
      .crossJoin(broadcast(tot))
      .select(col("qty").as("threshold"),
        col("tp").cast("long").as("n_tp"),
        col("fp").cast("long").as("n_fp"),
        (col("n_pos") - col("tp")).cast("long").as("n_fn"),
        expr("CAST((tp * 1000000) div (tp + fp) AS BIGINT)").as("prec_ppm"),
        expr("CAST((tp * 1000000) div n_pos AS BIGINT)").as("rec_ppm"),
        expr("CAST((tp * 2000000) div (tp * 2 + fp + (n_pos - tp)) AS BIGINT)")
          .as("f1_ppm"))
    val wBest = Window.orderBy(col("f1_ppm").desc, col("threshold"))
    curve.withColumn("is_best",
        (row_number().over(wBest) === 1).cast("int"))
  }

  /** A53: decile lift & cumulative-gains chart for the B75 score —
    * the campaign-targeting evaluation next to A52's PR curve ("how
    * much better than random is each scored decile"): the score
    * domain's per-value (pos, neg) histogram orders DESCENDING, each
    * VALUE group lands in the decile of its cumulative position
    * (value-grouped deciles — a value never splits across deciles,
    * the documented contract; d = ((cum−1)·10) div n + 1), and per
    * decile the capture share, lift vs the base rate (pos·N·e6 div
    * (rows·P)) and running cumulative gain are ALL exact integral
    * ppm. Float-free. At 100 TB: one ≤50-key fact aggregate then
    * 10-row frames.
    */
  def qLiftChart(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(
      col("l_quantity").cast("long").as("qty"),
      (col("l_returnflag") === "R").cast("long").as("pos"))
    val h = li.groupBy(col("qty"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"),
           sum(col("pos")).cast("decimal(38,0)").as("p"))
    val wRev = Window.orderBy(col("qty").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.agg(sum(col("c")).as("n"), sum(col("p")).as("np"))
    val deciled = h
      .withColumn("cum", sum(col("c")).over(wRev))
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("CAST(((cum - 1) * 10) div n + 1 AS INT)"))
    val cells = deciled.groupBy(col("decile"))
      .agg(sum(col("c")).as("rows"), sum(col("p")).as("posd"),
           max(col("n")).as("n"), max(col("np")).as("np"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_pos", sum(col("posd")).over(wCum))
      .select(col("decile"),
        col("rows").cast("long").as("n_rows"),
        col("posd").cast("long").as("n_pos"),
        expr("CAST((posd * 1000000) div np AS BIGINT)").as("capture_ppm"),
        expr("CAST((posd * n * 1000000) div (rows * np) AS BIGINT)")
          .as("lift_ppm"),
        expr("CAST((cum_pos * 1000000) div np AS BIGINT)").as("cum_gain_ppm"))
  }

  /** B67: min-cost supplier per part (TPC-H Q2 shape, adapted: no
    * partsupp table ships, so the offer catalog is DERIVED from the
    * fact — the cost of a (part, supplier) offer is the cheapest
    * observed line total in exact cents). The classic correlated MIN
    * subquery decorrelates into two aggregates — per-offer min, then
    * per-part min joined back on equality — and because costs are
    * integers the tie set is engine-identical. Both dim chains
    * (supplier→nation→region and the part filter) broadcast; the
    * fact is scanned once.
    */
  def q2MinCost(s: SparkSession, dir: String): DataFrame = {
    val eurSupp = broadcast(
      supplier(s, dir)
        .join(nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .join(region(s, dir).filter(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name")))
    val stdPart = broadcast(
      part(s, dir).filter(col("p_size") <= 10 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_brand")))
    val offers = lineitem(s, dir)
      .join(eurSupp.select(col("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
      .join(stdPart.select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(round(col("l_extendedprice") * 100, 0).cast("long")).as("cost_cents"))
    val mins = offers.groupBy(col("l_partkey").as("mp"))
      .agg(min(col("cost_cents")).as("min_cents"))
    offers
      .join(mins, col("l_partkey") === col("mp") &&
                  col("cost_cents") === col("min_cents"))
      .join(stdPart, col("l_partkey") === col("p_partkey"))
      .join(eurSupp, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
              col("p_brand"),
              dec2(col("cost_cents").cast("double") / 100.0).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** B68: product-type profit (TPC-H Q9 shape, adapted: no partsupp
    * supply cost ships, so unit cost = 60% of p_retailprice). Profit
    * accumulates in exact 10^-4-dollar integers (revE4 minus
    * retail-cents × 60 × qty), so nation×year sums are
    * order-independent; the part filter and supplier→nation chain
    * broadcast and the only fact-fact shuffle is the l_orderkey join.
    */
  def q9Profit(s: SparkSession, dir: String): DataFrame = {
    val bluePart = broadcast(
      part(s, dir).filter(col("p_name").like("blue%"))
        .select(col("p_partkey"),
                round(col("p_retailprice") * 100, 0).cast("long").as("retail_cents")))
    val suppNation = broadcast(
      supplier(s, dir).join(nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name")))
    lineitem(s, dir)
      .join(bluePart, col("l_partkey") === col("p_partkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(revE4 - col("retail_cents") * lit(60L) *
               col("l_quantity").cast("long")).as("profit_e4"))
      .select(col("n_name"), col("o_year"),
              dec2(round(col("profit_e4").cast("double") / 100.0, 0) / 100.0).as("profit"))
  }

  /** B69: important stock value (TPC-H Q11 shape, adapted: a part's
    * "stock value" is the revenue attributed to NATION_7's suppliers,
    * derived from the fact). The global total and part count are a
    * 1-row broadcast aggregate crossed back; "important" = value more
    * than 2× the average part value — a SCALE-INVARIANT exact integer
    * predicate (value·nparts > 2·total), so the cut needs no tuned
    * absolute threshold when the corpus grows 100×.
    */
  def q11Stock(s: SparkSession, dir: String): DataFrame = {
    val n7supp = broadcast(
      supplier(s, dir)
        .join(nation(s, dir).filter(col("n_name") === "NATION_7"),
              col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
    val v = lineitem(s, dir)
      .join(n7supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(revE4).as("value_e4"))
    val tot = broadcast(v.agg(sum(col("value_e4")).as("total_e4"),
                              count(lit(1)).as("nparts")))
    v.crossJoin(tot)
      .filter(col("value_e4") * col("nparts") > col("total_e4") * 2)
      .select(col("l_partkey"),
              dec2(round(col("value_e4").cast("double") / 100.0, 0) / 100.0).as("part_value"))
  }

  /** B70: dominant suppliers (TPC-H Q20 shape, adapted: "excess
    * stock" = the supplier shipped more than HALF of a contested
    * part's 1997 volume). Per-(part, supplier) and per-part totals are
    * two aggregates over the same exchange — Catalyst reuses it — and
    * the majority test is exact integer algebra (2·qty > total, only
    * parts with ≥2 suppliers contested); name lookups broadcast.
    */
  def q20Excess(s: SparkSession, dir: String): DataFrame = {
    val redPart = broadcast(
      part(s, dir).filter(col("p_name").like("%red%")).select(col("p_partkey")))
    val ps = lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1998-01-01"))
      .join(redPart, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("supp_qty"))
    val pt = ps.groupBy(col("l_partkey").as("tp"))
      .agg(sum(col("supp_qty")).as("part_total"), count(lit(1)).as("nsupp"))
    ps.join(pt, col("l_partkey") === col("tp") &&
                col("supp_qty") * 2 > col("part_total") && col("nsupp") >= 2)
      .join(broadcast(supplier(s, dir).select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_dominated"))
  }

  /** B72: Bloom-pre-filtered fact join — the runtime-filter technique
    * that decides whether a 100 TB fact join is affordable: the
    * selective dim subset's keys are compressed into the C18
    * Kirsch–Mitzenmacher bitmask and the fact side drops non-matching
    * rows with a PURE CODEGEN membership test BEFORE its shuffle, so
    * the exchange carries ~selectivity·N + FP rows instead of N. The
    * build is DISTRIBUTED: ≤ m distinct bit positions cross the wire
    * (a bounded collect, the C18 rule) — never the dim keys
    * themselves. Bloom false positives are removed by the exact join
    * that follows, so the result is IDENTICAL to the plain join — the
    * oracle runs the plain join, which is the whole point: same
    * answer, pre-filtered exchange.
    *
    * m is SIZED FROM THE BUILD SIDE (the runtime-filter rule — a
    * filter sized for one scale saturates at the next): next power of
    * two ≥ 8 bits/key at k=2 keeps the fill ratio ~0.22 and the FP
    * rate ~5% at ANY dim selectivity; the r7 fixed m=16384 was 87%
    * full at sf0.1 (FP 0.76 — the "filter" passed 77% of the fact).
    */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val k = 2
    val dim = orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
              col("o_orderdate") >= lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_orderdate"))
    val nKeys = dim.count() // build-side stats size the filter
    var m = 16384
    while (m < 8L * nKeys && m < (1 << 22)) m <<= 1
    val bits = new Array[Boolean](m)
    dim.select(explode(array(
        TextOps.bloomPositionsFast(col("o_orderkey").cast("string"), m, k): _*)).as("p"))
      .distinct().collect()
      .foreach(r => bits(r.getLong(0).toInt) = true)
    val bitmask = bits.map(b => if (b) '1' else '0').mkString
    lineitem(s, dir)
      .filter(TextOps.bloomMaybeHitFast(col("l_orderkey").cast("string"), bitmask, m, k))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_lines"), sum(revE4).as("rev_e4"))
      .select(col("month"), col("n_lines"),
              dec2(round(col("rev_e4").cast("double") / 100.0, 0) / 100.0).as("revenue"))
  }

  /** B77: KMV (bottom-k minimum values) distinct-count sketch — the
    * sketch family member that is EXACTLY oracle-able: unlike HLL++
    * (B56, engine-internal hashing, invariant-gated) the KMV estimate
    * is a pure function of the k smallest md5 hashes, which both
    * engines compute bit-identically. Per group keep the k = 64
    * smallest 52-bit md5 hashes over DISTINCT values (two-level: the
    * (group, value) distinct combines map-side first — the B61
    * cardinality rule — then the per-group bottom-k is a rank-limited
    * window, which Catalyst executes as a WindowGroupLimit: every task
    * prunes to k rows per group BEFORE the sort, so the window input
    * is bounded by k·groups per partition, never the value count).
    * Estimate = (k−1)·2⁵² div h_(k) (exact integral division of exact
    * integers); groups with fewer than k values are exact by
    * construction. The sketch is mergeable (union of min-k sets) —
    * constant memory at 100 TB, and F24 streams the same rule.
    */
  def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val d = lineitem(s, dir)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
    val h = d.withColumn("hv",
      TF.hexPrefix52(concat(lit("kmv|"), col("l_partkey").cast("string"))))
    val rn = row_number().over(
      Window.partitionBy(col("l_returnflag")).orderBy(col("hv"), col("l_partkey")))
    val kk = h.withColumn("rn", rn).filter(col("rn") <= k)
      .groupBy(col("l_returnflag"))
      .agg(max(col("hv")).as("kth"), count(lit(1)).as("n_kept"))
    val ex = d.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_exact"))
    ex.join(kk, "l_returnflag")
      .withColumn("kmv_est",
        when(col("n_kept") < k, col("n_exact"))
          .otherwise(expr(s"${(k - 1).toLong * (1L << 52)} div kth")))
      .withColumn("err_bp", expr("abs(kmv_est - n_exact) * 10000 div n_exact"))
      .select(col("l_returnflag"), col("n_exact"), col("kmv_est"), col("err_bp"))
  }

  /** B78: one-way ANOVA F statistic, exact to the last integer — the
    * hypothesis-test family member (with B66 KS, B75 AUC, B76 χ²)
    * for "does the group affect the measure": quantity by returnflag.
    * One map-side-combinable moment aggregate (n, Σx, Σx²; integer x
    * by contract) collapses the fact to k = 3 rows; each between-group
    * term S_g²·10⁶ div n_g is an integral division of DECIMAL(38,0)
    * operands (non-negative numerators — Spark div truncates, DuckDB
    * // floors, identical there), so SSB·10⁶ and SSW·10⁶ are exact
    * BIGINTs and F is ONE IEEE division of exactly-rounded operands —
    * bit-identical cross-engine, no float CDF or variance anywhere.
    */
  /** The ANOVA F ratio as ONE formula string, applied with `expr` on
    * the Spark side and spliced verbatim into the DuckDB oracle — the
    * sseFromMomentsSql rule: identical IEEE op sequence by
    * construction (see Estimation.qRidgePath).
    */
  private val anovaFSql =
    "(CAST(ssb_e6 AS DOUBLE) * CAST(n - n_groups AS DOUBLE)) / " +
      "(CAST(ssw_e6 AS DOUBLE) * CAST(n_groups - 1 AS DOUBLE))"

  def qAnova(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val g = lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_g"),
           sum(x).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("s_g"),
           sum(x * x).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("q_g"))
      .withColumn("term_e6", expr("s_g * s_g * 1000000 div n_g"))
    g.agg(count(lit(1)).as("n_groups"),
          sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s"),
          sum(col("q_g")).as("q"),
          sum(col("term_e6")).as("terms_e6"))
      .withColumn("ssb_e6", expr("terms_e6 - (s * s * 1000000 div n)"))
      .withColumn("ssw_e6", expr("CAST(q * 1000000 AS BIGINT) - terms_e6"))
      // one fixed IEEE op sequence, shared verbatim with the oracle
      // (cast-exact operands, so the quotient is bit-identical)
      .withColumn("f_stat", dec6(expr(anovaFSql)))
      .select(col("n_groups"), col("n").cast("long").as("n"),
              col("ssb_e6").cast("long").as("ssb_e6"),
              col("ssw_e6").cast("long").as("ssw_e6"), col("f_stat"))
  }

  /** B80: triangle counting by degree-ordered edge iteration
    * ([[Graphs.orientedTriangles]]) — the graph-analytics density
    * primitive (clustering coefficients, community cores, link-spam
    * detection on the C19/C24 web-graph side). Fixture: a deterministic
    * sparsified projection of the fact table — nodes = key residues,
    * edges = co-occurring (order, part) residue pairs kept by a 5%
    * md5 draw (the B25 deterministic-sample rule, so both engines
    * build the identical graph at any scale). The degree ordering
    * bounds every node's wedge fan-out at O(√m) — the "curse of the
    * last reducer" fix: a hub key shuffles O(√m) wedges, not O(deg²).
    * Output: top-10 nodes by triangle participation + the global count
    * on a 1-row broadcast crossed back.
    */
  def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val a = col("l_orderkey") % 1000
    val b = col("l_partkey") % 1000
    val e0 = lineitem(s, dir)
      .filter(a =!= b)
      .select(least(a, b).as("lo"), greatest(a, b).as("hi"))
      .distinct()
    // pins (r15 optimization, guide §2.4): the sampled edge list feeds
    // the degree union twice + the orientation join, and the triangle
    // frame feeds both the per-node count and the global total —
    // unpinned, the lineitem distinct + degree joins ran twice end to
    // end (once per action on tri)
    val e = graft.core.Materialize.pin(e0.filter(
      TF.hexPrefix52(concat(lit("tri|"), col("lo").cast("string"),
                            lit("|"), col("hi").cast("string"))) % 20 === 0))
    val tri = graft.core.Materialize.pin(Graphs.orientedTriangles(e))
    val cnt = tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val total = broadcast(tri.agg(count(lit(1)).as("total_tri")))
    val out = graft.core.Materialize.pin(
      cnt.crossJoin(total)
        .orderBy(col("n_tri").desc, col("node"))
        .limit(10))
    graft.core.Materialize.release(tri)
    graft.core.Materialize.release(e)
    out
  }

  /** B82: changelog compaction to latest snapshot (the Delta/Hudi
    * upsert-compaction semantics, and the batch form of every
    * streaming "latest state per key" materialization): one
    * map-side-combinable `max_by` aggregate per key over a STRUCT
    * version key (event-time, event_id as the unique tiebreak) —
    * Spark orders structs lexicographically, so the winner and its
    * tie rule are exact at ANY time span or id domain (the earlier
    * packed-long key overflowed past a ~107-day span and bled ties at
    * event_id ≥ 10⁶; UpsertBoundsSpec pins those boundaries). The
    * oracle expresses the same winner via ROW_NUMBER DESC — oracle
    * perf is irrelevant, engine perf stays window-free: max_by
    * combines partials and shuffles one row per (partition, key).
    */
  def qUpsertCompact(s: SparkSession, dir: String): DataFrame = {
    val ver = struct(col("ts"), col("event_id"))
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(max_by(col("event_id"), ver).as("last_event_id"),
           max_by(col("event_type"), ver).as("last_type"),
           dec2(max_by(col("value"), ver)).as("last_value"),
           count(lit(1)).as("n_versions"))
  }

  /** B84 shared formula text (the A32/A33 rule): every float step of the
    * Welch t statistic is ONE string applied with `expr` on the Spark
    * side and emitted verbatim in the oracle — identical IEEE op
    * sequence over exact integer operands, so the published doubles are
    * bit-identical cross-engine. u_i = s_i²/n_i as a variance-over-n
    * term: (n·Q − S²)/(n·(n−1)·n) with n/S/Q the exact integer moments.
    * sqrt is correctly rounded under IEEE-754 (the E6 precedent).
    */
  private val welchU1Sql =
    "(CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / " +
      "(CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0) * CAST(n1 AS DOUBLE))"
  private val welchU2Sql =
    "(CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) / " +
      "(CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0) * CAST(n2 AS DOUBLE))"
  private val welchTSql =
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / sqrt(u1 + u2)"
  private val welchDfSql =
    "((u1 + u2) * (u1 + u2)) / " +
      "((u1 * u1) / (CAST(n1 AS DOUBLE) - 1.0) + (u2 * u2) / (CAST(n2 AS DOUBLE) - 1.0))"

  /** B84: Welch's two-sample t-test (unequal variances) — does the
    * returned-item population ('A') differ in mean quantity from the
    * non-returned one ('R')? Completes the hypothesis-test family (B66
    * KS, B75 AUC, B76 χ², B78 ANOVA) with the workhorse two-group mean
    * test. Scale shape: ONE conditional-moment aggregate pass collapses
    * the fact to a single row of six exact integer moments (map-side
    * combined — no per-group shuffle at all, the groups are CASE
    * flags); t and the Welch–Satterthwaite df are closed forms over
    * those moments via shared formula text. Moment headroom: Q = Σq²
    * with q ≤ 50 stays < 2⁶³ past 10¹⁵ rows.
    */
  def qWelchTtest(s: SparkSession, dir: String): DataFrame = {
    val x   = col("l_quantity").cast("long")
    val isA = col("l_returnflag") === "A"
    lineitem(s, dir)
      .filter(col("l_returnflag").isin("A", "R"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n1"),
           sum(when(isA, x)).as("s1"),
           sum(when(isA, x * x)).as("q1"),
           sum(when(!isA, 1L).otherwise(0L)).as("n2"),
           sum(when(!isA, x)).as("s2"),
           sum(when(!isA, x * x)).as("q2"))
      .withColumn("u1", expr(welchU1Sql))
      .withColumn("u2", expr(welchU2Sql))
      .select(col("n1"), col("s1"), col("q1"), col("n2"), col("s2"),
              col("q2"), dec6(expr(welchTSql)).as("t_stat"),
              dec2(expr(welchDfSql)).as("df"))
  }

  /** B87 per-cell term (shared formula text): (o/N)·ln(o·N/(r·c)),
    * scaled to e6 and rounded to an exact integer BEFORE the sum (the
    * C33 round-before-sum rule) — the cell sum is then exact integer
    * arithmetic, immune to accumulation order; the single ln/division
    * sequence is identical both engines over exact integer operands.
    */
  private val miTermSql =
    "CAST(ROUND((CAST(o AS DOUBLE) / CAST(nn AS DOUBLE)) * " +
      "ln((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)) / " +
      "(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))) * 1000000, 0) AS BIGINT)"

  /** B87: mutual information of the (returnflag × linestatus) pair —
    * the information-theoretic dependence measure next to B76's χ²
    * (feature-dependence screening, the sklearn mutual_info_score
    * shape). Same scale posture as B76: ONE domain-bounded cell
    * aggregate collapses the fact, marginals re-aggregate the tiny
    * cell frame, every join broadcasts ≤|domain| rows; per-cell terms
    * are e6-rounded exact integers ([[miTermSql]]) so the MI sum is
    * order-independent. Cells come from GROUP BY, so o > 0 always and
    * ln's argument is never 0.
    */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val c = lineitem(s, dir)
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(count(lit(1)).as("o"))
    val r  = c.groupBy(col("rf")).agg(sum(col("o")).as("rt"))
    val cl = c.groupBy(col("ls")).agg(sum(col("o")).as("ct"))
    val nT = c.agg(sum(col("o")).as("nn"))
    c.join(broadcast(r), "rf").join(broadcast(cl), "ls")
      .crossJoin(broadcast(nT))
      .select(expr(miTermSql).as("term"), col("nn"))
      .agg(count(lit(1)).as("n_cells"), max(col("nn")).as("n"),
           sum(col("term")).as("mi_e6"))
      .select(col("n_cells"), col("n").cast("long").as("n"),
              col("mi_e6").cast("long").as("mi_e6"))
  }

  /** B88 per-bucket term (shared formula text): (p_a − p_b)·ln(p_a/p_b)
    * with the ratio cross-multiplied into exact integer operands, e6
    * rounded per bucket before the exact integer sum (the C33 rule).
    */
  private[operators] val psiTermSql =
    "CAST(ROUND((CAST(a AS DOUBLE) / CAST(na AS DOUBLE) - " +
      "CAST(b AS DOUBLE) / CAST(nb AS DOUBLE)) * " +
      "ln((CAST(a AS DOUBLE) * CAST(nb AS DOUBLE)) / " +
      "(CAST(b AS DOUBLE) * CAST(na AS DOUBLE))) * 1000000, 0) AS BIGINT)"

  /** B88: population stability index between the 1997 and 1998 shipping
    * cohorts' quantity distributions — THE production drift monitor
    * for score/feature distributions (PSI > 0.2 = retrain): one
    * conditional two-cohort count aggregate over 10 fixed-width
    * quantity buckets (domain-bounded — the B61 rule; the date filter
    * stays pushdown-friendly as raw shipdate bounds), totals on a
    * 1-row broadcast, per-bucket terms e6-rounded exact integers
    * ([[psiTermSql]]). Buckets empty on either side are excluded and
    * audited via n_buckets (the standard epsilon-free treatment).
    */
  def qPsi(s: SparkSession, dir: String): DataFrame = {
    val isA = col("l_shipdate") < lit("1998-01-01")
    val h = lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1999-01-01"))
      .groupBy(expr("(CAST(l_quantity AS BIGINT) - 1) div 5").as("bucket"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("a"),
           sum(when(!isA, 1L).otherwise(0L)).as("b"))
    val tot = h.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
    h.filter(col("a") > 0 && col("b") > 0)
      .crossJoin(broadcast(tot))
      .select(expr(psiTermSql).as("term"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_buckets"), max(col("na")).as("na"),
           max(col("nb")).as("nb"), sum(col("term")).as("psi_e6"))
      .select(col("n_buckets"), col("na"), col("nb"),
              col("psi_e6").cast("long").as("psi_e6"))
  }

  /** B91 z-statistic (normal approximation with tie correction) — ONE
    * shared float text over the exact integer aggregates, so the IEEE
    * op sequence is identical cross-engine. `ua2` is 2·U_A (midranks
    * make U a half-integer under cross-cohort ties; doubling keeps it
    * exact). */
  private val mwZSql =
    "(CAST(ua2 AS DOUBLE)/2.0 - CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/2.0) / " +
      "sqrt((CAST(na AS DOUBLE)*CAST(nb AS DOUBLE)/12.0) * " +
        "((CAST(nn AS DOUBLE) + 1.0) - " +
          "CAST(tt AS DOUBLE)/(CAST(nn AS DOUBLE)*(CAST(nn AS DOUBLE) - 1.0))))"

  /** B91: Mann–Whitney U test (Wilcoxon rank-sum) between the
    * 1997/1998 shipping cohorts' quantity distributions — the
    * NONPARAMETRIC member of the two-sample family (B84 Welch on
    * means, B88 PSI on shapes, B66 KS on CDFs): quantity is
    * domain-bounded (1..50), so the fact collapses to per-value cohort
    * counts in ONE conditional aggregate (the B61 cardinality rule)
    * and EXACT doubled midranks r2(v) = 2·cumBefore + c + 1 come from
    * a window over the ≤50-row value frame — never over the fact.
    * U, the tie term Σc(c²−1) and both cohort sizes are exact
    * DECIMAL(38,0) integers; only the published z is float, via the
    * shared [[mwZSql]] text. At 100 TB: one shuffle of ≤50 keys.
    */
  def qMannWhitney(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isA = col("l_shipdate") < lit("1998-01-01")
    val cells = lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1999-01-01"))
      .groupBy(col("l_quantity").cast("long").as("v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).cast("decimal(38,0)").as("ca"),
           sum(when(!isA, 1L).otherwise(0L)).cast("decimal(38,0)").as("cb"))
    // ≤50-row domain frame: the single-partition window is bounded by
    // the value domain, not the corpus
    val win = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("c", col("ca") + col("cb"))
      .withColumn("r2",
        coalesce(sum(col("c")).over(win), lit(0)) * 2 + col("c") + 1)
    ranked
      .agg(sum(col("ca")).as("nad"), sum(col("cb")).as("nbd"),
           sum(col("ca") * col("r2")).as("ra2"),
           sum(col("c") * (col("c") * col("c") - 1)).as("ttd"))
      .select(col("nad").as("na"), col("nbd").as("nb"),
              (col("nad") + col("nbd")).as("nn"),
              (col("ra2") - col("nad") * (col("nad") + 1)).as("ua2"),
              col("ttd").as("tt"))
      .select(col("na").cast("long").as("n_a"),
              col("nb").cast("long").as("n_b"),
              col("ua2").cast("long").as("u_a_x2"),
              (col("na") * col("nb") * 2 - col("ua2")).cast("long").as("u_b_x2"),
              dec6(expr(mwZSql)).as("z"))
  }

  /** B155 shared delta text — the ONE float step over exact dominance
    * counts: δ = (gt − lt)/(na·nb). */
  private[graft] val cliffsSql =
    "(CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE)) / " +
      "(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))"

  /** B155: Cliff's delta between the B91 cohorts — the EFFECT-SIZE
    * companion the Mann–Whitney z deliberately doesn't give you (at
    * 100 TB every test is "significant"; δ = P(A>B) − P(A<B) ∈ [−1,1]
    * says whether the difference MATTERS — the standard nonparametric
    * effect size reported next to U): quantity is domain-bounded
    * (1..50), so the dominance counts Σ_{a>b} c_A(a)·c_B(b) need NO
    * pair join at all — one cumulative window over the ≤50-row value
    * frame turns them into Σ_v c_A(v)·cumB(<v) (and the symmetric
    * less-than term), every count an exact DECIMAL(38,0) integer;
    * only the published δ is float, via the shared [[cliffsSql]]
    * text. One fact shuffle of ≤50 keys, windows bounded by the
    * value domain — the B91 posture exactly.
    */
  def qCliffsDelta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isA = col("l_shipdate") < lit("1998-01-01")
    val cells = lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1999-01-01"))
      .groupBy(col("l_quantity").cast("long").as("v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).cast("decimal(38,0)").as("ca"),
           sum(when(!isA, 1L).otherwise(0L)).cast("decimal(38,0)").as("cb"))
    val before = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("cumb", coalesce(sum(col("cb")).over(before),
        lit(0).cast("decimal(38,0)")))
      .withColumn("nbt", sum(col("cb")).over(whole))
      .agg(sum(col("ca")).as("nad"), max(col("nbt")).as("nbd"),
           sum(col("ca") * col("cumb")).as("gtd"),
           sum(col("ca") * (col("nbt") - col("cumb") - col("cb"))).as("ltd"))
      .select(col("nad").as("na"), col("nbd").as("nb"),
              col("gtd").as("gt"), col("ltd").as("lt"))
      .select(col("na").cast("long").as("n_a"),
              col("nb").cast("long").as("n_b"),
              col("gt").cast("long").as("n_gt"),
              col("lt").cast("long").as("n_lt"),
              dec6(expr(cliffsSql)).as("delta"))
  }

  /** B92 rho — shared float text over the exact rank-moment doubles. */
  private val spearRhoSql =
    "(nnd*sxy - sx*sy) / sqrt((nnd*sxx - sx*sx) * (nnd*syy - sy*sy))"

  /** B92: Spearman rank correlation between quantity and discount —
    * the rank twin of B17's Pearson: both variables are domain-bounded
    * (50 × 11 values → ≤550 cells), so ONE corpus aggregate yields the
    * joint cell counts, the marginal frames give EXACT doubled
    * midranks (windows over ≤50-row domains), and ρ is Pearson over
    * the midranks with every moment an exact DECIMAL(38,0) integer
    * (the 2× rank scale cancels in the correlation). Only the final ρ
    * is float, via the shared [[spearRhoSql]] text. One fact shuffle
    * of ≤550 keys at any scale.
    */
  def qSpearman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = lineitem(s, dir)
      .groupBy(col("l_quantity").cast("long").as("vx"),
               round(col("l_discount") * 100, 0).cast("long").as("vy"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
    def midranks(dim: String): DataFrame = {
      val m = cells.groupBy(col(dim)).agg(sum(col("c")).as("cm"))
      val w = Window.orderBy(col(dim))
        .rowsBetween(Window.unboundedPreceding, -1)
      m.withColumn(s"r$dim",
        coalesce(sum(col("cm")).over(w), lit(0)) * 2 + col("cm") + 1)
        .select(col(dim), col(s"r$dim"))
    }
    cells
      .join(broadcast(midranks("vx")), "vx")
      .join(broadcast(midranks("vy")), "vy")
      .agg(sum(col("c")).as("n"),
           sum(col("c") * col("rvx")).as("sxd"),
           sum(col("c") * col("rvy")).as("syd"),
           sum(col("c") * col("rvx") * col("rvx")).as("sxxd"),
           sum(col("c") * col("rvy") * col("rvy")).as("syyd"),
           sum(col("c") * col("rvx") * col("rvy")).as("sxyd"))
      .select(col("n").cast("long").as("n_rows"),
              col("n").cast("double").as("nnd"),
              col("sxd").cast("double").as("sx"),
              col("syd").cast("double").as("sy"),
              col("sxxd").cast("double").as("sxx"),
              col("syyd").cast("double").as("syy"),
              col("sxyd").cast("double").as("sxy"))
      .select(col("n_rows"), dec6(expr(spearRhoSql)).as("rho"))
  }

  /** B97 tau-b — ONE shared float text over the exact pair counts. */
  private val kendallTauSql =
    "CAST(nc_minus_nd AS DOUBLE) / " +
      "(sqrt(CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE)) * " +
       "sqrt(CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE)))"

  /** B97: Kendall's τ-b between quantity and discount — the
    * concordance twin of B92's Spearman (τ is the statistic robust to
    * monotone re-scaling AND interpretable as P(concordant) −
    * P(discordant)): naive τ is O(n²) over ROWS, but both variables
    * are domain-bounded, so nc − nd collapses to a sum over CELL PAIRS
    * (≤550² — corpus-independent): Σ cᵢ·cⱼ·sign((xᵢ−xⱼ)(yᵢ−yⱼ)) on a
    * broadcast cell self-join (BNLJ, never a fact cartesian). Tie
    * terms n1/n2 come from the marginal frames. EVERYTHING except the
    * published τ is an exact DECIMAL(38,0) integer; τ is one shared
    * float text. One ≤550-key fact shuffle at any scale.
    */
  def qKendall(s: SparkSession, dir: String): DataFrame = {
    val cells = lineitem(s, dir)
      .groupBy(col("l_quantity").cast("long").as("vx"),
               round(col("l_discount") * 100, 0).cast("long").as("vy"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
    val a = cells.select(col("vx").as("x1"), col("vy").as("y1"), col("c").as("c1"))
    val b = cells.select(col("vx").as("x2"), col("vy").as("y2"), col("c").as("c2"))
    // strict upper triangle by (x, y) lexicographic order: each
    // unordered cell pair counted once
    val pairs = a.join(broadcast(b),
        col("x1") < col("x2") ||
        (col("x1") === col("x2") && col("y1") < col("y2")))
      .select(col("c1"), col("c2"),
        signum(((col("x1") - col("x2")) * (col("y1") - col("y2"))).cast("double"))
          .cast("decimal(2,0)").as("sg"))
      .agg(sum(col("c1") * col("c2") * col("sg")).as("ncdd"))
    val tot = cells.agg(sum(col("c")).as("n"))
      .select(col("n"), expr("(n * (n - 1)) div 2").as("n0d"))
    val tx = cells.groupBy(col("vx")).agg(sum(col("c")).as("cm"))
      .agg(sum(expr("(cm * (cm - 1)) div 2")).as("txd"))
    val ty = cells.groupBy(col("vy")).agg(sum(col("c")).as("cm"))
      .agg(sum(expr("(cm * (cm - 1)) div 2")).as("tyd"))
    pairs.crossJoin(broadcast(tot)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .select(col("n").cast("long").as("n_rows"),
              col("ncdd").cast("long").as("nc_minus_nd"),
              col("n0d").cast("decimal(38,0)").as("n0"),
              col("txd").cast("decimal(38,0)").as("tx"),
              col("tyd").cast("decimal(38,0)").as("ty"))
      .select(col("n_rows"), col("nc_minus_nd"),
              col("tx").cast("long").as("ties_x"),
              col("ty").cast("long").as("ties_y"),
              dec6(expr(kendallTauSql)).as("tau_b"))
  }

  /** B93 V — shared float text over the exact chi2_ppm integer. */
  private val cramersVSql =
    "sqrt((CAST(chi2_ppm AS DOUBLE)/1.0e6) / " +
      "(CAST(n AS DOUBLE) * CAST(dmin AS DOUBLE)))"

  /** B93: Cramér's V effect size for the (returnflag × linestatus)
    * association — closing the loop on B76's χ² (significance without
    * effect size is the classic production-monitoring trap at 100 TB:
    * EVERYTHING is significant at 1e12 rows): the SAME exact
    * integral-division chi2_ppm pipeline as B76, extended with
    * min(r−1, c−1) and V = sqrt(χ²/(n·dmin)) as the ONLY float step
    * (shared [[cramersVSql]] text). One ≤6-cell shuffle at any scale.
    */
  def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val c = lineitem(s, dir)
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("o"))
    val r   = c.groupBy(col("rf")).agg(sum(col("o")).as("rt"))
    val cl  = c.groupBy(col("ls")).agg(sum(col("o")).as("ct"))
    val nT  = c.agg(sum(col("o")).as("nn"))
    val rn  = r.agg(count(lit(1)).as("nr"))
    val cln = cl.agg(count(lit(1)).as("nc"))
    c.join(broadcast(r), "rf").join(broadcast(cl), "ls")
      .crossJoin(broadcast(nT))
      .select(expr("(nn * o * o * 1000000) div (rt * ct)").as("tij"), col("nn"))
      .agg(sum(col("tij")).as("ts"), max(col("nn")).as("nn"))
      .crossJoin(broadcast(rn)).crossJoin(broadcast(cln))
      .select(col("nn").cast("long").as("n"),
              ((col("nr") - 1) * (col("nc") - 1)).as("df"),
              least(col("nr") - 1, col("nc") - 1).cast("long").as("dmin"),
              expr("CAST(ts - nn * 1000000 AS BIGINT)").as("chi2_ppm"))
      .select(col("n"), col("df"), col("dmin"), col("chi2_ppm"),
              dec6(expr(cramersVSql)).as("v"))
  }

  /** B89: Benford first-digit audit — the fraud/fabrication screen for
    * financial facts (synthesized amounts drift from Benford's
    * log-distribution): first digit of the exact cent amount via
    * STRING head (pure integer→string, no float log10 on the data
    * path), one 9-row domain-bounded count aggregate, observed shares
    * as exact integral-division PPM, the Benford reference
    * log10(1+1/d) e6-rounded from the 9 digit literals (identical
    * both engines — it never touches data). The audit output is the
    * per-digit comparison table.
    */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val h = orders(s, dir).select(cents.as("cents"))
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val t = broadcast(h.agg(sum(col("n_d")).as("n")))
    val exp = s.createDataFrame(benford1Table).toDF("digit", "p_ben_e6")
    h.crossJoin(t).join(broadcast(exp), "digit")
      .select(col("digit"), col("n_d"),
        expr("(n_d * 1000000) div n").as("p_obs_ppm"),
        col("p_ben_e6"))
  }

  /** B138: order↔lineitem financial reconciliation — the books-audit
    * join every billing pipeline runs ("does the header total equal
    * the sum of its lines?"): expected order value from lines as the
    * EXACT integer Σ cents·(100−disc)·(100+tax) (cents·e4 scale — no
    * float products), header total at the same scale, and the
    * mismatch classed by RELATIVE error in exact integral ppm
    * (within 1% / 10% / 50% / over, plus headers with no lines — the
    * B130 consistency-census shape). The fixture's totals are
    * independent of its lines, so the report is all-mismatch — the
    * operator's value is the DISTRIBUTION, which the oracle must
    * reproduce bucket by bucket. At 100 TB: one orderkey-combined
    * line aggregate + a key join + a ≤5-key rollup.
    */
  def qOrderReconcile(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    // per-row product in LONG (cents ≤ 1e7 · 200 · 200 ≈ 4e11 ≪ 2^63);
    // only the order-level sum needs DECIMAL headroom — one cast per
    // row instead of three decimal multiplies (2.2s → long-lane codegen)
    val lsum = lineitem(s, dir).groupBy(col("l_orderkey"))
      .agg(sum(expr(
        s"CAST(CAST(ROUND(l_extendedprice*100,0) AS BIGINT) * " +
        s"(100 - CAST(ROUND(l_discount*100,0) AS BIGINT)) * " +
        s"(100 + CAST(ROUND(l_tax*100,0) AS BIGINT)) AS $dec)")).as("exp_e4"))
    val cls = orders(s, dir)
      .select(col("o_orderkey"),
        (round(col("o_totalprice") * 100, 0).cast("long") * 10000L)
          .cast(dec).as("tot_e4"))
      .join(lsum, col("o_orderkey") === col("l_orderkey"), "left")
      .select(expr("""CASE WHEN exp_e4 IS NULL THEN 'no_lines'
        WHEN (ABS(exp_e4 - tot_e4) * 1000000) div tot_e4 <= 10000
          THEN 'within_1pct'
        WHEN (ABS(exp_e4 - tot_e4) * 1000000) div tot_e4 <= 100000
          THEN 'within_10pct'
        WHEN (ABS(exp_e4 - tot_e4) * 1000000) div tot_e4 <= 500000
          THEN 'within_50pct'
        ELSE 'over_50pct' END""").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_orders"))
    // pinned (r15, guide §2.4): the ≤5-row bucket census feeds both the
    // total and the share projection — unpinned, the lineitem reconcile
    // join ran twice (once per branch)
    val clsP = graft.core.Materialize.pin(cls)
    val tot = broadcast(clsP.agg(sum(col("n_orders")).as("n_total")))
    val out = graft.core.Materialize.pin(
      clsP.crossJoin(tot)
        .select(col("bucket"), col("n_orders"),
          expr("CAST((n_orders * 1000000) div n_total AS BIGINT)")
            .as("share_ppm")))
    graft.core.Materialize.release(clsP)
    out
  }

  /** B139: cohort LTV matrix — the subscription/e-commerce analytics
    * staple the retention (B49) and churn (B120) views cannot
    * replace ("how much revenue does the March cohort produce in its
    * Nth month of life?"): customers cohorted by FIRST order month
    * (calendar grain — B132's convention: both engines' year()/
    * month() agree by construction), every order binned to
    * (cohort, age-in-months), revenue in exact cents, cumulative LTV
    * per cohort via a window over the ≤|months| bounded frame, and
    * per-customer LTV as EXACT integral division by cohort size. At
    * 100 TB: one custkey-combined min-aggregate, one key join back
    * to the fact, a ≤|months|²-cell aggregate, and a broadcast of
    * the ≤|months| cohort sizes — no fact-proportional window.
    */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(col("o_custkey"),
      (year(col("o_orderdate")).cast("long") * 12L +
        month(col("o_orderdate")).cast("long") - 1L).as("m"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val coh = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m"))
    val sizes = coh.groupBy(col("cohort_m"))
      .agg(count(lit(1)).as("n_customers"))
    val cells = o.join(coh, Seq("o_custkey"))
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("age_months"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort_m")).orderBy(col("age_months"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(broadcast(sizes), Seq("cohort_m"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select(
        expr("(cohort_m div 12) * 100 + (cohort_m % 12) + 1")
          .as("cohort_ym"),
        col("age_months"), col("n_customers"), col("n_orders"),
        col("rev_cents"), col("cum_rev_cents"),
        expr("cum_rev_cents div n_customers").as("ltv_per_cust_cents"))
  }

  /** B137: directed association rules over order baskets — the
    * recommendation primitive B98's symmetric lift cannot express
    * ("bread → butter can be strong while butter → bread is weak"):
    * the same distinct (order, brand) frame and pair counts, but each
    * unordered pair publishes BOTH directions with support (pair
    * share of orders) and confidence (pair share of the antecedent's
    * orders) as EXACT integral ppm; top-20 rules under the total
    * (confidence DESC, antecedent, consequent) order with a support
    * floor of 10 orders (rules below it are noise at any scale — the
    * classic min-support contract). Same plan as B98: one distinct
    * shuffle, one pair self-join on the order key, broadcast margins.
    */
  def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    // r15 optimization (guide §2.4): the distinct (order, brand) frame
    // feeds FOUR consumers (order total, brand margins, both pair-join
    // sides) — unpinned, the lineitem∘part meet + distinct ran four
    // times. Pinned once, and keyed by ok BEFORE the distinct so the
    // pair self-join (and the order-count reaggregate) reuse the same
    // exchange: HashPartitioning(ok) satisfies the (ok, brand) dedup's
    // clustering AND the join's, so the plan drops two Exchanges.
    val ob = graft.core.Materialize.pin(
      lineitem(s, dir).select(col("l_orderkey").as("ok"), col("l_partkey"))
        .join(part(s, dir).select(col("p_partkey"), col("p_brand")),
              col("l_partkey") === col("p_partkey"))
        .select(col("ok"), col("p_brand").as("brand"))
        .repartition(col("ok"))
        .distinct())
    val tot = ob.select(col("ok")).distinct()
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_orders"))
    val perBrand = ob.groupBy(col("brand"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_brand"))
    val a = ob.select(col("ok"), col("brand").as("brand_a"))
    val b = ob.select(col("ok"), col("brand").as("brand_b"))
    val pairs = a.join(b, Seq("ok"))
      .filter(col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_ab"))
      .filter(col("n_ab") >= 10)
    val directed = pairs
      .select(col("brand_a").as("antecedent"), col("brand_b").as("consequent"),
        col("n_ab"))
      .unionAll(pairs.select(col("brand_b"), col("brand_a"), col("n_ab")))
    val out = graft.core.Materialize.pin(directed
      .join(broadcast(perBrand.select(col("brand").as("antecedent"),
        col("n_brand").as("n_ant"))), "antecedent")
      .crossJoin(broadcast(tot))
      .select(col("antecedent"), col("consequent"),
        col("n_ab").cast("long").as("n_together"),
        expr("CAST((n_ab * 1000000) div n_orders AS BIGINT)")
          .as("support_ppm"),
        expr("CAST((n_ab * 1000000) div n_ant AS BIGINT)")
          .as("confidence_ppm"))
      .orderBy(col("confidence_ppm").desc, col("antecedent"),
        col("consequent"))
      .limit(20))
    graft.core.Materialize.release(ob)
    out
  }

  /** B136: activity heatmap — event volume per (day-of-week, hour)
    * cell (THE product-analytics usage heatmap, and the input to
    * maintenance-window picking): both coordinates from pure epoch
    * integer arithmetic (dow = (epoch_day + 4) mod 7 — the B90 rule,
    * no engine calendar in the loop; hour = epoch_us div 3600e6 mod
    * 24), one 168-cell map-side-combined aggregate, shares as EXACT
    * integral ppm. At 100 TB: one ≤168-key shuffle.
    */
  def qActivityHeatmap(s: SparkSession, dir: String): DataFrame = {
    val h = events(s, dir)
      .select(
        expr("pmod(unix_micros(ts) div 86400000000 + 4, 7)").as("dow"),
        expr("pmod(unix_micros(ts) div 3600000000, 24)").as("hour"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val t = broadcast(h.agg(sum(col("n")).as("tot")))
    h.crossJoin(t)
      .select(col("dow"), col("hour"), col("n"),
        expr("CAST((n * 1000000) div tot AS BIGINT)").as("share_ppm"))
  }

  /** B135: inter-arrival burstiness (CV²) per event type — the
    * stochastic-process audit behind capacity planning (CV² ≈ 1 means
    * Poisson-like arrivals, > 1 bursty, < 1 regular — the number that
    * decides whether mean-based sizing is safe): per-(user, type)
    * inter-arrival gaps from key-bounded lag windows, QUANTIZED to
    * whole seconds per row (exact integral floor — µs-scale squared
    * sums would overflow DECIMAL(38,0) at sf0.1; the second is the
    * statistic's granularity contract), per-type gap moments
    * (n, Σ, Σ²) as exact DECIMAL(38,0) aggregates, and CV² = Var/mean²
    * collapsing to the integer identity (n·Q − S²)·e6 div S² — ONE
    * integral division, float-free. At 100 TB: one user-key shuffle +
    * a ≤|types|-key rollup.
    */
  def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .withColumn("gap", expr("gap_us div 1000000"))
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
           sum(col("gap")).cast("decimal(38,0)").as("sg"),
           sum(col("gap") * col("gap")).cast("decimal(38,0)").as("qg"))
      .select(col("event_type"),
        col("n").cast("long").as("n_gaps"),
        expr("CAST(sg div n AS BIGINT)").as("mean_gap_s"),
        // sg = 0 (every gap quantized to 0 s) would divide by zero —
        // Spark div would yield NULL while DuckDB // errors, an
        // engine/oracle parity break; both sides guard explicitly so
        // they agree by construction (CV² is undefined at mean 0).
        expr("CAST(CASE WHEN sg = 0 THEN NULL " +
          "ELSE ((n * qg - sg * sg) * 1000000) div (sg * sg) END AS BIGINT)")
          .as("cv2_e6"))
  }

  /** B134: error-burst detection per day — the SRE incident screen
    * ("which days saw users stuck in error loops": ≥ 2 errors from
    * one user within 1-hour gaps is a burst — the repeat-failure
    * episode; thresholds are fixture-calibrated so the audit has
    * signal): error events sessionize per USER with a 1-hour gap
    * (the SHARED B10 machinery at a tighter gap — keying by user
    * keeps every window bounded; a global error-stream window would
    * be the scale smell), bursts = sessions with ≥ 2 events, and the
    * day rollup publishes burst counts, distinct affected users,
    * total errors inside bursts, and the worst burst size. At
    * 100 TB: one user-key shuffle over the error SLICE of the fact +
    * a day rollup.
    */
  def qErrorBursts(s: SparkSession, dir: String): DataFrame = {
    val errs = events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val sess = Windowed.sessionized(errs, key = "user_id", ts = "ts",
      tieBreak = "event_id", gapUs = 3600L * 1000000L)
    val bursts = sess.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n"),
           min(unix_micros(col("ts"))).as("s_us"))
      .filter(col("n") >= 2)
    bursts
      .withColumn("day_idx", expr("s_us div 86400000000"))
      .groupBy(col("day_idx"))
      .agg(count(lit(1)).as("n_bursts"),
           countDistinct(col("user_id")).as("n_users"),
           sum(col("n")).as("n_errors_in_bursts"),
           max(col("n")).as("worst_burst"))
  }

  /** B133: round-number bias audit — the forensic companion to the
    * Benford pair (B89/B131: digit DISTRIBUTIONS; this: terminal-
    * value clumping — hand-entered or fabricated amounts
    * over-select .00 and psychological-pricing endings like .99):
    * one ≤100-key aggregate of cents mod 100, observed shares as
    * EXACT integral ppm against the uniform 10000-ppm expectation,
    * published for the top-10 most over-represented endings under the
    * total (share DESC, ending) order plus the exact .00 ending's
    * share. At 100 TB: one map-side-combined ≤100-key shuffle.
    */
  def qRoundBias(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val h = orders(s, dir)
      .select(pmod(cents, lit(100L)).as("ending"))
      .groupBy(col("ending")).agg(count(lit(1)).as("n"))
    val t = broadcast(h.agg(sum(col("n")).as("tot")))
    h.crossJoin(t)
      .select(col("ending"), col("n"),
        expr("CAST((n * 1000000) div tot AS BIGINT)").as("share_ppm"),
        lit(10000L).as("uniform_ppm"))
      .orderBy(col("share_ppm").desc, col("ending"))
      .limit(10)
  }

  /** B132: monthly YTD running totals with prior-year comparison — the
    * finance reporting tile (month revenue, year-to-date cumulative,
    * same-month prior year, YoY growth): exact-cents monthly revenue
    * over the bounded month domain (one map-side-combined aggregate on
    * calendar year/month — the reporting grain IS calendar here, so
    * Spark's year()/month() and DuckDB's agree by construction), YTD
    * via the per-year cumulative window, prior year via lag-12 over
    * the month order (months are contiguous in this fixture; a
    * self-join on (year−1, month) is the gap-tolerant variant), and
    * YoY as a SIGN-SPLIT integral ppm. At 100 TB: one ≤|months|-key
    * shuffle then domain-bounded windows.
    */
  def qYtd(s: SparkSession, dir: String): DataFrame = {
    val monthly = orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("y"),
               month(col("o_orderdate")).as("m"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val wYtd = Window.partitionBy(col("y")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSeq = Window.orderBy(col("y"), col("m"))
    monthly
      .withColumn("ytd_cents", sum(col("cents")).over(wYtd))
      .withColumn("py_cents", lag(col("cents"), 12).over(wSeq))
      .select(col("y").cast("long").as("y"), col("m").cast("long").as("m"),
        col("cents"), col("ytd_cents"), col("py_cents"),
        expr("CAST(CASE WHEN py_cents IS NULL THEN NULL " +
             "WHEN cents >= py_cents THEN " +
             "((cents - py_cents) * 1000000) div py_cents " +
             "ELSE -(((py_cents - cents) * 1000000) div py_cents) " +
             "END AS BIGINT)").as("yoy_ppm"))
  }

  /** B131 expectation table: second-digit Benford probabilities
    * p₂(d) = Σₖ₌₁..₉ log10(1 + 1/(10k+d)), generated ONCE at query
    * build and embedded in BOTH engines as e6 literals (the D19
    * no-runtime-transcendental rule — B89's first-digit expectation
    * is a single log10 both engines agree on; the 9-term sum here is
    * exactly where cross-libm drift could bite). */
  private lazy val benford2Table: Seq[(Long, Long)] =
    (0 to 9).map { d =>
      val p = (1 to 9).map(k => math.log10(1.0 + 1.0 / (10 * k + d))).sum
      (d.toLong, Math.round(p * 1e6))
    }

  /** B89/F27 expectation table: FIRST-digit Benford probabilities
    * log10(1+1/d) pinned as e6 integer literals once at query build and
    * embedded in BOTH engines (r14 advisory: the nine values sit far
    * from .5 rounding boundaries, but that guarantee was implicit while
    * each engine evaluated its own log10 — pinning makes the compared
    * frame carry no engine-evaluated float at all). Shared by the batch
    * gate, its streaming twin, and the MAD kernel.
    */
  private[graft] lazy val benford1Table: Seq[(Long, Long)] =
    (1 to 9).map(d => (d.toLong, Math.round(math.log10(1.0 + 1.0 / d) * 1e6)))

  private[graft] lazy val benford1ValuesSql: String =
    benford1Table.map { case (d, p) => s"($d::BIGINT, $p::BIGINT)" }.mkString(", ")

  /** B131: Benford SECOND-digit audit — the standard forensic
    * follow-up to B89 (first digits can conform while fabricated
    * values still skew the second digit; auditors run both): cents
    * totals ≥ 10 contribute their second decimal digit (identical
    * string extraction both engines), one 10-key aggregate, observed
    * shares as EXACT integral ppm against the literal-embedded
    * expectation. At 100 TB: one ≤10-key map-side-combined shuffle.
    */
  def qBenford2(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val h = orders(s, dir).select(cents.as("cents"))
      .filter(col("cents") >= 10)
      .select(substring(col("cents").cast("string"), 2, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val exp = s.createDataFrame(benford2Table).toDF("digit", "p_ben_e6")
    val t = broadcast(h.agg(sum(col("n_d")).as("n")))
    h.crossJoin(t).join(broadcast(exp), "digit")
      .select(col("digit"), col("n_d"),
        expr("(n_d * 1000000) div n").as("p_obs_ppm"),
        col("p_ben_e6"))
  }

  /** B90: day-of-week seasonality index of order revenue — the
    * calendar-profile complement of B85's autocorrelation (retail
    * load-shaping, anomaly baselines): dow from pure epoch-day integer
    * arithmetic ((days_since_1970 + 4) mod 7 — no engine calendar
    * convention in the loop; Spark's dayofweek is 1-based Sunday,
    * DuckDB's 0-based), one 7-row domain-bounded aggregate of exact
    * cent sums, index = (mean_d / mean_overall) as ONE exact integral
    * division of DECIMAL(38,0) cross products — float-free.
    */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val h = orders(s, dir)
      .groupBy(pmod(datediff(col("o_orderdate"), lit("1970-01-01")) + 4, lit(7))
        .cast("long").as("dow"))
      .agg(count(lit(1)).as("n_d"), sum(cents).as("s_d"))
    val t = broadcast(h.agg(sum(col("n_d")).as("n"), sum(col("s_d")).as("st")))
    h.crossJoin(t)
      .select(col("dow"), col("n_d"),
        expr("(CAST(s_d AS DECIMAL(38,0)) * n * 1000000) div " +
             "(CAST(n_d AS DECIMAL(38,0)) * st)").as("index_ppm"))
  }

  /** B85 helper: signed integral-division PPM ratio. Spark `div`
    * truncates toward zero while DuckDB `//` floors (the A34 finding) —
    * identical only for non-negative operands, so the sign is split out
    * and the division runs on |num|.
    */
  private def acPpm(num: String): Column =
    (when(col(num) >= 0, lit(1L)).otherwise(lit(-1L)) *
      expr(s"(abs($num) * 1000000) div den")).cast("long")

  /** B85: lag-1/2/3 autocorrelation of the daily revenue series — the
    * seasonality/trend screening statistic of time-series analysis,
    * exact to the last integer: the fact collapses to the DAY domain
    * first (one map-side-combined aggregate; the B61 cardinality bound
    * — the lag window runs over |days| rows, never the fact), daily
    * totals are exact cents, deviations are taken against the FLOOR
    * mean (S div n — exact integers, so deviation growth stays linear
    * in x and the squared products fit DECIMAL(38,0) at any corpus
    * scale; the 1-cent mean floor is part of the statistic's
    * definition, identical both engines), and each r_k is published as
    * a signed integral-division PPM — no float anywhere. Totals ride a
    * 1-row broadcast; Catalyst reuses the day-aggregate exchange for
    * both consumers (the B70 posture).
    */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").as("day")).agg(sum(cents).as("x"))
    val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"))
    val w = Window.orderBy(col("day"))
    daily.crossJoin(broadcast(tot))
      .withColumn("dv", col("x") - expr("sx div n_days"))
      .select(col("n_days"), col("day"),
              col("dv").cast("decimal(38,0)").as("dd"),
              lag(col("dv"), 1).over(w).cast("decimal(38,0)").as("l1"),
              lag(col("dv"), 2).over(w).cast("decimal(38,0)").as("l2"),
              lag(col("dv"), 3).over(w).cast("decimal(38,0)").as("l3"))
      .agg(max(col("n_days")).as("n_days"),
           sum(col("dd") * col("dd")).as("den"),
           sum(col("dd") * col("l1")).as("m1"),
           sum(col("dd") * col("l2")).as("m2"),
           sum(col("dd") * col("l3")).as("m3"))
      .select(col("n_days"), acPpm("m1").as("r1_ppm"),
              acPpm("m2").as("r2_ppm"), acPpm("m3").as("r3_ppm"))
  }

  /** The B85 oracle text, shared verbatim with B103's (via CTE
    * embedding) so the exact ppm autocorrelations feeding Ljung–Box
    * are the SAME values the gate already pins. */
  private val autocorrOracleSql: String =
    """WITH daily AS (SELECT o_orderdate AS day,
      |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS xs
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_days, SUM(xs) AS sxh FROM daily),
      |d0 AS (SELECT day,
      |    CAST(xs AS BIGINT) - (CAST(sxh AS BIGINT) // n_days) AS dv
      |  FROM daily CROSS JOIN tot),
      |dl AS (SELECT CAST(dv AS HUGEINT) AS dd,
      |    CAST(LAG(dv, 1) OVER (ORDER BY day) AS HUGEINT) AS l1,
      |    CAST(LAG(dv, 2) OVER (ORDER BY day) AS HUGEINT) AS l2,
      |    CAST(LAG(dv, 3) OVER (ORDER BY day) AS HUGEINT) AS l3
      |  FROM d0),
      |m AS (SELECT SUM(dd*dd) AS den, SUM(dd*l1) AS m1,
      |    SUM(dd*l2) AS m2, SUM(dd*l3) AS m3 FROM dl)
      |SELECT CAST(n_days AS BIGINT) AS n_days,
      |  CAST(CASE WHEN m1 >= 0 THEN (abs(m1) * 1000000) // den
      |       ELSE -((abs(m1) * 1000000) // den) END AS BIGINT) AS r1_ppm,
      |  CAST(CASE WHEN m2 >= 0 THEN (abs(m2) * 1000000) // den
      |       ELSE -((abs(m2) * 1000000) // den) END AS BIGINT) AS r2_ppm,
      |  CAST(CASE WHEN m3 >= 0 THEN (abs(m3) * 1000000) // den
      |       ELSE -((abs(m3) * 1000000) // den) END AS BIGINT) AS r3_ppm
      |FROM m CROSS JOIN tot""".stripMargin

  /** B103 statistic — ONE shared float text over (n, ρ₁..ρ₃ ppm):
    * Q = n(n+2) Σ ρ̂ₖ²/(n−k), each ρ̂ₖ reconstructed from its EXACT
    * ppm integer so both engines square identical doubles. */
  private val lbQSql =
    "CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) + 2.0) * (" +
      "(CAST(r1 AS DOUBLE)/1000000.0)*(CAST(r1 AS DOUBLE)/1000000.0)/(CAST(nd AS DOUBLE) - 1.0) + " +
      "(CAST(r2 AS DOUBLE)/1000000.0)*(CAST(r2 AS DOUBLE)/1000000.0)/(CAST(nd AS DOUBLE) - 2.0) + " +
      "(CAST(r3 AS DOUBLE)/1000000.0)*(CAST(r3 AS DOUBLE)/1000000.0)/(CAST(nd AS DOUBLE) - 3.0))"

  /** B103: Ljung–Box portmanteau test (the "is there ANY serial
    * correlation in the first m lags" gate run before fitting every
    * forecast model — statsmodels acorr_ljungbox intent, m = 3) on
    * the daily revenue series: the three autocorrelations are B85's
    * EXACT sign-split ppm integers (same derivation, same oracle text
    * via CTE embedding), and Q = n(n+2)Σρ̂ₖ²/(n−k) is ONE shared
    * float text over those integers — the only float step in the
    * query. Compare Q to χ²₍₃₎ quantiles downstream. At 100 TB: one
    * ≤|days|-key shuffle then domain-bounded lag work (identical to
    * B85's plan; the statistic is free once the ppm values exist).
    */
  def qLjungBox(s: SparkSession, dir: String): DataFrame =
    qAutocorr(s, dir)
      .select(col("n_days").as("nd"), col("r1_ppm").as("r1"),
              col("r2_ppm").as("r2"), col("r3_ppm").as("r3"))
      .select(col("nd").cast("long").as("n_days"),
              col("r1").as("r1_ppm"), col("r2").as("r2_ppm"),
              col("r3").as("r3_ppm"),
              dec6(expr(lbQSql)).as("q_lb"))

  /** The shared B94/B95 daily revenue series: fact → day domain in ONE
    * map-side-combined aggregate (the B61/B85 collapse), exact cents.
    */
  private[operators] def dailyRevenue(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("x"))

  /** B94: CUSUM changepoint detection on the daily revenue series —
    * THE classic "when did the level shift" audit (Page's cumulative
    * sum), exact to the last cent: deviations against the FLOOR mean
    * (S div n — the B85 rule: exact integers, linear operand growth),
    * S_t as a running sum over the |days| domain frame (never the
    * fact), and the changepoint is the argmax of |S_t| with an
    * earliest-day tie-break. Everything published is an exact integer
    * or a calendar day — float-free. At 100 TB: one ≤|days|-key
    * shuffle, then domain-bounded window work.
    */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(s, dir)
    val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"))
    val w  = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = daily.crossJoin(broadcast(tot))
      .withColumn("dev", col("x") - expr("sx div n_days"))
      .withColumn("st", sum(col("dev")).over(w).cast("decimal(38,0)"))
      .withColumn("abs_s", abs(col("st")))
    val pick = Window.orderBy(col("abs_s").desc, col("day").asc)
    st.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("n_days").cast("long").as("n_days"),
              date_format(col("day"), "yyyy-MM-dd").as("cp_day"),
              col("st").cast("long").as("s_at_cp"),
              col("abs_s").cast("long").as("max_abs_s"))
  }

  /** B142 shared formula text (the B84 convention: ONE double formula
    * string both engines evaluate over exact integer moments, so the
    * published doubles are bit-identical cross-engine). Central
    * moments from raw power sums — the textbook expansions:
    *   n²·m2 = n·S2 − S1²
    *   n³·m3 = n²·S3 − 3n·S1·S2 + 2S1³
    *   n⁴·m4 = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3S1⁴
    * evaluated in IEEE doubles (same op sequence both engines). */
  private[graft] val jbM2Sql =
    "(CAST(n AS DOUBLE)*CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))" +
      " / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE))"
  private[graft] val jbM3Sql =
    "(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(s3 AS DOUBLE)" +
      " - 3.0*CAST(n AS DOUBLE)*CAST(s1 AS DOUBLE)*CAST(s2 AS DOUBLE)" +
      " + 2.0*CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))" +
      " / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE))"
  private[graft] val jbM4Sql =
    "(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(s4 AS DOUBLE)" +
      " - 4.0*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(s1 AS DOUBLE)*CAST(s3 AS DOUBLE)" +
      " + 6.0*CAST(n AS DOUBLE)*CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)*CAST(s2 AS DOUBLE)" +
      " - 3.0*CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))" +
      " / (CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)*CAST(n AS DOUBLE))"
  private[graft] val jbSkewSql = "m3 / POWER(m2, 1.5)"
  private[graft] val jbKurtSql = "m4 / (m2 * m2)"
  private[graft] val jbStatSql =
    "(CAST(n AS DOUBLE) / 6.0) * (skew*skew + 0.25*(kurt - 3.0)*(kurt - 3.0))"

  /** B142: Jarque–Bera normality test per returnflag cohort on
    * l_quantity — the moment-based normality screen (Jarque & Bera
    * 1980) completing the hypothesis-test family (B66 KS is
    * distribution-vs-distribution; this is distribution-vs-GAUSSIAN
    * from skewness and excess kurtosis alone). ONE map-side-combined
    * conditional-moment pass collapses the fact to ≤3 rows of five
    * exact integer power sums (q ≤ 50 ⇒ Σq⁴ < 2⁶³ past 10¹² rows —
    * the B84 headroom note, an order beyond the 100 TB fact); skew,
    * kurtosis, and JB = n/6·(skew² + ¼(kurt−3)²) are closed forms
    * over those moments via shared formula text, so both engines
    * publish bit-identical doubles. No shuffle beyond the ≤3-key
    * hash aggregate.
    */
  def qJarqueBera(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    lineitem(s, dir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
           sum(x).as("s1"),
           sum(x * x).as("s2"),
           sum(x * x * x).as("s3"),
           sum(x * x * x * x).as("s4"))
      .withColumn("m2", expr(jbM2Sql))
      .withColumn("m3", expr(jbM3Sql))
      .withColumn("m4", expr(jbM4Sql))
      .withColumn("skew", expr(jbSkewSql))
      .withColumn("kurt", expr(jbKurtSql))
      .select(col("flag"), col("n"), col("s1"), col("s2"), col("s3"),
              col("s4"), dec6(col("skew")).as("skew"),
              dec6(col("kurt")).as("kurt"),
              dec4(expr(jbStatSql)).as("jb_stat"))
  }

  /** B143 shared formula: McNemar χ² with Edwards' continuity
    * correction, (|b−c|−1)²/(b+c), guarded NULL when b+c = 0 (no
    * discordant pairs ⇒ the test is undefined — both engines agree
    * by construction). */
  private val mcnemarSql =
    "CASE WHEN n01 + n10 = 0 THEN NULL ELSE " +
      "(ABS(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0)" +
      " * (ABS(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0)" +
      " / (CAST(n01 AS DOUBLE) + CAST(n10 AS DOUBLE)) END"

  /** B143: McNemar's paired test on customer activity 1996 → 1997 —
    * the PAIRED-proportions test (each customer is their own
    * control) the independent-samples B84/χ² machinery cannot
    * replace: per customer two binary flags (any order in 1996 / in
    * 1997) from ONE custkey max-aggregate over orders, the 2×2
    * concordant/discordant census (n01 = newly active, n10 =
    * churned), and the continuity-corrected statistic
    * (|b−c|−1)²/(b+c) over the discordant diagonal only — the
    * marginal-homogeneity question "did the active rate CHANGE"
    * asked correctly under pairing. Panel = customers with ≥1 order
    * ever (self-contained on the fact). At 100 TB: one custkey
    * shuffle (map-side combined CASE maxes), then a single-row
    * census; statistic via shared double formula text.
    */
  def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    val y96 = when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L)
    val y97 = when(year(col("o_orderdate")) === 1997, 1L).otherwise(0L)
    orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(max(y96).as("a"), max(y97).as("b"))
      .agg(count(lit(1)).as("n_customers"),
           sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L)).as("n00"),
           sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("n01"),
           sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n10"),
           sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n11"))
      .select(col("n_customers"), col("n00"), col("n01"), col("n10"),
              col("n11"), dec6(expr(mcnemarSql)).as("mcnemar_chi2"))
  }

  /** B144 shared formula: sample std-dev from exact integer moments,
    * s = sqrt((n·Q − S²)/(n·(n−1))), and G = (dev/1)·(1/s) with dev
    * the exact integer |n·x − S| div n (floor — both engines). */
  private val grubbsSSql =
    "sqrt((CAST(n_days AS DOUBLE)*CAST(q AS DOUBLE)" +
      " - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE))" +
      " / (CAST(n_days AS DOUBLE)*(CAST(n_days AS DOUBLE) - 1.0)))"
  private val grubbsGSql =
    "(CAST(max_abs_ndev AS DOUBLE) / CAST(n_days AS DOUBLE)) / " + grubbsSSql

  /** B144: Grubbs' maximum-deviation outlier test on daily revenue —
    * the single-outlier significance screen next to B123's 3σ census
    * and B141's MAD fence ("IS the most extreme day statistically
    * surprising under normality?"): the fact collapses to the ≤|days|
    * daily frame (map-side combined), moments n/ΣX/ΣX² are exact
    * integers (Q in DECIMAL(38,0) — cents² headroom), the peak day is
    * the argmax of the EXACT integer |n·x − S| (no float compare;
    * earliest-day tie-break), and G = max|x−x̄|/s via shared double
    * formula. At 100 TB: one bounded-domain aggregate; the rank work
    * never touches the fact.
    */
  def qGrubbs(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.core.Materialize.pin(dailyRevenue(s, dir))
    val mom = daily.agg(
      count(lit(1)).as("n_days"),
      sum(col("x")).as("s1"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("q"))
    val dev = daily.crossJoin(broadcast(mom))
      .withColumn("abs_ndev",
        abs(col("n_days") * col("x") - col("s1")).cast("decimal(38,0)"))
    val pick = Window.orderBy(col("abs_ndev").desc, col("day").asc)
    dev.withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("n_days"),
              col("s1").cast("long").as("s1"),
              date_format(col("day"), "yyyy-MM-dd").as("peak_day"),
              expr("CAST(abs_ndev div n_days AS BIGINT)").as("peak_dev_cents"),
              col("abs_ndev").as("max_abs_ndev"), col("q"))
      .select(col("n_days"), col("s1"), col("peak_day"),
              col("peak_dev_cents"),
              dec6(expr(grubbsGSql)).as("g_stat"))
  }

  /** B145 shared formula: pooled two-proportion z — the A/B
    * conversion test: z = (p1−p2)/sqrt(p̂(1−p̂)(1/n1+1/n2)) with
    * p̂ the pooled rate, every operand an exact integer count. */
  private[graft] val twoPropZSql =
    "(CAST(x1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(x2 AS DOUBLE)/CAST(n2 AS DOUBLE))" +
      " / sqrt( ((CAST(x1 AS DOUBLE)+CAST(x2 AS DOUBLE))/(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE)))" +
      " * (1.0 - (CAST(x1 AS DOUBLE)+CAST(x2 AS DOUBLE))/(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE)))" +
      " * (1.0/CAST(n1 AS DOUBLE) + 1.0/CAST(n2 AS DOUBLE)) )"

  /** B145: two-proportion z-test on purchase conversion, even- vs
    * odd-user cohorts — THE A/B-test readout (the experiment-analysis
    * shape every growth team runs daily), completing the test family
    * with the binomial-rate comparison: ONE conditional-count pass
    * over events (cohort = user_id % 2 — a deterministic split
    * standing in for the assignment column a real experiment
    * carries), exact integer counts, pooled z via shared formula
    * text, plus exact integral ppm conversion rates per cohort. At
    * 100 TB: a single map-side-combined aggregate to one row — no
    * shuffle at all beyond the 1-row combine.
    */
  def qTwoProportion(s: SparkSession, dir: String): DataFrame = {
    val even = col("user_id") % 2 === 0
    val isP  = col("event_type") === "purchase"
    events(s, dir)
      .agg(sum(when(even, 1L).otherwise(0L)).as("n1"),
           sum(when(even && isP, 1L).otherwise(0L)).as("x1"),
           sum(when(!even, 1L).otherwise(0L)).as("n2"),
           sum(when(!even && isP, 1L).otherwise(0L)).as("x2"))
      .select(col("n1"), col("x1"), col("n2"), col("x2"),
        expr("CAST((x1 * 1000000) div n1 AS BIGINT)").as("p1_ppm"),
        expr("CAST((x2 * 1000000) div n2 AS BIGINT)").as("p2_ppm"),
        dec6(expr(twoPropZSql)).as("z_stat"))
  }

  /** B154 shared z text — the ONE float step over five exact integers
    * (n, x, sx, sn, sn2): T = sx − x·sn/n over variance
    * p̄(1−p̄)(sn2 − sn²/n), the Cochran–Armitage linear-trend form. */
  private[graft] val caZSql =
    "CASE WHEN x = 0 OR x = n OR sn2 * n = sn * sn THEN NULL ELSE " +
      "(CAST(sx AS DOUBLE) - CAST(x AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE))" +
      " / sqrt( (CAST(x AS DOUBLE)/CAST(n AS DOUBLE))" +
      " * (1.0 - CAST(x AS DOUBLE)/CAST(n AS DOUBLE))" +
      " * (CAST(sn2 AS DOUBLE) - CAST(sn AS DOUBLE)*CAST(sn AS DOUBLE)/CAST(n AS DOUBLE)) ) END"

  /** B154: Cochran–Armitage trend test — does order-fulfilment
    * probability TREND monotonically across the five ordered priority
    * classes? The dose-response member of the experimentation family:
    * B145 compares two proportions, B76's χ² detects ANY association;
    * Cochran–Armitage spends its one degree of freedom on the ordered
    * alternative (scores s_k = priority rank 1..5), the standard test
    * wherever arms are ordered (spend tiers, dose levels, severity).
    * Sufficient statistics are FIVE exact integer sums folded in ONE
    * zero-shuffle aggregate over the fact (each row contributes its
    * score, score·success, score² — no per-group frame needed at
    * all); z is the shared one-float-step text over those integers
    * ([[caZSql]]), 6dp-rendered. The scan shape is the ideal one at
    * 100 TB: a single narrow projection pass with a map-side-partial
    * global aggregate.
    */
  def qCochranArmitage(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("k"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("succ"))
      .agg(count(lit(1)).as("n"), sum(col("succ")).as("x"),
        sum(col("k") * col("succ")).as("sx"),
        sum(col("k")).as("sn"),
        sum(col("k") * col("k")).as("sn2"))
      .select(col("n"), col("x"), col("sx"), col("sn"), col("sn2"),
        dec6(expr(caZSql)).as("z_stat"))

  /** B150 shared integral term texts (log-rank, per event day):
    * E₁ⱼ·e6 = dⱼ·n₁ⱼ·e6 div nⱼ and the hypergeometric variance
    * Vⱼ·e6 = dⱼ·n₁ⱼ·(nⱼ−n₁ⱼ)·(nⱼ−dⱼ)·e6 div (nⱼ²·(nⱼ−1)), split as
    * two chained integral divisions so every intermediate stays inside
    * DECIMAL(38,0)/long headroom at any corpus size (the B114
    * IntegralDivide-wraps lesson); all operands non-negative so Spark
    * `div` ≡ DuckDB `//` exactly. */
  private def logrankE(di: String, big: String): String =
    s"(CAST(d AS $big) * n1 * 1000000) $di n"
  private def logrankV(di: String, big: String): String =
    "CASE WHEN n <= 1 THEN 0 ELSE " +
      s"(CAST((CAST(d AS $big) * n1 * (n - n1) * 1000000) $di " +
      s"(CAST(n AS $big) * n) AS $big) * (n - d)) $di (n - 1) END"

  /** B150 χ² — the ONE float step, over the three exact integers. */
  private val logrankChiSql =
    "CASE WHEN v_e6 = 0 THEN NULL ELSE " +
      "((CAST(o1 AS DOUBLE) - CAST(e1_e6 AS DOUBLE)/1000000.0) * " +
      "(CAST(o1 AS DOUBLE) - CAST(e1_e6 AS DOUBLE)/1000000.0)) / " +
      "(CAST(v_e6 AS DOUBLE)/1000000.0) END"

  /** B150: log-rank test between the even/odd user cohorts'
    * time-to-purchase survival curves — the hypothesis-test companion
    * of B106's Kaplan–Meier (KM draws the curves, log-rank decides
    * whether they DIFFER; the standard readout of any retention or
    * conversion-latency experiment, Mantel–Haenszel form): same
    * duration construction as B106 (signup → first purchase,
    * right-censored at study end), the fact collapses to the ≤|days|
    * duration domain, per event day the 2×2 margins (d₁ⱼ, dⱼ, n₁ⱼ, nⱼ)
    * come from one bounded reverse-cumulative window (the B106
    * posture), E and V terms are EXACT e6 integers via shared integral
    * texts ([[logrankE]]/[[logrankV]] — integer sums are
    * order-independent, so no float-summation-order contract is even
    * needed), and only the published χ² is float via ONE shared text.
    * At 100 TB: one user-keyed aggregate then day-domain arithmetic.
    */
  def qLogRank(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("ts") >= col("s_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val endTs = ev.agg(max(col("ts")).as("end_ts"))
    val dur = su.join(firstP, Seq("user_id"), "left_outer")
      .crossJoin(broadcast(endTs))
      .select(
        when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("g1"),
        expr("(unix_micros(coalesce(p_ts, end_ts)) - unix_micros(s_ts)) " +
             "div 86400000000").as("dur"),
        col("p_ts").isNotNull.cast("long").as("e"))
    val days = dur.groupBy(col("dur"))
      .agg(sum(col("g1") * col("e")).as("d1"), sum(col("e")).as("d"),
           sum(col("g1")).as("t1"), count(lit(1)).as("t"))
    // ≤|days| duration-domain frame — bounded window, the B106 posture
    val wr = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days
      .withColumn("n1", sum(col("t1")).over(wr))
      .withColumn("n", sum(col("t")).over(wr))
      .filter(col("d") > 0)
      .agg(sum(col("d1")).cast("long").as("o1"),
           sum(expr(logrankE("div", "DECIMAL(38,0)"))).cast("long").as("e1_e6"),
           sum(expr(logrankV("div", "DECIMAL(38,0)"))).cast("long").as("v_e6"),
           count(lit(1)).as("n_days"))
      .select(col("o1"), col("e1_e6"), col("v_e6"), col("n_days"),
        dec6(expr(logrankChiSql)).as("chi2"))
  }

  /** B151 shared float texts over the exact cent moments: pooled
    * CUPED θ, raw/adjusted arm difference, variance-reduction ratio
    * (= sample ρ²), and the SRM z — one op sequence each. */
  private val cupedThetaSql =
    "(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))"
  private val cupedRawSql =
    "(CAST(sy1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(sy2 AS DOUBLE)/CAST(n2 AS DOUBLE)) / 100.0"
  private val cupedAdjSql =
    s"($cupedRawSql) - ($cupedThetaSql) * " +
      "(CAST(sx1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(sx2 AS DOUBLE)/CAST(n2 AS DOUBLE)) / 100.0"
  private val cupedVrSql =
    "((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) * " +
      "(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))) / " +
      "((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * " +
      "(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))"
  private val cupedSrmSql =
    "(CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE)) / sqrt(CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"

  /** B151: CUPED variance-reduced experiment readout (Deng et al.,
    * WSDM'13 — THE industry-standard A/B analysis: regress the
    * experiment-period metric on its own pre-period value and remove
    * the explained variance, shrinking the CI without touching the
    * expectation, since assignment is independent of the pre-period):
    * unit = customer, X = 1996 spend, Y = 1997 spend in EXACT cents
    * (customers ordering in either year; missing year = 0 — the
    * standard zero-fill), assignment = custkey parity standing in for
    * the experiment's bucket column. ONE custkey-keyed aggregate
    * collapses the fact, then a single-row census holds all nine
    * exact integer moments (n/Σx/Σy split by arm + pooled Σxx/Σxy/Σyy
    * — DECIMAL(38,0) cents² headroom); θ̂ = cov/var, the raw and
    * CUPED-adjusted lifts, the realized variance-reduction ratio ρ²,
    * and the Kohavi SRM z-guard (a sample-ratio mismatch voids any
    * readout — the published z is the health check reviewers demand
    * first) are each ONE shared float text over those integers. At
    * 100 TB: one custkey shuffle, then a 1-row combine — nothing else.
    */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val y96 = year(col("o_orderdate")) === 1996
    val y97 = year(col("o_orderdate")) === 1997
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val per = orders(s, dir).filter(y96 || y97)
      .groupBy(col("o_custkey"))
      .agg(sum(when(y96, cents).otherwise(0L)).as("x"),
           sum(when(y97, cents).otherwise(0L)).as("y"))
      .select(when(col("o_custkey") % 2 === 0, 1L).otherwise(0L).as("g1"),
              col("x"), col("y"))
    per.agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("g1")).cast("long").as("n1"),
        sum(lit(1L) - col("g1")).cast("long").as("n2"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(when(col("g1") === 1, col("x")).otherwise(0L).cast(dec)).as("sx1"),
        sum(when(col("g1") === 0, col("x")).otherwise(0L).cast(dec)).as("sx2"),
        sum(when(col("g1") === 1, col("y")).otherwise(0L).cast(dec)).as("sy1"),
        sum(when(col("g1") === 0, col("y")).otherwise(0L).cast(dec)).as("sy2"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("y").cast(dec) * col("y")).as("syy"))
      .select(col("n1"), col("n2"),
        dec6(expr(cupedSrmSql)).as("srm_z"),
        dec6(expr(cupedThetaSql)).as("theta"),
        dec4(expr(cupedRawSql)).as("raw_diff"),
        dec4(expr(cupedAdjSql)).as("adj_diff"),
        dec6(expr(cupedVrSql)).as("var_reduction"))
  }

  /** B152 Q statistic — ONE shared float text over exact integers:
    * Q = (k−1)·(k·ΣGⱼ² − T²) / (k·T − ΣLᵢ²), k = 3. */
  private val cochranQSql =
    "CASE WHEN 3*t - sll = 0 THEN NULL ELSE " +
      "2.0 * (3.0*CAST(sgg AS DOUBLE) - CAST(t AS DOUBLE)*CAST(t AS DOUBLE)) / " +
      "(3.0*CAST(t AS DOUBLE) - CAST(sll AS DOUBLE)) END"

  /** B152: Cochran's Q across THREE years of per-customer activity
    * (did the active-customer rate change across 1996/1997/1998? —
    * the k-treatment extension of B143's McNemar, same paired design:
    * each customer is their own control, so the between-customer
    * variance the independent-samples tests drown in cancels):
    * subjects = customers ordering in any of the three years, three
    * binary year flags from ONE custkey max-aggregate (the B143
    * shape), then a single-row census of exact integers — column
    * totals Gⱼ, T = ΣLᵢ, ΣLᵢ², ΣGⱼ² — and Q via one shared float
    * text, df = k−1 = 2; degenerate all-rows-identical case (kT =
    * ΣL²) NULL-guarded in both engines. At 100 TB: one custkey
    * shuffle then a 1-row combine.
    */
  def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val flags = orders(s, dir)
      .filter(year(col("o_orderdate")).isin(1996, 1997, 1998))
      .groupBy(col("o_custkey"))
      .agg(max(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L)).as("a"),
           max(when(year(col("o_orderdate")) === 1997, 1L).otherwise(0L)).as("b"),
           max(when(year(col("o_orderdate")) === 1998, 1L).otherwise(0L)).as("c"))
    flags.agg(
        count(lit(1)).as("n_subjects"),
        sum(col("a")).cast("long").as("g1"),
        sum(col("b")).cast("long").as("g2"),
        sum(col("c")).cast("long").as("g3"),
        sum(col("a") + col("b") + col("c")).cast(dec).as("t"),
        sum((col("a") + col("b") + col("c")) * (col("a") + col("b") + col("c")))
          .cast(dec).as("sll"))
      .withColumn("sgg", (col("g1") * col("g1") + col("g2") * col("g2") +
        col("g3") * col("g3")).cast(dec))
      .select(col("n_subjects"), col("g1"), col("g2"), col("g3"),
        col("t").cast("long").as("t_total"),
        dec6(expr(cochranQSql)).as("q_stat"))
  }

  /** B153 χ²_F — ONE shared float text over the exact doubled rank
    * sums (k = 3 treatments; R2ⱼ = 2·ΣRⱼ so Rⱼ = R2ⱼ/2):
    * χ² = 12/(n·k·(k+1))·ΣRⱼ² − 3n(k+1). */
  private val friedmanChiSql =
    "(CAST(r1 AS DOUBLE)*CAST(r1 AS DOUBLE) + CAST(r2 AS DOUBLE)*CAST(r2 AS DOUBLE) + " +
      "CAST(r3 AS DOUBLE)*CAST(r3 AS DOUBLE)) / 4.0 * 12.0 / " +
      "(CAST(nb AS DOUBLE) * 3.0 * 4.0) - 3.0 * CAST(nb AS DOUBLE) * 4.0"

  /** B153: Friedman test of returnflag mean-quantity across ship-month
    * BLOCKS (the blocked k-sample nonparametric — B110's Kruskal–Wallis
    * assumes independent groups, Friedman ranks WITHIN each month so
    * every month is its own control; the repeated-measures ANOVA
    * analogue): cell = (month, flag) mean quantity held as an EXACT
    * RATIONAL (Σq, count — never divided), within-month midranks by
    * CROSS-MULTIPLIED comparison (sqᵢ·cntⱼ vs sqⱼ·cntᵢ — a 3×3
    * per-month compare, float-free and tie-exact), doubled ranks so
    * midranks stay integral, rank sums exact integers, χ²_F via ONE
    * shared float text, df = k−1 = 2. At 100 TB: the fact collapses to
    * ≤|months|·3 cells in one aggregate; everything after is
    * domain-bounded. Months with all three flags present only
    * (complete blocks — the classical requirement).
    */
  def qFriedman(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = lineitem(s, dir)
      .groupBy(date_trunc("month", col("l_shipdate")).as("m"),
               col("l_returnflag").as("f"))
      .agg(sum(col("l_quantity").cast("long")).cast(dec).as("sq"),
           count(lit(1)).cast(dec).as("cnt"))
    val full = cells.groupBy(col("m")).agg(count(lit(1)).as("nf"))
      .filter(col("nf") === 3).select(col("m"))
    val c = cells.join(broadcast(full), "m")
    val o = c.select(col("m"), col("f").as("fo"), col("sq").as("sqo"),
                     col("cnt").as("cnto"))
    // 3×3 within-month compare: doubled midrank = 2·(#strictly-below)
    // + (#tied incl. self) + 1, decided by cross-multiplication
    val r2 = c.join(o, "m")
      .groupBy(col("m"), col("f"))
      .agg((sum(when(col("sqo") * col("cnt") < col("sq") * col("cnto"), 2L)
                .when(col("sqo") * col("cnt") === col("sq") * col("cnto"), 1L)
                .otherwise(0L)) + lit(1L)).as("rank2"))
    r2.groupBy()
      .agg(countDistinct(col("m")).as("nb"),
           sum(when(col("f") === "A", col("rank2")).otherwise(0L))
             .cast("long").as("r1"),
           sum(when(col("f") === "N", col("rank2")).otherwise(0L))
             .cast("long").as("r2"),
           sum(when(col("f") === "R", col("rank2")).otherwise(0L))
             .cast("long").as("r3"))
      .select(col("nb"), col("r1"), col("r2"), col("r3"),
        dec6(expr(friedmanChiSql)).as("chi2"))
  }

  /** B149: sketch-algebra audience overlap — the |A∩B| ≈ |A|+|B|−|A∪B|
    * inclusion–exclusion over three HLL sketches (the ad-tech /
    * product-analytics overlap question at 100 TB, where the exact
    * answer needs a user-keyed shuffle but the sketches are three
    * mergeable registers): viewers ∩ purchasers over events, the
    * EXACT overlap from one user-keyed flag aggregate as the oracle
    * anchor, the estimate from three `approx_count_distinct` passes
    * (map-side mergeable — at scale these fold in ONE scan with no
    * shuffle at all), and the B56 contract-flag posture: the
    * inclusion–exclusion estimate must land within 5·rsd·(|A|+|B|)
    * of truth (error compounds across three sketches — the bound is
    * the sum's, not one sketch's). Publishing the flag, not the
    * estimate, keeps the gate engine-portable (DuckDB cannot replay
    * Spark's HLL++ registers).
    */
  def qHllOverlap(s: SparkSession, dir: String): DataFrame = {
    val rsd = 0.01
    val ev = events(s, dir).filter(col("event_type").isin("view", "purchase"))
    val exact = ev
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("a"),
           max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
      .agg(sum(col("a")).as("n_view"), sum(col("b")).as("n_purchase"),
           count(lit(1)).as("n_union"),
           sum(col("a") * col("b")).as("n_both"))
    val approx = ev.agg(
      approx_count_distinct(when(col("event_type") === "view",
        col("user_id")), rsd).as("aa"),
      approx_count_distinct(when(col("event_type") === "purchase",
        col("user_id")), rsd).as("ab"),
      approx_count_distinct(col("user_id"), rsd).as("au"))
    exact.crossJoin(broadcast(approx))
      .select(col("n_view").cast("long").as("n_view"),
        col("n_purchase").cast("long").as("n_purchase"),
        col("n_union").cast("long").as("n_union"),
        col("n_both").cast("long").as("n_both"),
        (abs(col("aa") + col("ab") - col("au") - col("n_both")).cast("double")
          <= lit(5 * rsd) * (col("n_view") + col("n_purchase")).cast("double"))
          .cast("int").as("inter_in_bounds"))
  }

  /** B148 shared formulas (Bartlett, k = 3 groups): per-group sample
    * variance from exact moments, pooled variance, the ln-ratio
    * statistic and its correction factor — one double op sequence
    * both engines evaluate over identical integers. */
  private def bartV(i: Int): String =
    s"(CAST(n$i AS DOUBLE)*CAST(q$i AS DOUBLE) - CAST(s$i AS DOUBLE)*CAST(s$i AS DOUBLE))" +
      s" / (CAST(n$i AS DOUBLE)*(CAST(n$i AS DOUBLE) - 1.0))"
  private val bartSpSql =
    "((CAST(n1 AS DOUBLE) - 1.0)*v1 + (CAST(n2 AS DOUBLE) - 1.0)*v2" +
      " + (CAST(n3 AS DOUBLE) - 1.0)*v3)" +
      " / (CAST(n1 + n2 + n3 AS DOUBLE) - 3.0)"
  private val bartChiSql =
    "((CAST(n1 + n2 + n3 AS DOUBLE) - 3.0)*ln(vp)" +
      " - ((CAST(n1 AS DOUBLE) - 1.0)*ln(v1) + (CAST(n2 AS DOUBLE) - 1.0)*ln(v2)" +
      " + (CAST(n3 AS DOUBLE) - 1.0)*ln(v3)))" +
      " / (1.0 + ((1.0/(CAST(n1 AS DOUBLE) - 1.0) + 1.0/(CAST(n2 AS DOUBLE) - 1.0)" +
      " + 1.0/(CAST(n3 AS DOUBLE) - 1.0)) - 1.0/(CAST(n1 + n2 + n3 AS DOUBLE) - 3.0)) / 6.0)"

  /** B148: Bartlett's test of variance homogeneity across the three
    * returnflag cohorts on l_quantity — the PARAMETRIC equal-variance
    * screen next to B113's robust Brown–Forsythe (Bartlett is the
    * more powerful test when normality holds — which B142's JB now
    * checks; together they are the textbook pre-ANOVA battery): ONE
    * conditional-moment pass collapses the fact to a single row of
    * nine exact integer moments (the B84 shape — no per-group
    * shuffle), per-group and pooled variances plus the corrected
    * ln-ratio χ² via shared double formula text, df = k−1 = 2.
    */
  def qBartlett(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    def m(f: String, i: Int) = Seq(
      sum(when(col("l_returnflag") === f, 1L).otherwise(0L)).as(s"n$i"),
      sum(when(col("l_returnflag") === f, x)).as(s"s$i"),
      sum(when(col("l_returnflag") === f, x * x)).as(s"q$i"))
    val ms = m("A", 1) ++ m("N", 2) ++ m("R", 3)
    lineitem(s, dir)
      .agg(ms.head, ms.tail: _*)
      .withColumn("v1", expr(bartV(1)))
      .withColumn("v2", expr(bartV(2)))
      .withColumn("v3", expr(bartV(3)))
      .withColumn("vp", expr(bartSpSql))
      .select(col("n1"), col("s1"), col("q1"), col("n2"), col("s2"),
        col("q2"), col("n3"), col("s3"), col("q3"),
        dec6(expr(bartChiSql)).as("bartlett_chi2"),
        lit(2L).as("df"))
  }

  /** B146 shared formula: one-sample t on the paired differences,
    * t = d̄ / sqrt(s²_d/n) with s²_d from exact integer moments:
    * t = (S/n) / sqrt((n·Q − S²)/(n·(n−1)·n)). */
  private val pairedTSql =
    "(CAST(sd AS DOUBLE)/CAST(n AS DOUBLE)) / " +
      "sqrt((CAST(n AS DOUBLE)*CAST(qd AS DOUBLE)" +
      " - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))" +
      " / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE) - 1.0)*CAST(n AS DOUBLE)))"

  /** B146: paired t-test on per-customer spend 1996 → 1997 — the
    * within-subject mean-change test next to B143's McNemar (McNemar
    * answers "did the RATE change"; this answers "did the AMOUNT
    * change among customers active in both years"): per customer the
    * two conditional year sums in exact cents (one custkey
    * map-side-combined pass), the pair set = customers with ≥1 order
    * in BOTH years (the paired design's own denominator), d = Δcents,
    * exact integer moments n/Σd/Σd², t via shared double formula and
    * df = n−1. Moment headroom documented: Σd² < 2⁶³ while per-pair
    * |d| stays under ~10⁷ cents at 10⁵ pairs per shard — cast up at
    * the B84 rule's threshold if a corpus breaks it. At 100 TB: one
    * custkey shuffle then a single-row census.
    */
  def qPairedTtest(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val y = year(col("o_orderdate"))
    orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(when(y === 1996, cents).otherwise(0L)).as("c96"),
           max(when(y === 1996, 1L).otherwise(0L)).as("a96"),
           sum(when(y === 1997, cents).otherwise(0L)).as("c97"),
           max(when(y === 1997, 1L).otherwise(0L)).as("a97"))
      .filter(col("a96") === 1 && col("a97") === 1)
      .select((col("c97") - col("c96")).as("d"))
      // d² fits a Long per row (|d| < 2^31 cents) but Σd² overflows at
      // sf1 (~10⁵ customers × ~10¹⁷) — accumulate the sum of squares
      // in DECIMAL(38,0), the DuckDB-HUGEINT twin; the t formula reads
      // it through one exactly-rounded CAST TO DOUBLE on both engines
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
           sum((col("d") * col("d")).cast("decimal(38,0)")).as("qd"))
      .select(col("n"), col("sd"),
        expr("CAST(sd div n AS BIGINT)").as("mean_d_cents"),
        dec6(expr(pairedTSql)).as("t_stat"),
        (col("n") - 1).as("df"))
  }

  /** B147: fixed-size distributed uniform sample — the bottom-k-by-
    * hash idiom (the ONLY way to draw an exact-size uniform sample
    * from 100 TB in one pass: rank by a uniform deterministic hash,
    * keep the k smallest — Spark plans it as TakeOrderedAndProject,
    * a per-partition k-heap + driver merge of k·P rows, never a full
    * sort; B25's Bernoulli filter gives a BINOMIAL size, this gives
    * EXACTLY k). The hash is the B25 52-bit md5 prefix over the
    * order key with a dedicated tag, so membership is reproducible
    * across runs, engines, and cluster sizes — the property a
    * training-data sampler must have. Publishes the sample itself
    * (rank, key, cents) — deterministic because (h, key) is a total
    * order.
    */
  def qBottomkSample(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    orders(s, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
        TF.hexPrefix52(concat(lit("samp|"), col("o_orderkey"))).as("h"))
      .orderBy(col("h"), col("o_orderkey"))
      .limit(k)
      .select(row_number().over(
          Window.orderBy(col("h"), col("o_orderkey"))).cast("long").as("rank"),
        col("o_orderkey"), col("cents"))
  }

  /** B141: exact median absolute deviation (MAD) + robust-outlier
    * census on the daily revenue series — the robust dispersion
    * estimator the σ-based anomaly screen (B123) breaks on under
    * heavy tails (50% breakdown vs 0%): median as the two middle
    * order statistics over the ≤|days| frame (floor-median contract:
    * med = (m_lo + m_hi) div 2, exact integral — the B95 middle-
    * statistics posture), deviations |x − med| re-ranked the same
    * way for the MAD, and outliers = days with |x − med| > 3·MAD
    * (the classic robust z-score at the 3-MAD fence). Exact integers
    * only. At 100 TB: one ≤|days|-key map-side-combined aggregate,
    * then rank work over the bounded day domain — the fact is never
    * sorted or windowed.
    */
  def qMad(s: SparkSession, dir: String): DataFrame = {
    // pin: the ≤|days| frame feeds three consumers (median, dev, census)
    val daily = graft.core.Materialize.pin(dailyRevenue(s, dir))
    val nAgg = broadcast(daily.agg(count(lit(1)).as("n")))
    val wx = Window.orderBy(col("x"), col("day"))
    val med = broadcast(daily.crossJoin(nAgg)
      .withColumn("rn", row_number().over(wx))
      .filter(col("rn") === expr("(n+1) div 2") ||
              col("rn") === expr("(n+2) div 2"))
      .agg(expr("(min(x) + max(x)) div 2").as("med")))
    val dev = daily.crossJoin(med)
      .select(col("day"), abs(col("x") - col("med")).as("d"), col("med"))
    val wd = Window.orderBy(col("d"), col("day"))
    val mad = broadcast(dev.crossJoin(nAgg)
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") === expr("(n+1) div 2") ||
              col("rn") === expr("(n+2) div 2"))
      .agg(expr("(min(d) + max(d)) div 2").as("mad")))
    dev.crossJoin(mad).crossJoin(nAgg)
      .agg(max(col("n")).as("n_days"),
           max(col("med")).cast("long").as("med_cents"),
           max(col("mad")).cast("long").as("mad_cents"),
           sum(when(col("d") > col("mad") * 3, 1L).otherwise(0L))
             .as("n_outlier_days"))
  }

  /** B140: Page–Hinkley drift detection on the daily revenue series —
    * THE sequential (online-capable) changepoint test next to B94's
    * retrospective CUSUM (Page 1954; the standard concept-drift
    * monitor in streaming ML): m_t = Σ_{i≤t}(x_i − x̄_i) with the
    * INCREMENTAL mean x̄_i = (Σ_{j≤i} x_j) div i (exact integral —
    * the B85 rule), PH_t = m_t − min_{j≤t} m_j, alarm when PH_t
    * exceeds λ = 10·x̄_global (fixture-calibrated so the audit has
    * signal at every sf; the stream twin F43 takes λ as a
    * parameter). Publishes the peak, first alarm, and alarm-day
    * census — exact integers and calendar days only. At 100 TB: one
    * ≤|days|-key map-side-combined aggregate, then windows over the
    * bounded day domain (never the fact).
    */
  def qPageHinkley(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(s, dir)
    val g = broadcast(daily.agg(
      expr("sum(x) div count(1)").cast("decimal(38,0)").as("gmean")))
    val wc = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = daily
      .withColumn("cx", sum(col("x")).over(wc))
      .withColumn("i", count(lit(1)).over(wc))
      .withColumn("dev", col("x") - expr("cx div i"))
      .withColumn("mt", sum(col("dev")).over(wc).cast("decimal(38,0)"))
      .withColumn("mmin", min(col("mt")).over(wc))
      .withColumn("ph", (col("mt") - col("mmin")).cast("decimal(38,0)"))
    ph.crossJoin(g)
      .agg(count(lit(1)).as("n_days"),
           max(col("gmean")).cast("long").as("gmean_cents"),
           max(col("ph")).cast("long").as("max_ph"),
           expr("min_by(day, struct(CAST(-ph AS DECIMAL(38,0)), day))")
             .as("peak_day_ts"),
           sum(when(col("ph") > col("gmean") * 10, 1L).otherwise(0L))
             .as("n_alarm_days"),
           min(when(col("ph") > col("gmean") * 10, col("day")))
             .as("first_alarm_ts"),
           min(col("mt")).cast("long").as("min_m"))
      .select(col("n_days"), col("gmean_cents"), col("max_ph"),
        date_format(col("peak_day_ts"), "yyyy-MM-dd").as("peak_day"),
        col("n_alarm_days"),
        date_format(col("first_alarm_ts"), "yyyy-MM-dd").as("first_alarm_day"),
        col("min_m"))
  }

  /** B95: Theil–Sen slope of daily revenue over time — the robust
    * (29%-breakdown) trend estimator next to B32's OLS forecast:
    * pairwise slopes over the DAY DOMAIN (|days|² pairs — corpus-
    * independent work, the fact itself is never self-joined), each
    * slope quantized to exact e6 cents/day via the sign-split
    * integral division (the B85 acPpm rule — the published statistic
    * is the EXACT median of that quantized multiset, a well-defined
    * contract), and the median found by cumulative counts over the
    * slope-value frame (the B61 shape) — no global row sort. The
    * domain self-join broadcasts one side (BroadcastNestedLoopJoin on
    * a ≤|days|-row build — never a cartesian of facts). Publishes the
    * two middle order statistics m_lo/m_hi (equal when the pair count
    * is odd). At 100 TB: identical plan, identical cost.
    */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    // the day frame is STRUCTURALLY ≤|days| (a calendar, not the
    // corpus), so the |days|²/2 slope multiset is a driver-side fit
    // artifact — the B156 bounded-matrix posture: ONE distributed
    // fact collapse, then exact integer arithmetic on ≤ ~10⁶ slopes
    // in driver arrays. This replaced a 4-job pipeline (pin + count +
    // BNLJ pair join + sort/zipWithIndex) that spent 7.4 s at sf0.1
    // on scheduling, not work; the epoch-day conversion stays IN SQL
    // so the gap semantics are datediff's, bit-identically.
    val daily = dailyRevenue(s, dir)
      .select(datediff(col("day"), to_date(lit("1970-01-01")))
        .cast("long").as("d"), col("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = daily.length
    val slopes = new Array[Long](n * (n - 1) / 2)
    val e6 = java.math.BigInteger.valueOf(1000000L)
    var idx = 0; var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val gap = daily(j)._1 - daily(i)._1
        val dx = daily(j)._2 - daily(i)._2
        // same integer text as before: sign · (|dx|·10⁶ div gap),
        // product in big-integer space (the decimal(38,0) headroom)
        val q = java.math.BigInteger.valueOf(math.abs(dx)).multiply(e6)
          .divide(java.math.BigInteger.valueOf(gap)).longValueExact()
        slopes(idx) = if (dx >= 0) q else -q
        idx += 1; j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(slopes)
    val np = slopes.length.toLong
    val k1 = ((np + 1) / 2).toInt
    val k2 = ((np + 2) / 2).toInt
    s.range(1).select(
      lit(np).as("n_pairs"),
      lit(math.min(slopes(k1 - 1), slopes(k2 - 1))).as("m_lo"),
      lit(math.max(slopes(k1 - 1), slopes(k2 - 1))).as("m_hi"))
  }

  /** B157 constants (the bootCdf52/D19 rule: transcendentals evaluate
    * ONCE here and embed as integer literals in BOTH engines — no
    * runtime ln whose last ulp could diverge): per-event log-likelihood
    * ratio increments for H0: p=0.15 vs H1: p=0.20, e6-quantized, and
    * the Wald boundaries ln((1−β)/α), ln(β/(1−α)) at α=β=0.05. */
  private[graft] val sprtC1: Long = Math.round(Math.log(0.20 / 0.15) * 1e6)
  private[graft] val sprtC0: Long = Math.round(Math.log(0.80 / 0.85) * 1e6)
  private[graft] val sprtC1e: Long = Math.round(Math.log(0.21 / 0.19) * 1e6)
  private[graft] val sprtC0e: Long = Math.round(Math.log(0.79 / 0.81) * 1e6)
  private[graft] val sprtA: Long = Math.round(Math.log(0.95 / 0.05) * 1e6)

  /** B157: Wald's SPRT — the SEQUENTIAL early-stopping readout the
    * fixed-horizon tests (B145/B152/B154) can't give: "stop the
    * experiment the day the evidence crosses the boundary", the
    * foundation of every modern always-valid-inference dashboard.
    * Daily-batched form: the fact collapses to the ≤|days| conversion
    * frame (n events, x purchases per day — one bounded aggregate),
    * the cumulative log-likelihood ratio walk is EXACT integer
    * arithmetic (x·C1 + (n−x)·C0 per day with the pre-generated e6
    * literal increments, summed over the day-domain window), and the
    * decision is the first boundary crossing: min day with
    * cum ≥ ln((1−β)/α)·10⁶ (accept H1) or ≤ −that (accept H0);
    * 0 = still running. Publishes the crossing day, the LLR there,
    * and the end-of-data LLR. At 100 TB: one day-key shuffle; the
    * walk and windows never touch the fact.
    */
  private def sprtArm(s: SparkSession, dir: String, metric: String,
                      evType: String, c1: Long, c0: Long): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("event_type") === evType, 1L).otherwise(0L)).as("x"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = daily
      .withColumn("cum",
        sum(col("x") * lit(c1) + (col("n") - col("x")) * lit(c0)).over(w))
    val agg = walk.agg(
      count(lit(1)).as("n_days"),
      min(when(col("cum") >= sprtA, col("day"))).as("d_up"),
      min(when(col("cum") <= -sprtA, col("day"))).as("d_dn"),
      max_by(col("cum"), col("day")).as("final_llr_e6"))
    val dec = agg.select(col("n_days"),
      when(col("d_up").isNotNull &&
           (col("d_dn").isNull || col("d_up") <= col("d_dn")), lit(1))
        .when(col("d_dn").isNotNull, lit(-1))
        .otherwise(lit(0)).as("decision"),
      when(col("d_up").isNotNull &&
           (col("d_dn").isNull || col("d_up") <= col("d_dn")), col("d_up"))
        .otherwise(col("d_dn")).as("dday"),
      col("final_llr_e6"))
    dec.join(walk.select(col("day"), col("cum")),
        dec("dday") === walk("day"), "left")
      .select(lit(metric).as("metric"),
        col("n_days"),
        col("decision"),
        date_format(col("dday"), "yyyy-MM-dd").as("decision_day"),
        col("cum").cast("long").as("llr_at_decision_e6"),
        col("final_llr_e6").cast("long").as("final_llr_e6"))
  }

  def qSprt(s: SparkSession, dir: String): DataFrame =
    sprtArm(s, dir, "purchase_uplift", "purchase", sprtC1, sprtC0)
      .union(sprtArm(s, dir, "error_drift", "error", sprtC1e, sprtC0e))

  /** A49 thresholds: the Poisson(1) CDF at k = 0..6, scaled to the
    * 52-bit md5 domain and generated ONCE here — embedded as literals
    * in BOTH engines (the D19 rule: no runtime transcendentals whose
    * last ulp could diverge). w(u) = #{k : t_k ≤ u} caps at 7. */
  private[graft] val bootCdf52: Seq[Long] = {
    val e1 = math.exp(-1.0)
    var cum = 0.0
    var fact = 1.0
    (0 to 6).map { k =>
      if (k > 0) fact *= k
      cum += e1 / fact
      math.round(cum * 4503599627370496.0) // × 2^52
    }
  }

  /** A49: Poisson bootstrap of the mean daily revenue (Chamandy et al.
    * 2012 — THE distributed bootstrap: independent Poisson(1) weights
    * per (row, replicate) need no global resample coordination, which
    * is why it's the production bootstrap at fleet scale): 20
    * replicates over the day domain, each weight an EXACT integer from
    * the md5-uniform u52 against the literal CDF thresholds
    * ([[bootCdf52]]), each replicate's mean an exact e6 integral
    * division, and the published spread (SD over replicate means) the
    * ONE shared float text. Publishes n_reps, the grand mean, SD, and
    * the exact min/max replicate means — the CI a dashboard draws. At
    * 100 TB: one day-domain collapse + a ×20 domain fan-out; weights
    * are per-partition pure functions, zero coordination.
    */
  def qBootstrap(s: SparkSession, dir: String): DataFrame = {
    val reps = 20
    val daily = graft.core.Materialize.pin(dailyRevenue(s, dir))
    val r = s.range(1, reps + 1).toDF("r")
    val cmp = bootCdf52.map(t => s"(CASE WHEN $t <= u52 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val weighted = daily.crossJoin(broadcast(r))
      .withColumn("u52", TF.hexPrefix52(
        concat(lit("bs|"), col("r"), lit("|"),
               date_format(col("day"), "yyyy-MM-dd"))))
      .withColumn("wt", expr(cmp).cast("decimal(38,0)"))
    val means = weighted.groupBy(col("r"))
      .agg(sum(col("wt") * col("x")).cast("decimal(38,0)").as("sx"),
           sum(col("wt")).cast("decimal(38,0)").as("sw"))
      .select(col("r"),
        expr("CAST((sx * 1000000) div sw AS DECIMAL(38,0))").as("m6"))
    means.agg(count(lit(1)).cast("decimal(38,0)").as("nr"),
              sum(col("m6")).as("sm"),
              sum(col("m6") * col("m6")).as("sq"),
              min(col("m6")).cast("long").as("min_mean_e6"),
              max(col("m6")).cast("long").as("max_mean_e6"))
      .select(col("nr").cast("long").as("n_reps"),
              expr("CAST(sm div nr AS BIGINT)").as("grand_mean_e6"),
              dec6(expr(bootSdSql)).as("sd_cents"),
              col("min_mean_e6"), col("max_mean_e6"))
  }

  /** A49 spread — ONE shared float text over the exact e6 replicate
    * sums (sample SD, divided back to cents). */
  private val bootSdSql =
    "sqrt((CAST(sq AS DOUBLE) - CAST(sm AS DOUBLE)*CAST(sm AS DOUBLE)/CAST(nr AS DOUBLE)) / " +
      "(CAST(nr AS DOUBLE) - 1.0)) / 1000000.0"

  /** B101 z-statistic (normal approximation with continuity
    * correction) — ONE shared float text over the exact integers S and
    * the ×18 variance numerator, so the IEEE op sequence is identical
    * cross-engine; the S = 0 branch is decided by exact integer
    * comparison. */
  private val mkZSql =
    "CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / " +
      "sqrt(CAST(vn AS DOUBLE) / 18.0) " +
    "WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / " +
      "sqrt(CAST(vn AS DOUBLE) / 18.0) ELSE 0.0 END"

  /** B101: Mann–Kendall trend test on the daily revenue series — the
    * HYPOTHESIS-TEST companion of B95's Theil–Sen slope (the two are
    * always reported together in trend monitoring: MK decides IF a
    * monotone trend exists, Theil–Sen says how steep): S = Σ_{i<j}
    * sign(x_j − x_i) over the DAY DOMAIN (|days|² pairs — corpus-
    * independent, the fact is never self-joined; one side broadcast →
    * BNLJ, never a cartesian of facts), the tie-corrected variance
    * numerator 18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5) from exact
    * integer aggregates over the value-count frame, and only the
    * published z is float via the shared [[mkZSql]] text (continuity-
    * corrected, S = 0 decided exactly). At 100 TB: one ≤|days|-key
    * shuffle, then domain-bounded pair work.
    */
  def qMannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.core.Materialize.pin(dailyRevenue(s, dir))
    val a = daily.select(col("day").as("d1"), col("x").as("x1"))
    val b = daily.select(col("day").as("d2"), col("x").as("x2"))
    val sFrame = a.join(broadcast(b), col("d2") > col("d1"))
      .agg(coalesce(sum(when(col("x2") > col("x1"), 1L)
          .when(col("x2") < col("x1"), -1L).otherwise(0L)), lit(0L))
        .cast("decimal(38,0)").as("s"))
    val nFrame = daily.agg(count(lit(1)).cast("decimal(38,0)").as("n"))
    val tFrame = daily.groupBy(col("x"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
      .filter(col("c") > 1)
      .agg(coalesce(sum(col("c") * (col("c") - 1) * (col("c") * 2 + 5)),
        lit(0)).cast("decimal(38,0)").as("tt"))
    nFrame.crossJoin(broadcast(sFrame)).crossJoin(broadcast(tFrame))
      .withColumn("vn",
        col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tt"))
      .select(col("n").cast("long").as("n_days"),
              col("s").cast("long").as("s"),
              col("vn").cast("long").as("var_num_x18"),
              dec6(expr(mkZSql)).as("z"))
  }

  /** B102 z-statistic — ONE shared float text over the exact integers
    * (runs R, above/below counts), identical IEEE sequence both
    * engines. */
  private val runsZSql =
    "(CAST(r AS DOUBLE) - (2.0*CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE) / " +
      "(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE)) + 1.0)) / " +
    "sqrt(2.0*CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE) * " +
      "(2.0*CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE) - CAST(n1 AS DOUBLE) - " +
        "CAST(n2 AS DOUBLE)) / " +
      "((CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE)) * " +
       "(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE)) * " +
       "(CAST(n1 AS DOUBLE)+CAST(n2 AS DOUBLE) - 1.0)))"

  /** B102: Wald–Wolfowitz runs test on the daily revenue series — the
    * RANDOMNESS screen of the time-series audit family (B94 asks
    * "where did the level shift", B101 "is there a trend", this one
    * "is the sequence even random"): each day classified above/below
    * the series' LOWER MEDIAN (the exact (n+1)/2-th order statistic
    * via cumulative counts over the value frame — the B61 shape, no
    * global row sort; days equal to the median are excluded, the
    * classical convention), the run count R = 1 + Σ[sign ≠ lag(sign)]
    * from a lag over the day-ordered ≤|days| frame, and only the
    * published z is float via the shared [[runsZSql]] text. At
    * 100 TB: one ≤|days|-key shuffle, then domain-bounded window
    * work.
    */
  def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.core.Materialize.pin(dailyRevenue(s, dir))
    val vc = daily.groupBy(col("x")).agg(count(lit(1)).as("c"))
    val n = daily.count()
    val k1 = (n + 1) / 2
    val wv = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = vc.withColumn("cum", sum(col("c")).over(wv))
      .filter(col("cum") >= k1)
      .agg(min(col("x")).as("med"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("x") =!= col("med"))
      .select(col("day"), (col("x") > col("med")).cast("long").as("sg"))
    val wd = Window.orderBy(col("day"))
    val runs = signed
      .withColumn("brk",
        when(lag(col("sg"), 1).over(wd).isNull, 1L)
          .when(lag(col("sg"), 1).over(wd) =!= col("sg"), 1L)
          .otherwise(0L))
      .agg(sum(col("brk")).cast("decimal(38,0)").as("r"),
           sum(col("sg")).cast("decimal(38,0)").as("n1"),
           sum(lit(1L) - col("sg")).cast("decimal(38,0)").as("n2"))
    runs.select(col("n1").cast("long").as("n_above"),
                col("n2").cast("long").as("n_below"),
                col("r").cast("long").as("runs"),
                dec6(expr(runsZSql)).as("z"))
  }

  /** B100: classical additive seasonal decomposition of daily revenue
    * (statsmodels seasonal_decompose intent: x = trend + seasonal +
    * residual) — EXACT to the last integer: trend is the centered
    * 7-observation moving average as an e6-scaled integral division
    * (non-negative operands, floor == truncate both engines),
    * detrended values are exact e6-cent integers, the per-day-of-week
    * seasonal component is a sign-split integral division of the dow
    * sums (the B85 acPpm rule — detrended values go negative), and
    * the published per-dow diagnostics (seasonal level, mean absolute
    * residual) are again sign-split/floor divisions. dow from pure
    * epoch-day arithmetic (the B90 rule — no engine calendar in the
    * loop). Float-free end to end. At 100 TB: one ≤|days|-key shuffle
    * then bounded window/aggregate work.
    */
  def qDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(s, dir)
      .select(col("day"), col("x").cast("decimal(38,0)").as("x"),
        pmod(datediff(col("day"), lit("1970-01-01")) + 4, lit(7))
          .cast("long").as("dow"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val detr = daily
      .select(col("day"), col("dow"),
        (col("x") * 1000000).as("x6"),
        sum(col("x")).over(w).as("ws"),
        count(lit(1)).over(w).cast("decimal(38,0)").as("wc"))
      .select(col("day"), col("dow"),
        (col("x6") - expr("(ws * 1000000) div wc")).as("d"))
    val sea = detr.groupBy(col("dow"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_days"),
           sum(col("d")).as("sd"))
      .select(col("dow"), col("n_days"),
        (when(col("sd") >= 0, lit(1L)).otherwise(lit(-1L)) *
          expr("abs(sd) div n_days")).cast("decimal(38,0)").as("s6"))
    detr.join(broadcast(sea), "dow")
      .select(col("dow"), col("n_days"), col("s6"),
        abs(col("d") - col("s6")).as("ar"))
      .groupBy(col("dow"))
      .agg(max(col("n_days")).as("n_days"), max(col("s6")).as("s6"),
           sum(col("ar")).as("sar"))
      .select(col("dow"), col("n_days").cast("long").as("n_days"),
        col("s6").cast("long").as("seasonal_e6"),
        expr("sar div n_days").cast("long").as("mean_abs_resid_e6"))
  }

  /** B99 per-row correlation — shared float text over the exact
    * windowed integer moments; NULL (not NaN) when either variance
    * term is zero, decided by EXACT integer comparison so both
    * engines agree on the null set. */
  private val rollCorrSql =
    "CASE WHEN wn*sxx - sx*sx > 0 AND wn*syy - sy*sy > 0 THEN " +
      "(CAST(wn*sxy - sx*sy AS DOUBLE)) / " +
      "(sqrt(CAST(wn*sxx - sx*sx AS DOUBLE)) * " +
       "sqrt(CAST(wn*syy - sy*sy AS DOUBLE))) ELSE NULL END"

  /** B99: 30-observation rolling correlation between daily revenue
    * and daily order count — the co-movement monitor of operational
    * dashboards (and the windowed twin of B17's global Pearson): the
    * fact collapses to the day domain (B61), six exact integer moment
    * sums run in ONE trailing window over the ≤|days| frame, and the
    * per-day ρ is a single shared float text with the zero-variance
    * null set decided by exact integer comparison (cross-engine NaN
    * divergence is impossible by construction). Day gaps mean
    * "trailing 30 observations", not calendar days — documented
    * contract. At 100 TB: one ≤|days|-key shuffle, bounded window.
    */
  def qRollCorr(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val daily = orders(s, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(cents).cast("decimal(38,0)").as("x"),
           count(lit(1)).cast("decimal(38,0)").as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-29, Window.currentRow)
    daily
      .select(col("day"),
        count(lit(1)).over(w).cast("decimal(38,0)").as("wn"),
        sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("y") * col("y")).over(w).as("syy"),
        sum(col("x") * col("y")).over(w).as("sxy"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("wn").cast("long").as("n_win"),
        dec6(expr(rollCorrSql)).as("roll_corr"))
  }

  /** B98: market-basket association mining — brand-pair LIFT over
    * orders (the retail affinity query; Agrawal's frequent-itemset
    * shape bounded by the brand domain): distinct (order, brand) pairs
    * from the lineitem∘part meet, co-occurrence via an ORDER-KEYED
    * equi-self-join (co-partitioned on the join key, ≤C(25,2) pairs
    * per order — never a cartesian), and lift published as an EXACT
    * integral-division PPM: (n_ab·N·10⁶) div (n_a·n_b) — float-free
    * end to end. Top-20 by (lift DESC, brands) through the distributed
    * TakeOrderedAndProject. At 100 TB: two key shuffles (dim meet +
    * pair join) and a ≤625-row stats frame.
    */
  def qBasketLift(s: SparkSession, dir: String): DataFrame = {
    // pinned + ok-keyed before the distinct — same rationale and plan
    // shape as qAssocRules (r15 optimization, guide §2.4)
    val ob = graft.core.Materialize.pin(
      lineitem(s, dir).select(col("l_orderkey").as("ok"), col("l_partkey"))
        .join(part(s, dir).select(col("p_partkey"), col("p_brand")),
              col("l_partkey") === col("p_partkey"))
        .select(col("ok"), col("p_brand").as("brand"))
        .repartition(col("ok"))
        .distinct())
    val tot = ob.select(col("ok")).distinct()
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_orders"))
    val perBrand = ob.groupBy(col("brand"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_brand"))
    val a = ob.select(col("ok"), col("brand").as("brand_a"))
    val b = ob.select(col("ok"), col("brand").as("brand_b"))
    val pairs = a.join(b, Seq("ok"))
      .filter(col("brand_a") < col("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_ab"))
    val ranked = pairs
      .join(broadcast(perBrand.select(col("brand").as("brand_a"),
        col("n_brand").as("n_a"))), "brand_a")
      .join(broadcast(perBrand.select(col("brand").as("brand_b"),
        col("n_brand").as("n_b"))), "brand_b")
      .crossJoin(broadcast(tot))
      .select(col("brand_a"), col("brand_b"),
        col("n_ab").cast("long").as("n_ab"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        col("n_orders").cast("long").as("n_orders"),
        expr("CAST((n_ab * n_orders * 1000000) div (n_a * n_b) AS BIGINT)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("brand_a"), col("brand_b"))
      .limit(20)
    val out = graft.core.Materialize.pin(ranked)
    graft.core.Materialize.release(ob)
    out
  }

  /** Exact half-away-from-zero rounding of a/10 — DECIMAL ROUND
    * semantics (what the oracle's `ROUND(0.3*x + …)` computes, since
    * 0.3 is DECIMAL there, not float), in pure integers. */
  private def roundDiv10(a: Long): Long =
    if (a >= 0) (a + 5L) / 10L else -((-a + 5L) / 10L)

  /** The B96 state recursion as a pure kernel: Holt's linear trend
    * (α=0.3, β=0.1) with BOTH state variables exact e6 integers.
    * FLOAT-FREE (the B111 tenths rule, adopted r10): the smoothing
    * constants are rational tenths, so each update is one exact
    * integral division — l ← round((3·x·e6 + 7(l+b))/10), b ←
    * round(((l'−l) + 9b)/10). The previous double form lost exactness
    * above 2^53 (daily cents·e6 at 10× sf0.1 crosses it) and drifted
    * last digits against the oracle's exact DECIMAL recursive CTE —
    * caught by the r10 cross-scale run. Math.*Exact: a state overflow
    * is loud, never a silent wrap.
    */
  private[graft] def holtStep(lq: Long, bq: Long, xCents: Long): (Long, Long) = {
    val nl = roundDiv10(Math.addExact(
      Math.multiplyExact(3L, Math.multiplyExact(xCents, 1000000L)),
      Math.multiplyExact(7L, Math.addExact(lq, bq))))
    val nb = roundDiv10(Math.addExact(Math.subtractExact(nl, lq),
      Math.multiplyExact(9L, bq)))
    (nl, nb)
  }

  /** B96: Holt double-exponential smoothing of daily revenue (level +
    * trend — THE operational forecast baseline next to B32's OLS and
    * B52's single EWMA): the fact collapses to the day domain (B61),
    * and the inherently SEQUENTIAL recursion runs once over the
    * ≤|days| frame in a single bounded partition (the A38 posture:
    * corpus-independent sequential work is fine when the domain is
    * bounded — the 100 TB fact never enters the recursion). State is
    * e6-integer quantized every step ([[holtStep]]), so level, trend
    * and the h-step forecasts l + h·b are EXACT integers — float-free
    * output. Init: l₁ = x₁, b₁ = x₂ − x₁ (the classical convention).
    */
  def qHolt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val daily = dailyRevenue(s, dir)
    val schema = StructType(Seq(
      StructField("n_days", LongType, nullable = false),
      StructField("level_e6", LongType, nullable = false),
      StructField("trend_e6", LongType, nullable = false),
      StructField("f1_e6", LongType, nullable = false),
      StructField("f7_e6", LongType, nullable = false),
      StructField("f30_e6", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    daily.coalesce(1).sortWithinPartitions(col("day"))
      .select(col("x").cast("long"))
      .mapPartitions { it =>
        val xs = it.map(_.getLong(0))
        if (!xs.hasNext) Iterator.empty
        else {
          val x1 = xs.next()
          if (!xs.hasNext) {
            val lq = x1 * 1000000L
            Iterator.single(Row(1L, lq, 0L, lq, lq, lq))
          } else {
            val x2 = xs.next()
            var lq = x1 * 1000000L
            var bq = x2 * 1000000L - x1 * 1000000L
            var n  = 1L
            var cur = x2
            var more = true
            while (more) {
              val (nl, nb) = holtStep(lq, bq, cur)
              lq = nl; bq = nb; n += 1
              if (xs.hasNext) cur = xs.next() else more = false
            }
            Iterator.single(Row(n, lq, bq,
              lq + bq, lq + 7L * bq, lq + 30L * bq))
          }
        }
      }(enc)
  }

  /** B111: Holt–Winters ADDITIVE seasonal smoothing of daily revenue
    * (period 7 — the weekly cycle B90 measures; α=0.3, β=0.1, γ=0.2):
    * the seasonal completion of B96's level+trend recursion. The fact
    * collapses to the day domain (B61) and the inherently sequential
    * triple recursion
    *   l ← ⌊0.3(x−s₋₇) + 0.7(l+b)⌋,  b ← ⌊0.1(l−l₋₁) + 0.9b⌋,
    *   s ← ⌊0.2(x−l) + 0.8s₋₇⌋
    * runs once over the ≤|days| frame in a bounded partition (A38
    * posture) — and because all three smoothing constants are rational
    * TENTHS, each update is ONE exact integer floor-division by 10
    * (3(x−s₋₇)+7(l+b) etc.): the recursion is float-FREE end to end,
    * strictly stronger than B96's quantize-after-float-step posture
    * (DuckDB evaluates decimal literals in exact DECIMAL arithmetic —
    * a float engine replica would drift against it over 2400 chained
    * steps; integral states make the question moot). The oracle keeps
    * the FLOOR(0.3·x + …) decimal spelling: DuckDB `//` TRUNCATES
    * toward zero on negative integers (probed — the "// floors" folk
    * rule is false there), while FLOOR over its exact DECIMAL
    * arithmetic is a true floor ≡ Math.floorDiv. Init: l₀ = floor-mean
    * of week 1, b₀ = floor of (week-2 mean − week-1 mean)/7 (oracle
    * spells floorDiv via a sign CASE), sᵢ = xᵢ·e6 − l₀. Forecasts
    * l + h·b + s₍T+h−7₎ and the final seasonal envelope are exact
    * integers.
    */
  def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val daily = dailyRevenue(s, dir)
    val schema = StructType(Seq(
      StructField("n_days", LongType, nullable = false),
      StructField("level_e6", LongType, nullable = false),
      StructField("trend_e6", LongType, nullable = false),
      StructField("f1_e6", LongType, nullable = false),
      StructField("f7_e6", LongType, nullable = false),
      StructField("s_low_e6", LongType, nullable = false),
      StructField("s_high_e6", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    daily.coalesce(1).sortWithinPartitions(col("day"))
      .select(col("x").cast("long"))
      .mapPartitions { it =>
        val xs = it.map(_.getLong(0)).toArray
        require(xs.length >= 14,
          s"Holt-Winters(7) needs >= 14 days, got ${xs.length}")
        val (l0, b0, s0) = hwInit(xs.take(14))
        var lq = l0; var bq = b0
        val q = scala.collection.mutable.Queue.from(s0)
        var t = 7
        while (t < xs.length) {
          val (nl, nb, ns) = hwStep(lq, bq, q.dequeue(), xs(t) * 1000000L)
          lq = nl; bq = nb; q.enqueue(ns)
          t += 1
        }
        val arr = q.toArray
        Iterator.single(Row(xs.length.toLong, lq, bq,
          lq + bq + arr(0), lq + 7L * bq + arr(6), arr.min, arr.max))
      }(enc)
  }

  /** The B111 init as a pure kernel (shared with the F34 streaming
    * twin): from the first 14 cent observations, the floor-mean level,
    * the floor weekly-mean-difference trend, and the 7-slot seasonal
    * queue — all exact integers. */
  private[graft] def hwInit(xs: Array[Long]): (Long, Long, Array[Long]) = {
    val w1 = xs.slice(0, 7).map(_ * 1000000L).sum
    val w2 = xs.slice(7, 14).map(_ * 1000000L).sum
    val l0 = Math.floorDiv(w1, 7L)
    val b0 = Math.floorDiv(w2 - w1, 49L)
    (l0, b0, xs.slice(0, 7).map(_ * 1000000L - l0))
  }

  /** The B111 state update as a pure kernel (shared with the F34
    * streaming twin): one exact integer floor-division by 10 per
    * state variable — float-free, so stream and batch CANNOT drift. */
  private[graft] def hwStep(lq: Long, bq: Long, sOld: Long,
                            xe6: Long): (Long, Long, Long) = {
    val nl = Math.floorDiv(3L * (xe6 - sOld) + 7L * (lq + bq), 10L)
    val nb = Math.floorDiv((nl - lq) + 9L * bq, 10L)
    val ns = Math.floorDiv(2L * (xe6 - nl) + 8L * sOld, 10L)
    (nl, nb, ns)
  }

  /** B86: interval-union coverage ("how much wall-clock time had at
    * least one session open, per day") — the utilization/SLA twin of
    * B65's peak concurrency, and the classic DISTRIBUTED interval-union
    * shape: sessions are clipped to fixed TIME BUCKETS (days), each
    * bucket merges its own clipped pieces with a local sweep
    * (bucket-partitioned window, running-max-end island detection), and
    * because clipped pieces partition the union exactly, per-bucket
    * covered time composes by plain addition — parallelism = the day
    * domain, no global window anywhere. Session end is end-exclusive
    * (+1 µs, the B65 rule) so instantaneous single-event sessions still
    * cover one microsecond. The day fan-out is `sequence(d0, d1)` —
    * O(span) pieces per session, bounded by the 30-min-gap session
    * shape; a hot day's boundary set is the documented caveat (sub-day
    * buckets are the same rewrite at finer grain). All arithmetic is
    * exact integer microseconds.
    */
  def qIntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val sess = Windowed.sessionized(events(s, dir), key = "user_id",
        ts = "ts", tieBreak = "event_id", gapUs = 1800L * 1000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(unix_micros(col("ts"))).as("s_us"),
           (max(unix_micros(col("ts"))) + 1L).as("e_x"))
    // DISTINCT pieces before the sweep: a union is invariant under
    // piece dedup (so every published value is unchanged), and it
    // makes (cs, ce) a UNIQUE per-day sort key — with duplicate
    // pieces (identical sessions from different users — reachable,
    // seen at the 10× cross-scale run) a multi-pass window evaluation
    // may permute peers BETWEEN the pm pass and the iid pass, carrying
    // an nw label to a different peer position and silently merging
    // islands; dedup removes the tie class entirely, in both engines.
    val pieces = sess
      .withColumn("d0", expr(s"s_us div ${dayUs}L"))
      .withColumn("d1", expr(s"(e_x - 1) div ${dayUs}L"))
      .select(col("s_us"), col("e_x"),
              explode(sequence(col("d0"), col("d1"))).as("day_idx"))
      .select(col("day_idx"),
              greatest(col("s_us"), col("day_idx") * dayUs).as("cs"),
              least(col("e_x"), (col("day_idx") + 1L) * dayUs).as("ce"))
      .distinct()
    val byDay   = Window.partitionBy(col("day_idx")).orderBy(col("cs"), col("ce"))
    val prevMax = byDay.rowsBetween(Window.unboundedPreceding, -1)
    val run     = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pieces
      .withColumn("pm", max(col("ce")).over(prevMax))
      .withColumn("nw", when(col("pm").isNull || col("cs") > col("pm"), 1L)
                          .otherwise(0L))
      .withColumn("iid", sum(col("nw")).over(run))
      .groupBy(col("day_idx"), col("iid"))
      .agg((max(col("ce")) - min(col("cs"))).as("len"))
      .groupBy(col("day_idx"))
      .agg(count(lit(1)).as("n_islands"), sum(col("len")).as("covered_us"))
      .orderBy(col("covered_us").desc, col("day_idx"))
      .limit(10)
  }

  /** B109: AR(2) fit by Yule–Walker on the daily revenue series — the
    * "fit a small autoregression to the KPI" step run after the
    * B85/B103 screening (statsmodels AutoReg intent, p = 2): the lag-1/2
    * autocorrelations are B85's EXACT sign-split ppm integers (same
    * derivation, shared oracle text via CTE embedding), and the 2×2
    * Yule–Walker solve
    *   φ₁ = r₁(1−r₂)/(1−r₁²),  φ₂ = (r₂−r₁²)/(1−r₁²)
    * runs ENTIRELY on those integers — numerators carried at e12·e6
    * in DECIMAL(38,0), published via sign-split integral division at
    * e6 (the A34 floor rule), and the innovation-variance ratio
    * 1−φ₁r₁−φ₂r₂ likewise as ppm. NO float anywhere in the query. At
    * 100 TB: B85's plan exactly (one ≤|days|-key map-side-combined
    * shuffle); the solve itself is free.
    */
  def qArFit(s: SparkSession, dir: String): DataFrame =
    qAutocorr(s, dir)
      .select(col("n_days"),
              col("r1_ppm").cast("decimal(38,0)").as("a1"),
              col("r2_ppm").cast("decimal(38,0)").as("a2"))
      .withColumn("dn", expr("1000000000000 - a1 * a1"))
      .withColumn("n1", expr("a1 * (1000000 - a2) * 1000000"))
      .withColumn("n2", expr("(a2 * 1000000 - a1 * a1) * 1000000"))
      .withColumn("phi1_e6", expr(
        "CASE WHEN n1 >= 0 THEN abs(n1) div dn ELSE -(abs(n1) div dn) END"))
      .withColumn("phi2_e6", expr(
        "CASE WHEN n2 >= 0 THEN abs(n2) div dn ELSE -(abs(n2) div dn) END"))
      .withColumn("ve12",
        expr("1000000000000 - phi1_e6 * a1 - phi2_e6 * a2"))
      .select(col("n_days"),
              col("a1").cast("long").as("r1_ppm"),
              col("a2").cast("long").as("r2_ppm"),
              col("phi1_e6").cast("long").as("phi1_e6"),
              col("phi2_e6").cast("long").as("phi2_e6"),
              expr("CAST(CASE WHEN ve12 >= 0 THEN abs(ve12) div 1000000 " +
                   "ELSE -(abs(ve12) div 1000000) END AS BIGINT)").as("v_ppm"))

  /** B110 statistic — ONE shared float text over the exact integer
    * aggregates (doubled rank sums keep midrank ties exact; the /4
    * from R = R2/2 folds into 12/4 = 3), identical IEEE sequence both
    * engines; the three group terms appear in fixed textual order so
    * float addition order is pinned. */
  private val kwHSql =
    "((3.0/(CAST(nn AS DOUBLE)*(CAST(nn AS DOUBLE)+1.0))) * " +
      "(CAST(r2a AS DOUBLE)*CAST(r2a AS DOUBLE)/CAST(na AS DOUBLE) + " +
       "CAST(r2b AS DOUBLE)*CAST(r2b AS DOUBLE)/CAST(nb AS DOUBLE) + " +
       "CAST(r2c AS DOUBLE)*CAST(r2c AS DOUBLE)/CAST(nc AS DOUBLE)) " +
      "- 3.0*(CAST(nn AS DOUBLE)+1.0)) / " +
    "(1.0 - CAST(tt AS DOUBLE)/" +
      "(CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE)))"

  /** B110: Kruskal–Wallis H test across the three returnflag cohorts'
    * quantity distributions — the k-SAMPLE member of the nonparametric
    * family (B91 Mann–Whitney is its 2-sample special case; B78 ANOVA
    * its parametric twin): quantity is domain-bounded (1..50), so the
    * fact collapses to per-(group, value) cell counts in ONE
    * map-side-combined aggregate (the B61 cardinality rule), EXACT
    * doubled midranks r2(v) = 2·cumBefore + c + 1 come from a window
    * over the ≤50-row value frame — never over the fact — and the
    * three group rank sums, sizes and the tie term Σc(c²−1) are exact
    * DECIMAL(38,0) integers. Only the published H is float, via the
    * shared [[kwHSql]] text (tie-corrected; compare to χ²₍₂₎
    * downstream). At 100 TB: one shuffle of ≤150 keys.
    */
  def qKruskal(s: SparkSession, dir: String): DataFrame = {
    val cells = lineitem(s, dir)
      .groupBy(col("l_returnflag").as("g"),
               col("l_quantity").cast("long").as("v"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
    val byV = cells.groupBy(col("v")).agg(sum(col("c")).as("cv"))
    // ≤50-row domain frame: the single-partition window is bounded by
    // the value domain, not the corpus (the B91 posture)
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byV.withColumn("r2",
      coalesce(sum(col("cv")).over(w), lit(0)) * 2 + col("cv") + 1)
    val tieFrame = ranked
      .agg(sum(col("cv") * (col("cv") * col("cv") - 1)).as("ttd"))
    cells.join(broadcast(ranked.select(col("v"), col("r2"))), "v")
      .agg(sum(when(col("g") === "A", col("c")).otherwise(lit(0))).as("nad"),
           sum(when(col("g") === "N", col("c")).otherwise(lit(0))).as("nbd"),
           sum(when(col("g") === "R", col("c")).otherwise(lit(0))).as("ncd"),
           sum(when(col("g") === "A", col("c") * col("r2"))
             .otherwise(lit(0))).as("r2ad"),
           sum(when(col("g") === "N", col("c") * col("r2"))
             .otherwise(lit(0))).as("r2bd"),
           sum(when(col("g") === "R", col("c") * col("r2"))
             .otherwise(lit(0))).as("r2cd"))
      .crossJoin(broadcast(tieFrame))
      .select(col("nad").as("na"), col("nbd").as("nb"), col("ncd").as("nc"),
              (col("nad") + col("nbd") + col("ncd")).as("nn"),
              col("r2ad").as("r2a"), col("r2bd").as("r2b"),
              col("r2cd").as("r2c"), col("ttd").as("tt"))
      .select(col("nn").cast("long").as("n_rows"),
              col("na").cast("long").as("n_a"),
              col("nb").cast("long").as("n_n"),
              col("nc").cast("long").as("n_r"),
              col("r2a").cast("long").as("rank2_a"),
              col("r2b").cast("long").as("rank2_n"),
              col("r2c").cast("long").as("rank2_r"),
              col("tt").cast("long").as("tie_term"),
              dec6(expr(kwHSql)).as("h"))
  }

  /** B117: Croston's method for intermittent demand, per part (THE
    * forecast for sparse spare-part-style series, where B96/B111
    * assume a dense daily signal): each part's demand events (quantity
    * z, inter-arrival gap in days, floored at 1) run through the two
    * exponential recursions z' ← (z·e6 + 4z')/5, p' ← (gap·e6 + 4p')/5
    * (α = 0.2 — rational fifth, so each update is ONE exact integer
    * floor-division: float-free, the B111 posture), and the demand
    * rate forecast is the integral ratio z'·e6 div p'. Execution is
    * the B108 event-sourcing replay plan: ONE part-key shuffle,
    * in-partition (shipdate, orderkey, linenumber)-ordered folds, all
    * parts in parallel, per-key work bounded by items-per-part. Init:
    * z'₁ = z₁·e6, p'₁ = e6 (unit first interval).
    */
  /** The B117 state update as a pure kernel (shared with the F37
    * streaming twin): α = 0.2 rational fifth — each update one exact
    * integer floor-division, float-free. */
  private[graft] def crostonStep(zq: Long, pq: Long, z: Long,
                                 gap: Long): (Long, Long) =
    (Math.floorDiv(z * 1000000L + 4L * zq, 5L),
     Math.floorDiv(gap * 1000000L + 4L * pq, 5L))

  def qCroston(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("partkey", LongType, nullable = false),
      StructField("n_demands", LongType, nullable = false),
      StructField("z_e6", LongType, nullable = false),
      StructField("p_e6", LongType, nullable = false),
      StructField("forecast_e6", LongType, nullable = false)))
    lineitem(s, dir)
      .select(col("l_partkey").as("pk"),
        col("l_shipdate").cast("date").as("d"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("l_quantity").cast("long").as("z"))
      .repartition(col("pk"))
      .sortWithinPartitions(col("pk"), col("d"), col("ok"), col("ln"))
      .select(col("pk"), datediff(col("d"), lit("1970-01-01")).cast("long")
        .as("ed"), col("z"))
      .mapPartitions { it =>
        var pk = Long.MinValue
        var zq = 0L; var pq = 0L; var n = 0L; var lastEd = 0L
        var open = false
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        def close(): Unit = if (open)
          out += Row(pk, n, zq, pq, Math.floorDiv(zq * 1000000L, pq))
        it.foreach { r =>
          val k = r.getLong(0); val ed = r.getLong(1); val z = r.getLong(2)
          if (k != pk) {
            close(); pk = k; zq = z * 1000000L; pq = 1000000L
            n = 1L; lastEd = ed; open = true
          } else {
            val gap = math.max(1L, ed - lastEd)
            val (nz, np) = crostonStep(zq, pq, z, gap)
            zq = nz; pq = np
            n += 1; lastEd = ed
          }
        }
        close()
        out.iterator
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** B130: order/line status reconciliation — the referential
    * data-integrity audit ("does the order header's status actually
    * summarize its lines": TPC-H semantics say F = all lines F, O =
    * none, P = mixed): one orderkey aggregate of line statuses joined
    * back to headers (LEFT join — headers without lines are their own
    * finding class), every order classified by exact integer compares
    * into ok_f / ok_o / ok_p / violation_f / violation_o /
    * violation_p / no_lines, and the class rollup publishes exact
    * counts + integral-ppm shares. The violation classes being EMPTY
    * is itself the audit's assertion on consistent data. At 100 TB:
    * one orderkey shuffle + a ≤7-key rollup.
    */
  def qStatusConsistency(s: SparkSession, dir: String): DataFrame = {
    val lines = lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
           sum((col("l_linestatus") === "F").cast("long")).as("n_f"))
    val cls = orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus").as("st"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .withColumn("cls",
        when(col("n_lines").isNull, "no_lines")
          .when(col("st") === "F",
            when(col("n_f") === col("n_lines"), "ok_f").otherwise("violation_f"))
          .when(col("st") === "O",
            when(col("n_f") === 0, "ok_o").otherwise("violation_o"))
          .otherwise(
            when(col("n_f") > 0 && col("n_f") < col("n_lines"), "ok_p")
              .otherwise("violation_p")))
    val cells = cls.groupBy(col("cls")).agg(count(lit(1)).as("n_orders"))
    val tot = cells.agg(sum(col("n_orders")).as("n"))
    cells.crossJoin(broadcast(tot))
      .select(col("cls"), col("n_orders"),
        expr("CAST((n_orders * 1000000) div n AS BIGINT)").as("share_ppm"))
  }

  /** B129: semi-structured property extraction — the JSON side-channel
    * every event stream carries (the `props` column has been opaque to
    * every query until now): `from_json` with an explicit schema
    * (schema-on-read — the declarative path Catalyst can prune and
    * codegen, NOT a per-row UDF), nulls from unparseable or absent
    * keys counted honestly, and the extracted `k` aggregated per
    * event type with exact integer stats (count / parsed count / sum
    * / min / max / distinct). At 100 TB: parsing rides the scan
    * (no extra pass), then one ≤|types|-key shuffle; at real scale
    * the same query shape drops onto a columnarized variant
    * (parquet-shredded JSON) with zero logical change.
    */
  def qPropsParse(s: SparkSession, dir: String): DataFrame = {
    val parsed = events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
    parsed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("k").isNotNull.cast("long")).as("n_parsed"),
           sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"),
           max(col("k")).as("max_k"),
           countDistinct(col("k")).as("n_distinct_k"))
  }

  /** B128: seasonally-normalized peak days — "which days were big
    * AFTER accounting for their weekday" (a raw top-10 just returns
    * seven copies of the busiest weekday; normalizing by the B90
    * day-of-week baseline surfaces genuine events): daily exact-cents
    * revenue over the day domain, the dow baseline as an exact floor
    * mean per weekday (pure epoch-day arithmetic, the B90
    * convention), excess = (x·e6) div dow_mean as an exact integral
    * ppm, top-10 under the total (excess DESC, day) order. At 100 TB:
    * one ≤|days|-key shuffle + a 7-row broadcast.
    */
  def qPeakDays(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(s, dir)
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-01")) + 4, lit(7))
          .cast("long"))
    val base = daily.groupBy(col("dow"))
      .agg(expr("CAST(sum(x) AS DECIMAL(38,0))").as("sd"),
           count(lit(1)).as("nd"))
      .select(col("dow"), expr("CAST(sd div nd AS BIGINT)").as("dow_mean"))
    daily.join(broadcast(base), "dow")
      .select(col("day"), col("x").as("revenue_cents"), col("dow"),
        col("dow_mean").as("dow_mean_cents"),
        expr("CAST((x * 1000000) div dow_mean AS BIGINT)").as("excess_ppm"))
      .orderBy(col("excess_ppm").desc, col("day"))
      .limit(10)
  }

  /** B127: week-over-week revenue growth — the executive trend tile
    * (next to B32's fitted trend and B100's decomposition, this is
    * the raw period-over-period delta everyone actually reads):
    * weekly exact-cents revenue from one epoch-week aggregate
    * (epoch-day div 7 — calendar-free), the prior week via lag over
    * the bounded week frame, and the growth rate as a SIGN-SPLIT
    * integral ppm of the exact delta. First week publishes NULL
    * growth (no prior), weeks ordered ascending. At 100 TB: one
    * ≤|weeks|-key map-side-combined shuffle.
    */
  def qWowGrowth(s: SparkSession, dir: String): DataFrame = {
    val weekly = orders(s, dir)
      .groupBy(expr("datediff(o_orderdate, DATE '1970-01-01') div 7")
        .as("week"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val w = Window.orderBy(col("week"))
    weekly
      .withColumn("prev", lag(col("cents"), 1).over(w))
      .select(col("week").cast("long").as("week"),
        col("cents"),
        col("prev").as("prev_cents"),
        expr("CAST(CASE WHEN prev IS NULL THEN NULL " +
             "WHEN cents >= prev THEN ((cents - prev) * 1000000) div prev " +
             "ELSE -(((prev - cents) * 1000000) div prev) END AS BIGINT)")
          .as("growth_ppm"))
  }

  /** B126: weekly engagement — DAU/WAU stickiness per epoch week (the
    * product-engagement staple: "of the people active this week, how
    * many days did they actually show up"): the event fact collapses
    * to DISTINCT (day, user) pairs first (one dedup shuffle — the
    * dominant cost, exact), then per epoch-week (epoch-day div 7) the
    * day-active sum, the distinct weekly actives (a second exact
    * dedup on the ALREADY-deduped pair frame), active-day count, and
    * stickiness = Σdau·e6 div (n_days·wau) as ONE exact integral
    * division. At 100 TB: swap the exact weekly dedup for the B56 HLL
    * contract if ±2% suffices — the query shape is identical.
    */
  def qStickiness(s: SparkSession, dir: String): DataFrame = {
    val pairs = events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("ed"),
              col("user_id"))
      .distinct()
      .withColumn("week", expr("ed div 7"))
    val daily = pairs.groupBy(col("week"), col("ed"))
      .agg(count(lit(1)).as("dau"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
    val weekly = pairs.select(col("week"), col("user_id")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("wau"))
    daily.join(weekly, "week")
      .select(col("week"), col("n_days"), col("sum_dau"), col("wau"),
        expr("CAST((sum_dau * 1000000) div (n_days * wau) AS BIGINT)")
          .as("stickiness_ppm"))
  }

  /** B125: same-day repeat-order audit — the double-submission /
    * split-order data-quality screen ("which customers placed multiple
    * orders on one day, and what do those bursts look like"): ONE
    * (customer, day)-key aggregate over the orders scan, groups with
    * ≥ 2 orders publish exact counts, combined cents, the burst's
    * orderkey span, and the spread between the largest and smallest
    * order (an identical-total burst — spread 0 — is the classic
    * accidental resubmission signature). Top-20 under the total
    * (n DESC, custkey, day) order. At 100 TB: one cust-day shuffle.
    */
  def qSameDayOrders(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    orders(s, dir)
      .select(col("o_custkey").as("ck"), col("o_orderdate").as("day"),
        col("o_orderkey").as("ok"), cents.as("cents"))
      .groupBy(col("ck"), col("day"))
      .agg(count(lit(1)).as("n_orders"),
           sum(col("cents")).as("total_cents"),
           min(col("ok")).as("first_orderkey"),
           max(col("ok")).as("last_orderkey"),
           (max(col("cents")) - min(col("cents"))).as("spread_cents"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("n_orders").desc, col("ck"), col("day"))
      .limit(20)
  }

  /** B124: order-to-ship service levels per priority — the logistics
    * SLA dashboard ("is the urgent queue actually faster, and what's
    * the tail"): the ship lag in exact integer days (l_shipdate −
    * o_orderdate, one fact join with the orders side reduced to its
    * two needed columns) is DOMAIN-BOUNDED (0..~4 months), so the
    * fact collapses to per-(priority, lag) counts in ONE map-side-
    * combined aggregate (the B61 rule) and the EXACT lower median and
    * p90 come from cumulative counts over each priority's ≤200-row
    * lag frame — rank-vs-count integer compares (2·cum ≥ n and
    * 10·cum ≥ 9·n), never a fact sort. Float-free. At 100 TB: one
    * orderkey join + one ≤(5·|lags|)-key shuffle.
    */
  def qShipLag(s: SparkSession, dir: String): DataFrame = {
    val cells = lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag"))
      .groupBy(col("priority"), col("lag"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("priority")).orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("priority"))))
    val med = cum.filter(col("cum") * 2 >= col("n"))
      .groupBy(col("priority")).agg(min(col("lag")).as("median_lag_days"))
    val p90 = cum.filter(col("cum") * 10 >= col("n") * 9)
      .groupBy(col("priority")).agg(min(col("lag")).as("p90_lag_days"))
    val ext = cells.groupBy(col("priority"))
      .agg(sum(col("c")).as("n_lines"), max(col("lag")).as("max_lag_days"))
    ext.join(med, "priority").join(p90, "priority")
      .select(col("priority"), col("n_lines"), col("median_lag_days"),
        col("p90_lag_days"), col("max_lag_days"))
  }

  /** B123: robust anomaly days by median/MAD fences — the outlier
    * detector that survives the outliers it hunts (mean/σ fences get
    * dragged by the anomaly itself; median/MAD do not): the daily
    * revenue series collapses to the day domain (B61), the EXACT
    * lower median and the MAD (median of |x − med|) come from
    * rank-vs-count integer compares over the bounded day frame
    * (total (value, day) orders — deterministic), and a day is
    * anomalous when |x − med| > 3·MAD — an exact integer compare.
    * Publishes the fence parameters and the top-10 anomalous days by
    * (|deviation| DESC, day). Float-free. At 100 TB: one ≤|days|-key
    * shuffle then domain-bounded rank work.
    */
  def qAnomalyDays(s: SparkSession, dir: String): DataFrame = {
    val daily = graft.core.Materialize.pin(dailyRevenue(s, dir))
    def lowerMedian(df: DataFrame, c: String): DataFrame = {
      val w = Window.orderBy(col(c), col("day"))
      df.withColumn("rn", row_number().over(w))
        .crossJoin(broadcast(df.agg(count(lit(1)).as("cnt"))))
        .filter(col("rn") * 2 >= col("cnt"))
        .agg(min(col(c)).as("med"))
    }
    val med = lowerMedian(daily, "x")
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("ad", abs(col("x") - col("med")))
    val mad = lowerMedian(dev.select(col("ad").as("x"), col("day")), "x")
      .withColumnRenamed("med", "mad")
    dev.crossJoin(broadcast(mad))
      .filter(col("ad") > col("mad") * 3)
      .select(col("day"), col("x").as("revenue_cents"),
        col("med").as("median_cents"), col("mad").as("mad_cents"),
        col("ad").as("abs_dev_cents"))
      .orderBy(col("abs_dev_cents").desc, col("day"))
      .limit(10)
  }

  /** B122: price-volume-mix decomposition of year-over-year revenue
    * per brand — the FP&A bridge ("how much of the revenue change is
    * price, how much volume"): both periods collapse to exact
    * per-brand (revenue cents, quantity) aggregates in ONE conditional
    * fact pass (lineitem ⋈ broadcast part dim), and the bridge uses
    * the unit-price identity ΔR = (P₁−P₀)Q₁ + P₀ΔQ expressed in ONE
    * exact integral division each — price_eff = R₁ − (R₀·Q₁) div Q₀,
    * volume_eff = ΔR − price_eff — so the two effects sum EXACTLY to
    * the revenue change by construction (the floor lands in
    * price_eff; a float bridge never reconciles to the cent). Brands
    * present in only one period are excluded (no unit price to
    * bridge). At 100 TB: one brand-key shuffle of ≤25 keys.
    */
  def qPriceVolumeMix(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100, 0).cast("long")
    val inP0 = col("l_shipdate") >= lit("1996-01-01") &&
               col("l_shipdate") < lit("1997-01-01")
    val inP1 = col("l_shipdate") >= lit("1997-01-01") &&
               col("l_shipdate") < lit("1998-01-01")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    lineitem(s, dir)
      .filter(inP0 || inP1)
      .join(broadcast(part(s, dir).select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(when(inP0, cents).otherwise(0L)).cast(dec).as("r0"),
           sum(when(inP0, col("l_quantity").cast("long")).otherwise(0L))
             .cast(dec).as("q0"),
           sum(when(inP1, cents).otherwise(0L)).cast(dec).as("r1"),
           sum(when(inP1, col("l_quantity").cast("long")).otherwise(0L))
             .cast(dec).as("q1"))
      .filter(col("q0") > 0 && col("q1") > 0)
      .withColumn("price_eff", expr("r1 - (r0 * q1) div q0"))
      .select(col("brand"),
        col("r0").cast("long").as("rev0_cents"),
        col("r1").cast("long").as("rev1_cents"),
        col("q0").cast("long").as("qty0"),
        col("q1").cast("long").as("qty1"),
        col("price_eff").cast("long").as("price_eff_cents"),
        (col("r1") - col("r0") - col("price_eff")).cast("long")
          .as("volume_eff_cents"))
  }

  /** B121: open-order aging buckets per priority — the operations
    * backlog dashboard ("how old is the unshipped work, and is the
    * urgent queue aging worst"): open orders (o_orderstatus O or P —
    * not fully shipped) age against the dataset's as-of day (global
    * max orderdate, 1-row broadcast) in exact integer days, bucket by
    * the standard 0–30/31–90/91–365/365+ fences (integer compares),
    * and the (priority × bucket) rollup publishes counts, exact value
    * cents, and the integral-ppm share of each priority's open value.
    * One ≤(5·4)-key aggregate over the orders scan at any scale.
    */
  def qOrderAging(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val asOf = orders(s, dir)
      .agg(max(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
        .as("as_of"))
    val open = orders(s, dir)
      .filter(col("o_orderstatus").isin("O", "P"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("ed"),
        cents.as("cents"))
      .crossJoin(broadcast(asOf))
      .withColumn("age", col("as_of") - col("ed"))
      .withColumn("bucket",
        when(col("age") <= 30, "a_0_30")
          .when(col("age") <= 90, "b_31_90")
          .when(col("age") <= 365, "c_91_365")
          .otherwise("d_over_365"))
    val cells = open.groupBy(col("priority"), col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
           sum(col("cents")).cast("decimal(38,0)").as("value"))
    val byPrio = cells.groupBy(col("priority"))
      .agg(sum(col("value")).as("prio_total"))
    cells.join(broadcast(byPrio), "priority")
      .select(col("priority"), col("bucket"), col("n_orders"),
        col("value").cast("long").as("value_cents"),
        expr("CAST((value * 1000000) div prio_total AS BIGINT)")
          .as("share_ppm"))
  }

  /** B120: churn-risk detection per nation — the dormancy screen of
    * lifecycle analytics ("who has gone quiet relative to THEIR OWN
    * rhythm"): per-customer inter-order gaps from a lag over the
    * (custkey)-keyed window (bounded by orders-per-customer), the
    * customer's EXACT lower-median gap from rank-vs-count integer
    * compares on the same bounded frame (total (gap, day, key) order —
    * deterministic), and a customer with ≥ 3 orders is at risk when
    * their silence since the last order exceeds 2× that median
    * (against the global max day on a 1-row broadcast). Rolled up per
    * nation (broadcast dim) with EXACT integral-ppm risk rates. At
    * 100 TB: one cust-key shuffle, per-key bounded windows, ≤25-key
    * rollup.
    */
  def qChurnRisk(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir).select(col("o_custkey").as("ck"),
      datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("ed"),
      col("o_orderkey").as("ok"))
    val w = Window.partitionBy(col("ck")).orderBy(col("ed"), col("ok"))
    val gaps = ord.withColumn("ped", lag(col("ed"), 1).over(w))
      .filter(col("ped").isNotNull)
      .select(col("ck"), (col("ed") - col("ped")).as("gap"),
              col("ed"), col("ok"))
    val gw = Window.partitionBy(col("ck"))
      .orderBy(col("gap"), col("ed"), col("ok"))
    val med = gaps
      .withColumn("rn", row_number().over(gw))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("ck"))))
      .filter(col("rn") * 2 >= col("cnt"))
      .groupBy(col("ck")).agg(min(col("gap")).as("med_gap"))
    val last = ord.groupBy(col("ck"))
      .agg(max(col("ed")).as("last_ed"), count(lit(1)).as("n_orders"))
    val gmax = ord.agg(max(col("ed")).as("gm"))
    val dims = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(nation(s, dir).select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("ck"), col("n_name").as("nation"))
    last.join(med, "ck").crossJoin(broadcast(gmax))
      .filter(col("n_orders") >= 3)
      .withColumn("at_risk",
        (col("gm") - col("last_ed") > col("med_gap") * 2).cast("long"))
      .join(broadcast(dims), "ck")
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_customers"),
           sum(col("at_risk")).as("n_at_risk"))
      .select(col("nation"), col("n_customers"), col("n_at_risk"),
        expr("CAST((n_at_risk * 1000000) div n_customers AS BIGINT)")
          .as("risk_ppm"))
  }

  /** B119: Herfindahl–Hirschman market-concentration index per region
    * — the antitrust/market-structure statistic (HHI = Σ shareᵢ², DOJ
    * thresholds 1500/2500 on the ×10⁴ scale): supplier revenue from
    * ONE fact aggregate (lineitem ⋈ broadcast supplier→nation→region
    * dims — the B3 join shape), per-region totals on a ≤5-row
    * broadcast, each supplier's share an EXACT integral ppm, and HHI
    * published on the conventional ×10⁴ scale as Σ share_ppm² div e4
    * (sum of exact integer squares — float-free; ppm granularity
    * bounds the quantization error at < 1 HHI unit). At 100 TB: one
    * supplier-key shuffle then a ≤5-key rollup.
    */
  def qHhi(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100, 0).cast("long")
    val dims = supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(nation(s, dir).select(col("n_nationkey"), col("n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(region(s, dir).select(col("r_regionkey"), col("r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("r_name").as("region"))
    val supRev = lineitem(s, dir)
      .groupBy(col("l_suppkey")).agg(sum(cents).cast("decimal(38,0)").as("rev"))
      .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
    val regTot = supRev.groupBy(col("region"))
      .agg(sum(col("rev")).as("tot"), count(lit(1)).as("n_suppliers"))
    supRev.join(broadcast(regTot), "region")
      .withColumn("share_ppm", expr("(rev * 1000000) div tot"))
      .groupBy(col("region"))
      .agg(max(col("n_suppliers")).as("n_suppliers"),
           max(col("tot")).cast("long").as("revenue_cents"),
           sum(col("share_ppm") * col("share_ppm")).as("sq"))
      .select(col("region"), col("n_suppliers"), col("revenue_cents"),
        expr("CAST(sq div 100000000 AS BIGINT)").as("hhi_x1e4"))
  }

  /** B118: RFM customer segmentation — THE classic marketing
    * segmentation (recency / frequency / monetary quintiles): the fact
    * collapses to one exact aggregate per customer (last order epoch-
    * day, order count, cents — one cust-key shuffle), each dimension's
    * quintile comes from ntile(5) under a TOTAL order (metric
    * descending, custkey tie-break — deterministic bucket boundaries;
    * windows run over the CUSTOMER DIMENSION, bounded like B116's
    * part ranking, two-phase GK-split at extreme dimension sizes),
    * and the ≤125-cell segment rollup publishes exact counts and
    * cents. Quintile 1 = best (most recent / most frequent / highest
    * spend).
    */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val base = orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(max(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
             .as("last_ed"),
           count(lit(1)).as("n_orders"),
           sum(cents).cast("decimal(38,0)").as("cents"))
    val rq = Window.orderBy(col("last_ed").desc, col("ck"))
    val fq = Window.orderBy(col("n_orders").desc, col("ck"))
    val mq = Window.orderBy(col("cents").desc, col("ck"))
    base
      .withColumn("r_q", ntile(5).over(rq))
      .withColumn("f_q", ntile(5).over(fq))
      .withColumn("m_q", ntile(5).over(mq))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
           sum(col("cents")).cast("long").as("revenue_cents"))
  }

  /** B116: ABC (Pareto) classification of parts by revenue — the
    * inventory-analytics staple ("A-parts: the ~20% carrying 80% of
    * revenue"): the FACT collapses to one exact-cents revenue
    * aggregate per part (one part-key shuffle with map-side combine),
    * then ranking runs over the PART DIMENSION (cumulative revenue
    * window under the total (rev DESC, partkey) order — bounded by
    * |parts|, never the fact; at 100 TB rank the dim with the B37
    * two-phase GK-bucket split instead of one partition), classes cut
    * by EXACT integer threshold compares (cum·100 ≤ tot·80 → A,
    * ≤ 95 → B, else C — inclusive-of-self cumulative, ties broken by
    * partkey so the cut is deterministic), and the class rollup
    * publishes exact counts/cents + integral-ppm revenue shares.
    */
  def qAbcParts(s: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(s, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .cast("decimal(38,0)").as("rev"))
    val w = Window.orderBy(col("rev").desc, col("pk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = rev.agg(sum(col("rev")).as("tot"))
    rev.withColumn("cum", sum(col("rev")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cum") * 100 <= col("tot") * 80, "A")
          .when(col("cum") * 100 <= col("tot") * 95, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
           sum(col("rev")).as("revd"),
           max(col("tot")).as("totd"))
      .select(col("cls"), col("n_parts"),
        col("revd").cast("long").as("revenue_cents"),
        expr("CAST((revd * 1000000) div totd AS BIGINT)").as("share_ppm"))
  }

  /** B115: session entry/exit/bounce analysis — the product-analytics
    * staple over B10's sessions ("where do sessions start, where do
    * they end, how many are one-and-done"): sessions from the SHARED
    * sessionizer (30-min gap, same single user-key shuffle), each
    * session's entry/exit type and event count from one per-(user,
    * session) aggregate with exact (ts, event_id)-ordered min/max_by
    * struct ordering, then a ≤|types|²-key rollup: per (entry, exit)
    * cell the session count, bounce count (n_events = 1) and EXACT
    * integral-ppm bounce share of the entry row. At 100 TB: one
    * user-key shuffle + a domain-bounded aggregate.
    */
  def qSessionPaths(s: SparkSession, dir: String): DataFrame = {
    val sess = Windowed.sessionized(events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      key = "user_id", ts = "ts", tieBreak = "event_id",
      gapUs = 1800L * 1000000L)
    val per = sess.groupBy(col("user_id"), col("session_seq"))
      .agg(min_by(col("event_type"), struct(col("ts"), col("event_id")))
             .as("entry_type"),
           max_by(col("event_type"), struct(col("ts"), col("event_id")))
             .as("exit_type"),
           count(lit(1)).as("n_events"))
    val cells = per.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
           sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
    val byEntry = cells.groupBy(col("entry_type"))
      .agg(sum(col("n_sessions")).as("n_entry"))
    cells.join(broadcast(byEntry), "entry_type")
      .select(col("entry_type"), col("exit_type"), col("n_sessions"),
        col("n_bounces"),
        expr("CAST((n_bounces * 1000000) div n_entry AS BIGINT)")
          .as("bounce_ppm_of_entry"))
  }

  /** B113 statistic — ONE shared float text over the exact integer
    * aggregates; the three group terms appear in fixed textual order
    * so float addition order is pinned. d_g = S_g·N − S·n_g (exact),
    * so Σ n_g(z̄_g − z̄)² = Σ d_g²/(n_g·N²). */
  private val bfWSql =
    "((CAST(nn AS DOUBLE) - 3.0)/2.0) * " +
      "((CAST(da AS DOUBLE)*CAST(da AS DOUBLE)/CAST(na AS DOUBLE) + " +
        "CAST(db AS DOUBLE)*CAST(db AS DOUBLE)/CAST(nb AS DOUBLE) + " +
        "CAST(dc AS DOUBLE)*CAST(dc AS DOUBLE)/CAST(nc AS DOUBLE)) / " +
       "(CAST(nn AS DOUBLE)*CAST(nn AS DOUBLE))) / " +
      "(CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE)/CAST(na AS DOUBLE) + " +
       "CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)/CAST(nb AS DOUBLE) + " +
       "CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE)/CAST(nc AS DOUBLE))"

  /** B113: Brown–Forsythe test for variance homogeneity across the
    * three returnflag cohorts' quantity distributions — the ASSUMPTION
    * CHECK run before trusting B78's ANOVA (equal-variance) and the
    * robust (median-centered) form of Levene's test: quantity is
    * domain-bounded, so each group's EXACT median comes from the
    * ≤50-row per-group value frame (cumulative counts, lower-median
    * rule — the B102 convention), deviations z = |v − med_g| are exact
    * integers on the same cells, and the W statistic's every moment
    * (S_g, Q_g, n_g) is an exact DECIMAL(38,0) aggregate — only the
    * published W is float via the shared [[bfWSql]] text (compare to
    * F(2, N−3) downstream). At 100 TB: one ≤150-key shuffle.
    */
  def qBrownForsythe(s: SparkSession, dir: String): DataFrame = {
    val cells = lineitem(s, dir)
      .groupBy(col("l_returnflag").as("g"),
               col("l_quantity").cast("long").as("v"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("c"))
    // exact per-group lower median over the ≤50-row domain frame
    val wg = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = cells
      .withColumn("cum", sum(col("c")).over(wg))
      .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("g"))))
    val med = withCum
      .filter(col("cum") * 2 >= col("tot")) // cum ≥ ceil(tot/2): lower median
      .groupBy(col("g")).agg(min(col("v")).as("med"))
    val z = cells.join(broadcast(med), "g")
      .withColumn("z", abs(col("v") - col("med")).cast("decimal(38,0)"))
    z.agg(sum(when(col("g") === "A", col("c")).otherwise(lit(0))).as("nad"),
          sum(when(col("g") === "N", col("c")).otherwise(lit(0))).as("nbd"),
          sum(when(col("g") === "R", col("c")).otherwise(lit(0))).as("ncd"),
          sum(when(col("g") === "A", col("c") * col("z"))
            .otherwise(lit(0))).as("sad"),
          sum(when(col("g") === "N", col("c") * col("z"))
            .otherwise(lit(0))).as("sbd"),
          sum(when(col("g") === "R", col("c") * col("z"))
            .otherwise(lit(0))).as("scd"),
          sum(when(col("g") === "A", col("c") * col("z") * col("z"))
            .otherwise(lit(0))).as("qad"),
          sum(when(col("g") === "N", col("c") * col("z") * col("z"))
            .otherwise(lit(0))).as("qbd"),
          sum(when(col("g") === "R", col("c") * col("z") * col("z"))
            .otherwise(lit(0))).as("qcd"))
      .select(col("nad").as("na"), col("nbd").as("nb"), col("ncd").as("nc"),
              (col("nad") + col("nbd") + col("ncd")).as("nn"),
              col("sad").as("sa"), col("sbd").as("sb"), col("scd").as("sc"),
              col("qad").as("qa"), col("qbd").as("qb"), col("qcd").as("qc"))
      .withColumn("da", col("sa") * col("nn") - (col("sa") + col("sb") + col("sc")) * col("na"))
      .withColumn("db", col("sb") * col("nn") - (col("sa") + col("sb") + col("sc")) * col("nb"))
      .withColumn("dc", col("sc") * col("nn") - (col("sa") + col("sb") + col("sc")) * col("nc"))
      .select(col("nn").cast("long").as("n_rows"),
              col("na").cast("long").as("n_a"),
              col("nb").cast("long").as("n_n"),
              col("nc").cast("long").as("n_r"),
              col("sa").cast("long").as("s_a"),
              col("sb").cast("long").as("s_n"),
              col("sc").cast("long").as("s_r"),
              dec6(expr(bfWSql)).as("w"))
  }

  /** B114: Durbin–Watson serial-correlation diagnostic on the daily
    * revenue OLS residuals — the test every regression report runs
    * after fitting a trend (DW ≈ 2 means independent errors; B85/B103
    * measure the raw series, DW measures what the TREND FIT leaves
    * behind): the fact collapses to the day domain, the OLS
    * coefficients come from exact DECIMAL(38,0) moments and are
    * e6-QUANTIZED by sign-split integral division (the quantized-
    * coefficient convention — B96's states, A44's weights), residuals
    * rₜ = (yₜ·e6 − a − b·t) are computed exactly and then QUANTIZED
    * to e3 by one more sign-split division — the down-scale keeps
    * Σr²·e6 inside DECIMAL(38,0) at any gate SF AND keeps every
    * integral-divide result inside LONG (Spark's `div` returns
    * LongType and silently wraps past 2⁶³ — the overflow this query's
    * first draft hit); DW = (Σ(rₜ−rₜ₋₁)²·e6) div Σrₜ² publishes as
    * exact integral e6. NO float anywhere. At 100 TB: one
    * ≤|days|-key shuffle then domain-bounded window work.
    */
  def qDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day"))
    val daily = dailyRevenue(s, dir)
      .withColumn("t", row_number().over(w).cast("decimal(38,0)"))
      .withColumn("y", col("x").cast("decimal(38,0)"))
    val m = daily.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("t")).as("st"), sum(col("t") * col("t")).as("stt"),
        sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"))
      .withColumn("numb", expr("(n * sty - st * sy) * 1000000"))
      .withColumn("den", expr("n * stt - st * st"))
      .withColumn("b_e6", expr(
        "CASE WHEN numb >= 0 THEN abs(numb) div den " +
        "ELSE -(abs(numb) div den) END"))
      .withColumn("numa", expr("sy * 1000000 - b_e6 * st"))
      .withColumn("a_e6", expr(
        "CASE WHEN numa >= 0 THEN abs(numa) div n " +
        "ELSE -(abs(numa) div n) END"))
    daily
      .crossJoin(broadcast(m.select(col("n"), col("a_e6"), col("b_e6"))))
      .withColumn("r0", expr("y * 1000000 - (a_e6 + b_e6 * t)"))
      .withColumn("r", expr(
        "CAST(CASE WHEN r0 >= 0 THEN abs(r0) div 1000 " +
        "ELSE -(abs(r0) div 1000) END AS DECIMAL(38,0))"))
      .withColumn("rp", lag(col("r"), 1).over(w))
      .agg(max(col("n")).cast("long").as("n_days"),
           max(col("a_e6")).cast("long").as("a_e6"),
           max(col("b_e6")).cast("long").as("b_e6"),
           sum(col("r") * col("r")).as("dend"),
           sum(when(col("rp").isNotNull,
               (col("r") - col("rp")) * (col("r") - col("rp")))
             .otherwise(lit(0))).as("numd"))
      .select(col("n_days"), col("a_e6"), col("b_e6"),
        expr("CAST((numd * 1000000) div dend AS BIGINT)").as("dw_e6"))
  }

  /** B112: top within-session event-type paths (consecutive trigrams)
    * — the path-analysis generalization of B105's first-order
    * transitions ("which 3-step journeys actually happen", the input
    * to funnel design): sessions come from the SHARED B10 sessionizer
    * (30-min gap), trigrams from two lags over the per-(user, session)
    * window — the SAME one user-key shuffle; counts aggregate over the
    * ≤|types|³ domain and the share is an EXACT integral-division PPM.
    * Top-20 under a total (n DESC, lexicographic) order so the cut is
    * deterministic. At 100 TB: one user-key shuffle + a ≤125-key
    * aggregate.
    */
  def qEventPaths(s: SparkSession, dir: String): DataFrame = {
    val sess = Windowed.sessionized(events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
      key = "user_id", ts = "ts", tieBreak = "event_id",
      gapUs = 1800L * 1000000L)
    val w = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val tri = sess
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .filter(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
      .agg(count(lit(1)).as("n"))
    val tot = tri.agg(sum(col("n")).as("nt"))
    tri.crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"), col("t3"), col("n"),
        expr("CAST((n * 1000000) div nt AS BIGINT)").as("share_ppm"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(20)
  }

  /** Oracle SQL (DuckDB dialect) for each query above. */
  val oracles: Map[String, String] = Map(
    "q_welch_ttest" ->
      s"""WITH m AS (SELECT
        |    SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) END) AS s1,
        |    SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) END) AS q1,
        |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n2,
        |    SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) END) AS s2,
        |    SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) END) AS q2
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |u AS (SELECT *, $welchU1Sql AS u1, $welchU2Sql AS u2 FROM m)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(s1 AS BIGINT) AS s1,
        |  CAST(q1 AS BIGINT) AS q1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(s2 AS BIGINT) AS s2, CAST(q2 AS BIGINT) AS q2,
        |  CAST(ROUND($welchTSql, 6) AS DECIMAL(18,6))::DOUBLE AS t_stat,
        |  CAST(ROUND($welchDfSql, 2) AS DECIMAL(18,2))::DOUBLE AS df
        |FROM u""".stripMargin,
    "q_benford" ->
      s"""WITH c AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |h AS (SELECT CAST(SUBSTRING(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    COUNT(*) AS n_d FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM h),
        |ex(digit, p_ben_e6) AS (SELECT * FROM (VALUES $benford1ValuesSql))
        |SELECT digit, CAST(n_d AS BIGINT) AS n_d,
        |  CAST((n_d * 1000000) // n AS BIGINT) AS p_obs_ppm, p_ben_e6
        |FROM h CROSS JOIN t JOIN ex USING (digit) ORDER BY digit""".stripMargin,
    "q_seasonality" ->
      """WITH h AS (SELECT
        |    (date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 4) % 7 AS dow,
        |    COUNT(*) AS n_d,
        |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS s_d
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n, CAST(SUM(s_d) AS BIGINT) AS st FROM h)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(n_d AS BIGINT) AS n_d,
        |  CAST((CAST(s_d AS HUGEINT) * n * 1000000) // (CAST(n_d AS HUGEINT) * st) AS BIGINT) AS index_ppm
        |FROM h CROSS JOIN t ORDER BY dow""".stripMargin,
    "q_mutual_info" ->
      s"""WITH c AS (SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT rf, CAST(SUM(o) AS BIGINT) AS rt FROM c GROUP BY 1),
        |cl AS (SELECT ls, CAST(SUM(o) AS BIGINT) AS ct FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM c),
        |j AS (SELECT $miTermSql AS term, nn FROM c JOIN r USING (rf)
        |  JOIN cl USING (ls) CROSS JOIN t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells, CAST(MAX(nn) AS BIGINT) AS n,
        |  CAST(SUM(term) AS BIGINT) AS mi_e6 FROM j""".stripMargin,
    "q_psi" ->
      s"""WITH h AS (SELECT (CAST(l_quantity AS BIGINT) - 1) // 5 AS bucket,
        |    SUM(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS a,
        |    SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS b
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM h),
        |j AS (SELECT $psiTermSql AS term, na, nb FROM h CROSS JOIN t
        |  WHERE a > 0 AND b > 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets, MAX(na) AS na, MAX(nb) AS nb,
        |  CAST(SUM(term) AS BIGINT) AS psi_e6 FROM j""".stripMargin,
    "q_cusum" ->
      """WITH daily AS (SELECT o_orderdate AS day,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS HUGEINT)) AS x
        |  FROM orders GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n_days, SUM(x) AS sx FROM daily),
        |d AS (SELECT day, x - (sx // n_days) AS dev, n_days
        |  FROM daily CROSS JOIN t),
        |s AS (SELECT day, n_days,
        |    SUM(dev) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
        |  FROM d),
        |r AS (SELECT *, abs(st) AS abs_s,
        |    ROW_NUMBER() OVER (ORDER BY abs(st) DESC, day ASC) AS rn FROM s)
        |SELECT CAST(n_days AS BIGINT) AS n_days,
        |  strftime(day, '%Y-%m-%d') AS cp_day,
        |  CAST(st AS BIGINT) AS s_at_cp, CAST(abs_s AS BIGINT) AS max_abs_s
        |FROM r WHERE rn = 1""".stripMargin,
    "q_theilsen" ->
      """WITH daily AS (SELECT o_orderdate AS day,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS HUGEINT)) AS x
        |  FROM orders GROUP BY 1),
        |p AS (SELECT CAST(date_diff('day', a.day, b.day) AS HUGEINT) AS gap,
        |    b.x - a.x AS dx
        |  FROM daily a JOIN daily b ON b.day > a.day),
        |slv AS (SELECT (CASE WHEN dx >= 0 THEN 1 ELSE -1 END)
        |    * ((abs(dx) * 1000000) // gap) AS sl FROM p),
        |vc AS (SELECT sl, CAST(COUNT(*) AS HUGEINT) AS c FROM slv GROUP BY 1),
        |t AS (SELECT SUM(c) AS np FROM vc),
        |k AS (SELECT np, (np + 1) // 2 AS k1, (np + 2) // 2 AS k2 FROM t),
        |cm AS (SELECT sl, SUM(c) OVER (ORDER BY sl
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc)
        |SELECT CAST(np AS BIGINT) AS n_pairs,
        |  CAST(MIN(CASE WHEN cum >= k1 THEN sl END) AS BIGINT) AS m_lo,
        |  CAST(MIN(CASE WHEN cum >= k2 THEN sl END) AS BIGINT) AS m_hi
        |FROM cm CROSS JOIN k GROUP BY np""".stripMargin,
    "q_bootstrap" -> {
      val cmp = bootCdf52.map(t => s"(CASE WHEN $t <= u52 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH daily AS (SELECT o_orderdate AS day,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS HUGEINT)) AS x
        |  FROM orders GROUP BY 1),
        |reps AS (SELECT unnest(range(1, 21)) AS r),
        |u AS (SELECT day, x, r,
        |    ${TF.hexPrefix52Sql("md5('bs|'||r||'|'||strftime(day,'%Y-%m-%d'))")} AS u52
        |  FROM daily CROSS JOIN reps),
        |w AS (SELECT r, x, CAST($cmp AS HUGEINT) AS wt FROM u),
        |m AS (SELECT r, (SUM(wt * x) * 1000000) // SUM(wt) AS m6
        |  FROM w GROUP BY 1),
        |a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nr, SUM(m6) AS sm,
        |    SUM(m6 * m6) AS sq, MIN(m6) AS mn, MAX(m6) AS mx FROM m)
        |SELECT CAST(nr AS BIGINT) AS n_reps,
        |  CAST(sm // nr AS BIGINT) AS grand_mean_e6,
        |  CAST(ROUND($bootSdSql, 6) AS DECIMAL(18,6))::DOUBLE AS sd_cents,
        |  CAST(mn AS BIGINT) AS min_mean_e6, CAST(mx AS BIGINT) AS max_mean_e6
        |FROM a""".stripMargin
    },
    "q_funnel_deadline" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |v AS (SELECT user_id, MIN(t) AS tv FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT ev.user_id, tv, MIN(t) AS tc
        |  FROM ev JOIN v ON ev.user_id = v.user_id
        |  WHERE event_type = 'click' AND t > tv AND t <= tv + 3600000000
        |  GROUP BY 1, 2),
        |p AS (SELECT ev.user_id, tv, tc, MIN(t) AS tp
        |  FROM ev JOIN c ON ev.user_id = c.user_id
        |  WHERE event_type = 'purchase' AND t > tc
        |    AND t <= tc + 86400000000
        |  GROUP BY 1, 2, 3)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_1h,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_24h,
        |  (SELECT CAST(COALESCE(SUM(tp - tv), 0) AS BIGINT) FROM p)
        |    AS sum_latency_us""".stripMargin,
    "q_kaplan_meier" ->
      """WITH RECURSIVE su AS (SELECT user_id, MIN(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (SELECT e.user_id, MIN(e.ts) AS p_ts
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts GROUP BY 1),
        |en AS (SELECT MAX(ts) AS end_ts FROM events),
        |du AS (SELECT (epoch_us(COALESCE(p_ts, end_ts)) - epoch_us(s_ts))
        |      // 86400000000 AS dur,
        |    CASE WHEN p_ts IS NULL THEN 0 ELSE 1 END AS e
        |  FROM su LEFT JOIN fp USING (user_id) CROSS JOIN en),
        |dy AS (SELECT dur, CAST(SUM(e) AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS tot FROM du GROUP BY 1),
        |rk AS (SELECT dur, d, SUM(tot) OVER (ORDER BY dur DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk FROM dy),
        |km AS (SELECT dur, d, n_risk,
        |    ROW_NUMBER() OVER (ORDER BY dur) AS i FROM rk WHERE d > 0),
        |r(i, dur, d, n_risk, sv) AS (
        |  SELECT i, dur, d, n_risk,
        |    (CAST(1000000 AS HUGEINT) * (n_risk - d)) // n_risk
        |  FROM km WHERE i = 1
        |  UNION ALL
        |  SELECT km.i, km.dur, km.d, km.n_risk,
        |    (r.sv * (km.n_risk - km.d)) // km.n_risk
        |  FROM r JOIN km ON km.i = r.i + 1)
        |SELECT CAST(dur AS BIGINT) AS dur_days, d AS d_events,
        |  CAST(n_risk AS BIGINT) AS n_risk, CAST(sv AS BIGINT) AS surv_e6
        |FROM r ORDER BY dur_days""".stripMargin,
    "q_clamped_balance" ->
      """WITH RECURSIVE b AS (SELECT l_partkey AS pk,
        |    CAST(l_quantity AS BIGINT) *
        |      (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) AS d,
        |    ROW_NUMBER() OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS i
        |  FROM lineitem),
        |r(pk, i, bal, mx, clamps) AS (
        |  SELECT pk, CAST(1 AS BIGINT), GREATEST(0, d), GREATEST(0, d),
        |    CAST(CASE WHEN d < 0 THEN 1 ELSE 0 END AS BIGINT)
        |  FROM b WHERE i = 1
        |  UNION ALL
        |  SELECT b.pk, b.i, GREATEST(0, r.bal + b.d),
        |    GREATEST(r.mx, GREATEST(0, r.bal + b.d)),
        |    r.clamps + CASE WHEN r.bal + b.d < 0 THEN 1 ELSE 0 END
        |  FROM r JOIN b ON b.pk = r.pk AND b.i = r.i + 1),
        |f AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pk
        |    ORDER BY i DESC) AS rn FROM r)
        |SELECT CAST(pk AS BIGINT) AS partkey, i AS n_events,
        |  CAST(bal AS BIGINT) AS final_bal, CAST(mx AS BIGINT) AS max_bal,
        |  clamps AS n_clamps
        |FROM f WHERE rn = 1 ORDER BY partkey""".stripMargin,
    "q_transitions" ->
      """WITH p AS (SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev AS from_type, event_type AS to_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |  FROM c GROUP BY 1)
        |SELECT from_type, to_type, n, n_from,
        |  CAST((n * 1000000) // n_from AS BIGINT) AS p_ppm
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q_attribution" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END AS touch
        |  FROM events),
        |m AS (SELECT *,
        |    LAST_VALUE(CASE WHEN touch = 1 THEN ts END IGNORE NULLS)
        |      OVER w AS lt_ts,
        |    LAST_VALUE(CASE WHEN touch = 1 THEN event_type END IGNORE NULLS)
        |      OVER w AS lt_type,
        |    FIRST_VALUE(CASE WHEN touch = 1 THEN event_type END IGNORE NULLS)
        |      OVER w AS ft_type
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT *, epoch_us(ts) - epoch_us(lt_ts) AS gap_us
        |  FROM m WHERE event_type = 'purchase'),
        |c AS (SELECT CASE WHEN lt_ts IS NULL OR gap_us > 604800000000
        |    THEN 'none' ELSE lt_type END AS touch_type, gap_us, ft_type FROM p),
        |la AS (SELECT 'last' AS model, touch_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |    CAST(COALESCE(SUM(CASE WHEN touch_type <> 'none' THEN gap_us
        |      ELSE 0 END), 0) AS BIGINT) AS sum_gap_us
        |  FROM c GROUP BY 2),
        |fa AS (SELECT 'first' AS model, COALESCE(ft_type, 'none') AS touch_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |    CAST(0 AS BIGINT) AS sum_gap_us
        |  FROM c GROUP BY 2)
        |SELECT * FROM la UNION ALL SELECT * FROM fa
        |ORDER BY model, touch_type""".stripMargin,
    "q_mann_kendall" ->
      s"""WITH daily AS (SELECT o_orderdate AS day,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS HUGEINT)) AS x
        |  FROM orders GROUP BY 1),
        |p AS (SELECT CASE WHEN b.x > a.x THEN 1
        |    WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
        |  FROM daily a JOIN daily b ON b.day > a.day),
        |sa AS (SELECT CAST(COALESCE(SUM(sg), 0) AS HUGEINT) AS s FROM p),
        |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM daily),
        |tc AS (SELECT CAST(COALESCE(SUM(c*(c-1)*(c*2+5)), 0) AS HUGEINT) AS tt
        |  FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS c FROM daily GROUP BY x)
        |  WHERE c > 1),
        |f AS (SELECT n, s, n*(n-1)*(n*2+5) - tt AS vn
        |  FROM nn CROSS JOIN sa CROSS JOIN tc)
        |SELECT CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s,
        |  CAST(vn AS BIGINT) AS var_num_x18,
        |  CAST(ROUND($mkZSql, 6) AS DECIMAL(18,6))::DOUBLE AS z
        |FROM f""".stripMargin,
    "q_runs_test" ->
      s"""WITH daily AS (SELECT o_orderdate AS day,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS HUGEINT)) AS x
        |  FROM orders GROUP BY 1),
        |vc AS (SELECT x, COUNT(*) AS c FROM daily GROUP BY 1),
        |k AS (SELECT (COUNT(*) + 1) // 2 AS k1 FROM daily),
        |cm AS (SELECT x, SUM(c) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM vc),
        |med AS (SELECT MIN(x) AS med FROM cm CROSS JOIN k WHERE cum >= k1),
        |sg AS (SELECT day, CASE WHEN x > med THEN 1 ELSE 0 END AS sg
        |  FROM daily CROSS JOIN med WHERE x <> med),
        |b AS (SELECT sg, CASE WHEN LAG(sg) OVER (ORDER BY day) IS NULL THEN 1
        |    WHEN LAG(sg) OVER (ORDER BY day) <> sg THEN 1 ELSE 0 END AS brk
        |  FROM sg),
        |f AS (SELECT CAST(SUM(brk) AS HUGEINT) AS r,
        |    CAST(SUM(sg) AS HUGEINT) AS n1,
        |    CAST(SUM(1 - sg) AS HUGEINT) AS n2 FROM b)
        |SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
        |  CAST(r AS BIGINT) AS runs,
        |  CAST(ROUND($runsZSql, 6) AS DECIMAL(18,6))::DOUBLE AS z
        |FROM f""".stripMargin,
    "q_decompose" ->
      """WITH daily AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS HUGEINT)) AS HUGEINT) AS x,
        |    (date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 4) % 7 AS dow
        |  FROM orders GROUP BY o_orderdate),
        |w AS (SELECT day, dow, x*1000000 AS x6,
        |    SUM(x) OVER win AS ws, CAST(COUNT(*) OVER win AS HUGEINT) AS wc
        |  FROM daily
        |  WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |detr AS (SELECT day, dow, x6 - ((ws * 1000000) // wc) AS d FROM w),
        |sea AS (SELECT dow, CAST(COUNT(*) AS HUGEINT) AS n_days,
        |    (CASE WHEN SUM(d) >= 0 THEN 1 ELSE -1 END) * (abs(SUM(d)) // COUNT(*)) AS s6
        |  FROM detr GROUP BY 1),
        |r AS (SELECT detr.dow, n_days, s6, abs(d - s6) AS ar
        |  FROM detr JOIN sea USING (dow))
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(MAX(n_days) AS BIGINT) AS n_days,
        |  CAST(MAX(s6) AS BIGINT) AS seasonal_e6,
        |  CAST(SUM(ar) // MAX(n_days) AS BIGINT) AS mean_abs_resid_e6
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_roll_corr" ->
      s"""WITH daily AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS HUGEINT)) AS HUGEINT) AS x,
        |    CAST(COUNT(*) AS HUGEINT) AS y
        |  FROM orders GROUP BY 1),
        |m AS (SELECT day,
        |    CAST(COUNT(*) OVER w AS HUGEINT) AS wn,
        |    SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
        |    SUM(x*x) OVER w AS sxx, SUM(y*y) OVER w AS syy,
        |    SUM(x*y) OVER w AS sxy
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(wn AS BIGINT) AS n_win,
        |  CAST(ROUND($rollCorrSql, 6) AS DECIMAL(18,6))::DOUBLE AS roll_corr
        |FROM m ORDER BY day""".stripMargin,
    "q_basket_lift" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |t AS (SELECT CAST(COUNT(DISTINCT ok) AS HUGEINT) AS n_orders FROM ob),
        |pb AS (SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n_brand FROM ob GROUP BY 1),
        |pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
        |    CAST(COUNT(*) AS HUGEINT) AS n_ab
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2),
        |f AS (SELECT brand_a, brand_b, n_ab, pa.n_brand AS n_a,
        |    pbb.n_brand AS n_b, n_orders,
        |    (n_ab * n_orders * 1000000) // (pa.n_brand * pbb.n_brand) AS lift
        |  FROM pr JOIN pb pa ON pr.brand_a = pa.brand
        |  JOIN pb pbb ON pr.brand_b = pbb.brand CROSS JOIN t)
        |SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_orders AS BIGINT) AS n_orders, CAST(lift AS BIGINT) AS lift_ppm
        |FROM f ORDER BY lift_ppm DESC, brand_a, brand_b LIMIT 20""".stripMargin,
    "q_holt" ->
      """WITH RECURSIVE daily AS (SELECT o_orderdate AS day,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS HUGEINT)) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT CAST(x AS BIGINT) AS x,
        |    ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
        |hw(i, lq, bq) AS (
        |  SELECT CAST(2 AS BIGINT), a.x * 1000000, b.x * 1000000 - a.x * 1000000
        |  FROM idx a, idx b WHERE a.i = 1 AND b.i = 2
        |  UNION ALL
        |  SELECT hw.i + 1,
        |    CAST(ROUND(0.3*(ix.x*1000000) + 0.7*(hw.lq + hw.bq)) AS BIGINT),
        |    CAST(ROUND(0.1*(CAST(ROUND(0.3*(ix.x*1000000) + 0.7*(hw.lq + hw.bq)) AS BIGINT)
        |      - hw.lq) + 0.9*hw.bq) AS BIGINT)
        |  FROM hw JOIN idx ix ON ix.i = hw.i),
        |fin AS (SELECT * FROM hw ORDER BY i DESC LIMIT 1)
        |SELECT (SELECT COUNT(*) FROM idx) AS n_days, lq AS level_e6,
        |  bq AS trend_e6, lq + bq AS f1_e6, lq + 7*bq AS f7_e6,
        |  lq + 30*bq AS f30_e6
        |FROM fin""".stripMargin,
    "q_holt_winters" ->
      """WITH RECURSIVE daily AS (SELECT o_orderdate AS day,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT CAST(x AS BIGINT) AS x,
        |    ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
        |w1 AS (SELECT CAST(SUM(x) * 1000000 AS BIGINT) AS v FROM idx WHERE i <= 7),
        |w2 AS (SELECT CAST(SUM(x) * 1000000 AS BIGINT) AS v
        |  FROM idx WHERE i BETWEEN 8 AND 14),
        |ini AS (SELECT CAST(w1.v // 7 AS BIGINT) AS l0,
        |    CAST(CASE WHEN w2.v >= w1.v THEN (w2.v - w1.v) // 49
        |      ELSE -(((w1.v - w2.v) + 48) // 49) END AS BIGINT) AS b0
        |  FROM w1, w2),
        |sz AS (SELECT
        |    CAST(MAX(CASE WHEN i=1 THEN x*1000000 - l0 END) AS BIGINT) AS t1,
        |    CAST(MAX(CASE WHEN i=2 THEN x*1000000 - l0 END) AS BIGINT) AS t2,
        |    CAST(MAX(CASE WHEN i=3 THEN x*1000000 - l0 END) AS BIGINT) AS t3,
        |    CAST(MAX(CASE WHEN i=4 THEN x*1000000 - l0 END) AS BIGINT) AS t4,
        |    CAST(MAX(CASE WHEN i=5 THEN x*1000000 - l0 END) AS BIGINT) AS t5,
        |    CAST(MAX(CASE WHEN i=6 THEN x*1000000 - l0 END) AS BIGINT) AS t6,
        |    CAST(MAX(CASE WHEN i=7 THEN x*1000000 - l0 END) AS BIGINT) AS t7
        |  FROM idx CROSS JOIN ini WHERE i <= 7),
        |hw(i, lq, bq, s1, s2, s3, s4, s5, s6, s7) AS (
        |  SELECT CAST(7 AS BIGINT), l0, b0, t1, t2, t3, t4, t5, t6, t7
        |  FROM ini CROSS JOIN sz
        |  UNION ALL
        |  SELECT hw.i + 1,
        |    CAST(FLOOR(0.3*(ix.x*1000000 - hw.s1) + 0.7*(hw.lq + hw.bq)) AS BIGINT),
        |    CAST(FLOOR(0.1*(CAST(FLOOR(0.3*(ix.x*1000000 - hw.s1) + 0.7*(hw.lq + hw.bq)) AS BIGINT)
        |      - hw.lq) + 0.9*hw.bq) AS BIGINT),
        |    hw.s2, hw.s3, hw.s4, hw.s5, hw.s6, hw.s7,
        |    CAST(FLOOR(0.2*(ix.x*1000000
        |      - CAST(FLOOR(0.3*(ix.x*1000000 - hw.s1) + 0.7*(hw.lq + hw.bq)) AS BIGINT))
        |      + 0.8*hw.s1) AS BIGINT)
        |  FROM hw JOIN idx ix ON ix.i = hw.i + 1),
        |fin AS (SELECT * FROM hw ORDER BY i DESC LIMIT 1)
        |SELECT (SELECT COUNT(*) FROM idx) AS n_days, lq AS level_e6,
        |  bq AS trend_e6, lq + bq + s1 AS f1_e6, lq + 7*bq + s7 AS f7_e6,
        |  LEAST(s1, s2, s3, s4, s5, s6, s7) AS s_low_e6,
        |  GREATEST(s1, s2, s3, s4, s5, s6, s7) AS s_high_e6
        |FROM fin""".stripMargin,
    "q_cliffs_delta" ->
      s"""WITH c0 AS (SELECT CAST(l_quantity AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
        |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS HUGEINT) AS cb
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |  GROUP BY 1),
        |r AS (SELECT *, COALESCE(SUM(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
        |    SUM(cb) OVER () AS nbt
        |  FROM c0),
        |a AS (SELECT SUM(ca) AS na, MAX(nbt) AS nb,
        |    SUM(ca * cumb) AS gt, SUM(ca * (nbt - cumb - cb)) AS lt FROM r)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(gt AS BIGINT) AS n_gt, CAST(lt AS BIGINT) AS n_lt,
        |  CAST(ROUND($cliffsSql, 6) AS DECIMAL(18,6))::DOUBLE AS delta
        |FROM a""".stripMargin,
    "q_mannwhitney" ->
      s"""WITH c0 AS (SELECT CAST(l_quantity AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
        |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) AS HUGEINT) AS cb
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |  GROUP BY 1),
        |r AS (SELECT *, ca + cb AS c,
        |    2*COALESCE(SUM(ca+cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + (ca+cb) + 1 AS r2
        |  FROM c0),
        |a AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, SUM(ca*r2) AS ra2,
        |    SUM(c*(c*c - 1)) AS tt FROM r),
        |b AS (SELECT na, nb, na + nb AS nn, ra2 - na*(na+1) AS ua2, tt FROM a)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(ua2 AS BIGINT) AS u_a_x2, CAST(na*nb*2 - ua2 AS BIGINT) AS u_b_x2,
        |  CAST(ROUND($mwZSql, 6) AS DECIMAL(18,6))::DOUBLE AS z
        |FROM b""".stripMargin,
    "q_spearman" ->
      s"""WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS vx,
        |    CAST(ROUND(l_discount*100,0) AS BIGINT) AS vy,
        |    CAST(COUNT(*) AS HUGEINT) AS c FROM lineitem GROUP BY 1,2),
        |mx AS (SELECT vx, SUM(c) AS cm FROM cells GROUP BY 1),
        |rx AS (SELECT vx, 2*COALESCE(SUM(cm) OVER (ORDER BY vx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cm + 1 AS rvx FROM mx),
        |my AS (SELECT vy, SUM(c) AS cm FROM cells GROUP BY 1),
        |ry AS (SELECT vy, 2*COALESCE(SUM(cm) OVER (ORDER BY vy
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cm + 1 AS rvy FROM my),
        |j AS (SELECT c, rvx, rvy FROM cells JOIN rx USING (vx) JOIN ry USING (vy)),
        |a AS (SELECT SUM(c) AS n, SUM(c*rvx) AS sxd, SUM(c*rvy) AS syd,
        |    SUM(c*rvx*rvx) AS sxxd, SUM(c*rvy*rvy) AS syyd,
        |    SUM(c*rvx*rvy) AS sxyd FROM j),
        |d AS (SELECT CAST(n AS BIGINT) AS n_rows, CAST(n AS DOUBLE) AS nnd,
        |    CAST(sxd AS DOUBLE) AS sx, CAST(syd AS DOUBLE) AS sy,
        |    CAST(sxxd AS DOUBLE) AS sxx, CAST(syyd AS DOUBLE) AS syy,
        |    CAST(sxyd AS DOUBLE) AS sxy FROM a)
        |SELECT n_rows, CAST(ROUND($spearRhoSql, 6) AS DECIMAL(18,6))::DOUBLE AS rho
        |FROM d""".stripMargin,
    "q_kendall" ->
      s"""WITH cells AS (SELECT CAST(l_quantity AS BIGINT) AS vx,
        |    CAST(ROUND(l_discount*100,0) AS BIGINT) AS vy,
        |    CAST(COUNT(*) AS HUGEINT) AS c FROM lineitem GROUP BY 1,2),
        |p AS (SELECT a.c AS c1, b.c AS c2,
        |    CAST(CASE WHEN (a.vx - b.vx)*(a.vy - b.vy) > 0 THEN 1
        |      WHEN (a.vx - b.vx)*(a.vy - b.vy) < 0 THEN -1 ELSE 0 END AS HUGEINT) AS sg
        |  FROM cells a JOIN cells b
        |    ON a.vx < b.vx OR (a.vx = b.vx AND a.vy < b.vy)),
        |nc AS (SELECT SUM(c1*c2*sg) AS ncdd FROM p),
        |t AS (SELECT SUM(c) AS n, (SUM(c)*(SUM(c)-1))//2 AS n0d FROM cells),
        |txc AS (SELECT SUM((cm*(cm-1))//2) AS txd
        |  FROM (SELECT SUM(c) AS cm FROM cells GROUP BY vx)),
        |tyc AS (SELECT SUM((cm*(cm-1))//2) AS tyd
        |  FROM (SELECT SUM(c) AS cm FROM cells GROUP BY vy)),
        |f AS (SELECT CAST(n AS BIGINT) AS n_rows,
        |    CAST(ncdd AS BIGINT) AS nc_minus_nd,
        |    n0d AS n0, txd AS tx, tyd AS ty
        |  FROM nc CROSS JOIN t CROSS JOIN txc CROSS JOIN tyc)
        |SELECT n_rows, nc_minus_nd, CAST(tx AS BIGINT) AS ties_x,
        |  CAST(ty AS BIGINT) AS ties_y,
        |  CAST(ROUND($kendallTauSql, 6) AS DECIMAL(18,6))::DOUBLE AS tau_b
        |FROM f""".stripMargin,
    "q_cramers_v" ->
      s"""WITH c AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    CAST(COUNT(*) AS HUGEINT) AS o FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT rf, SUM(o) AS rt FROM c GROUP BY 1),
        |cl AS (SELECT ls, SUM(o) AS ct FROM c GROUP BY 1),
        |nt AS (SELECT SUM(o) AS nn FROM c),
        |t AS (SELECT (nn * o * o * 1000000) // (rt * ct) AS tij, nn
        |  FROM c JOIN r USING (rf) JOIN cl USING (ls) CROSS JOIN nt),
        |ag AS (SELECT SUM(tij) AS ts, MAX(nn) AS nn,
        |    (SELECT COUNT(*) FROM r) AS nr, (SELECT COUNT(*) FROM cl) AS nc
        |  FROM t),
        |fin AS (SELECT CAST(nn AS BIGINT) AS n, CAST((nr-1)*(nc-1) AS BIGINT) AS df,
        |    CAST(LEAST(nr-1, nc-1) AS BIGINT) AS dmin,
        |    CAST(ts - nn * 1000000 AS BIGINT) AS chi2_ppm FROM ag)
        |SELECT n, df, dmin, chi2_ppm,
        |  CAST(ROUND($cramersVSql, 6) AS DECIMAL(18,6))::DOUBLE AS v
        |FROM fin""".stripMargin,
    "q_autocorr" -> autocorrOracleSql,
    "q_ljung_box" ->
      s"""WITH ac AS ($autocorrOracleSql),
        |b AS (SELECT n_days AS nd, r1_ppm AS r1, r2_ppm AS r2,
        |    r3_ppm AS r3 FROM ac)
        |SELECT CAST(nd AS BIGINT) AS n_days, CAST(r1 AS BIGINT) AS r1_ppm,
        |  CAST(r2 AS BIGINT) AS r2_ppm, CAST(r3 AS BIGINT) AS r3_ppm,
        |  CAST(ROUND($lbQSql, 6) AS DECIMAL(18,6))::DOUBLE AS q_lb
        |FROM b""".stripMargin,
    "q_assoc_rules" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT CAST(COUNT(DISTINCT ok) AS HUGEINT) AS n_orders
        |  FROM ob),
        |pb AS (SELECT brand, CAST(COUNT(*) AS HUGEINT) AS n_brand
        |  FROM ob GROUP BY 1),
        |pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
        |    CAST(COUNT(*) AS HUGEINT) AS n_ab
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 10),
        |directed AS (
        |  SELECT brand_a AS antecedent, brand_b AS consequent, n_ab FROM pairs
        |  UNION ALL
        |  SELECT brand_b, brand_a, n_ab FROM pairs),
        |j AS (SELECT antecedent, consequent, n_ab, n_brand AS n_ant
        |  FROM directed JOIN pb ON pb.brand = directed.antecedent)
        |SELECT antecedent, consequent, CAST(n_ab AS BIGINT) AS n_together,
        |  CAST((n_ab * 1000000) // n_orders AS BIGINT) AS support_ppm,
        |  CAST((n_ab * 1000000) // n_ant AS BIGINT) AS confidence_ppm
        |FROM j CROSS JOIN tot
        |ORDER BY confidence_ppm DESC, antecedent, consequent LIMIT 20""".stripMargin,
    "q_activity_heatmap" ->
      """WITH h AS (SELECT
        |    (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT SUM(n) AS tot FROM h)
        |SELECT dow, hour, n,
        |  CAST((n * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM h CROSS JOIN t ORDER BY dow, hour""".stripMargin,
    "q_order_reconcile" ->
      """WITH l AS (SELECT l_orderkey,
        |    SUM(CAST(ROUND(l_extendedprice*100,0) AS HUGEINT)
        |      * (100 - CAST(ROUND(l_discount*100,0) AS HUGEINT))
        |      * (100 + CAST(ROUND(l_tax*100,0) AS HUGEINT))) AS exp_e4
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT exp_e4,
        |    CAST(ROUND(o_totalprice*100,0) AS HUGEINT) * 10000 AS tot_e4
        |  FROM orders LEFT JOIN l ON o_orderkey = l_orderkey),
        |cl AS (SELECT CASE WHEN exp_e4 IS NULL THEN 'no_lines'
        |    WHEN (ABS(exp_e4 - tot_e4) * 1000000) // tot_e4 <= 10000
        |      THEN 'within_1pct'
        |    WHEN (ABS(exp_e4 - tot_e4) * 1000000) // tot_e4 <= 100000
        |      THEN 'within_10pct'
        |    WHEN (ABS(exp_e4 - tot_e4) * 1000000) // tot_e4 <= 500000
        |      THEN 'within_50pct'
        |    ELSE 'over_50pct' END AS bucket
        |  FROM j),
        |c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM cl GROUP BY 1),
        |t AS (SELECT SUM(n_orders) AS n_total FROM c)
        |SELECT bucket, n_orders,
        |  CAST((n_orders * 1000000) // n_total AS BIGINT) AS share_ppm
        |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin,
    "q_mad" ->
      """WITH daily AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, day) AS rn
        |  FROM daily),
        |med AS (SELECT (MIN(x) + MAX(x)) // 2 AS med FROM r, nn
        |  WHERE rn IN ((n+1)//2, (n+2)//2)),
        |dev AS (SELECT day, ABS(x - med) AS d, med FROM daily, med),
        |r2 AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d, day) AS rn
        |  FROM dev),
        |mad AS (SELECT (MIN(d) + MAX(d)) // 2 AS mad FROM r2, nn
        |  WHERE rn IN ((n+1)//2, (n+2)//2))
        |SELECT (SELECT n FROM nn) AS n_days,
        |  CAST(med AS BIGINT) AS med_cents,
        |  CAST(mad AS BIGINT) AS mad_cents,
        |  CAST((SELECT COUNT(*) FROM dev, mad WHERE d > 3*mad) AS BIGINT)
        |    AS n_outlier_days
        |FROM med, mad""".stripMargin,
    "q_logrank" ->
      s"""WITH su AS (SELECT user_id, MIN(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |fp AS (SELECT e.user_id, MIN(e.ts) AS p_ts
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts GROUP BY 1),
        |en AS (SELECT MAX(ts) AS end_ts FROM events),
        |du AS (SELECT CASE WHEN su.user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
        |    (epoch_us(COALESCE(p_ts, end_ts)) - epoch_us(s_ts))
        |      // 86400000000 AS dur,
        |    CASE WHEN p_ts IS NULL THEN 0 ELSE 1 END AS e
        |  FROM su LEFT JOIN fp USING (user_id) CROSS JOIN en),
        |dy AS (SELECT dur, CAST(SUM(g1*e) AS BIGINT) AS d1,
        |    CAST(SUM(e) AS BIGINT) AS d, CAST(SUM(g1) AS BIGINT) AS t1,
        |    CAST(COUNT(*) AS BIGINT) AS t FROM du GROUP BY 1),
        |ce AS (SELECT dur, d1, d,
        |    CAST(SUM(t1) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS n1,
        |    CAST(SUM(t) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND CURRENT ROW) AS BIGINT) AS n FROM dy),
        |f AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(SUM(${logrankE("//", "HUGEINT")}) AS BIGINT) AS e1_e6,
        |    CAST(SUM(${logrankV("//", "HUGEINT")}) AS BIGINT) AS v_e6,
        |    CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM ce WHERE d > 0)
        |SELECT o1, e1_e6, v_e6, n_days,
        |  CAST(ROUND($logrankChiSql, 6) AS DECIMAL(18,6))::DOUBLE AS chi2
        |FROM f""".stripMargin,
    "q_cuped" ->
      s"""WITH p AS (SELECT o_custkey,
        |    CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1996
        |      THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN YEAR(o_orderdate) = 1997
        |      THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS y,
        |    CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS g1
        |  FROM orders WHERE YEAR(o_orderdate) IN (1996, 1997)
        |  GROUP BY 1, 4),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(g1) AS BIGINT) AS n1,
        |    CAST(SUM(1 - g1) AS BIGINT) AS n2,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(CASE WHEN g1 = 1 THEN x ELSE 0 END) AS HUGEINT) AS sx1,
        |    CAST(SUM(CASE WHEN g1 = 0 THEN x ELSE 0 END) AS HUGEINT) AS sx2,
        |    CAST(SUM(CASE WHEN g1 = 1 THEN y ELSE 0 END) AS HUGEINT) AS sy1,
        |    CAST(SUM(CASE WHEN g1 = 0 THEN y ELSE 0 END) AS HUGEINT) AS sy2,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        |  FROM p)
        |SELECT n1, n2,
        |  CAST(ROUND($cupedSrmSql, 6) AS DECIMAL(18,6))::DOUBLE AS srm_z,
        |  CAST(ROUND($cupedThetaSql, 6) AS DECIMAL(18,6))::DOUBLE AS theta,
        |  CAST(ROUND($cupedRawSql, 4) AS DECIMAL(18,4))::DOUBLE AS raw_diff,
        |  CAST(ROUND($cupedAdjSql, 4) AS DECIMAL(18,4))::DOUBLE AS adj_diff,
        |  CAST(ROUND($cupedVrSql, 6) AS DECIMAL(18,6))::DOUBLE AS var_reduction
        |FROM m""".stripMargin,
    "q_cochran_q" ->
      s"""WITH fl AS (SELECT o_custkey,
        |    MAX(CASE WHEN YEAR(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN YEAR(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS b,
        |    MAX(CASE WHEN YEAR(o_orderdate) = 1998 THEN 1 ELSE 0 END) AS c
        |  FROM orders WHERE YEAR(o_orderdate) IN (1996, 1997, 1998)
        |  GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
        |    CAST(SUM(a) AS BIGINT) AS g1, CAST(SUM(b) AS BIGINT) AS g2,
        |    CAST(SUM(c) AS BIGINT) AS g3,
        |    CAST(SUM(a + b + c) AS HUGEINT) AS t,
        |    CAST(SUM((a + b + c) * (a + b + c)) AS HUGEINT) AS sll
        |  FROM fl)
        |SELECT n_subjects, g1, g2, g3, CAST(t AS BIGINT) AS t_total,
        |  CAST(ROUND($cochranQSql, 6) AS DECIMAL(18,6))::DOUBLE AS q_stat
        |FROM (SELECT *, CAST(g1 AS HUGEINT)*g1 + CAST(g2 AS HUGEINT)*g2 +
        |  CAST(g3 AS HUGEINT)*g3 AS sgg FROM m)""".stripMargin,
    "q_friedman" ->
      s"""WITH ce AS (SELECT DATE_TRUNC('month', l_shipdate) AS m,
        |    l_returnflag AS f,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sq,
        |    CAST(COUNT(*) AS HUGEINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |fu AS (SELECT m FROM ce GROUP BY 1 HAVING COUNT(*) = 3),
        |c AS (SELECT ce.* FROM ce JOIN fu USING (m)),
        |r AS (SELECT c.m, c.f,
        |    CAST(SUM(CASE WHEN o.sq * c.cnt < c.sq * o.cnt THEN 2
        |      WHEN o.sq * c.cnt = c.sq * o.cnt THEN 1 ELSE 0 END) + 1
        |      AS BIGINT) AS rank2
        |  FROM c JOIN c o USING (m) GROUP BY 1, 2),
        |f AS (SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS nb,
        |    CAST(SUM(CASE WHEN f = 'A' THEN rank2 ELSE 0 END) AS BIGINT) AS r1,
        |    CAST(SUM(CASE WHEN f = 'N' THEN rank2 ELSE 0 END) AS BIGINT) AS r2,
        |    CAST(SUM(CASE WHEN f = 'R' THEN rank2 ELSE 0 END) AS BIGINT) AS r3
        |  FROM r)
        |SELECT nb, r1, r2, r3,
        |  CAST(ROUND($friedmanChiSql, 6) AS DECIMAL(18,6))::DOUBLE AS chi2
        |FROM f""".stripMargin,
    "q_hll_overlap" ->
      """WITH f AS (SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1)
        |SELECT CAST(SUM(a) AS BIGINT) AS n_view,
        |  CAST(SUM(b) AS BIGINT) AS n_purchase,
        |  CAST(COUNT(*) AS BIGINT) AS n_union,
        |  CAST(SUM(a*b) AS BIGINT) AS n_both,
        |  1 AS inter_in_bounds
        |FROM f""".stripMargin,
    "q_bartlett" ->
      s"""WITH m AS (SELECT
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s2,
        |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q2,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS s3,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q3
        |  FROM lineitem),
        |v AS (SELECT *, ${bartV(1)} AS v1, ${bartV(2)} AS v2,
        |    ${bartV(3)} AS v3 FROM m),
        |p AS (SELECT *, $bartSpSql AS vp FROM v)
        |SELECT n1, s1, q1, n2, s2, q2, n3, s3, q3,
        |  CAST(ROUND($bartChiSql, 6) AS DECIMAL(18,6))::DOUBLE
        |    AS bartlett_chi2,
        |  CAST(2 AS BIGINT) AS df
        |FROM p""".stripMargin,
    "q_paired_ttest" ->
      s"""WITH f AS (SELECT o_custkey,
        |    SUM(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(ROUND(o_totalprice*100,0) AS BIGINT) ELSE 0 END) AS c96,
        |    MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS a96,
        |    SUM(CASE WHEN year(o_orderdate) = 1997
        |      THEN CAST(ROUND(o_totalprice*100,0) AS BIGINT) ELSE 0 END) AS c97,
        |    MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS a97
        |  FROM orders GROUP BY 1),
        |dd AS (SELECT c97 - c96 AS d FROM f WHERE a96 = 1 AND a97 = 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(d) AS BIGINT) AS sd, SUM(d*d) AS qd
        |  FROM dd)
        |SELECT n, sd, CAST(sd // n AS BIGINT) AS mean_d_cents,
        |  CAST(ROUND($pairedTSql, 6) AS DECIMAL(18,6))::DOUBLE AS t_stat,
        |  CAST(n - 1 AS BIGINT) AS df
        |FROM m""".stripMargin,
    "q_bottomk_sample" ->
      s"""WITH h AS (SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents,
        |    CAST(${TF.hexPrefix52Sql("md5('samp|'||o_orderkey)")} AS BIGINT)
        |      AS h
        |  FROM orders),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY h, o_orderkey) AS rank
        |  FROM h)
        |SELECT CAST(rank AS BIGINT) AS rank, o_orderkey, cents
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,
    "q_jarque_bera" ->
      s"""WITH m AS (SELECT l_returnflag AS flag,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s2,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)
        |      *CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)
        |      *CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s4
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT *, $jbM2Sql AS m2, $jbM3Sql AS m3, $jbM4Sql AS m4
        |  FROM m),
        |k AS (SELECT *, $jbSkewSql AS skew, $jbKurtSql AS kurt FROM c)
        |SELECT flag, n, s1, s2, s3, s4,
        |  CAST(ROUND(skew, 6) AS DECIMAL(18,6))::DOUBLE AS skew,
        |  CAST(ROUND(kurt, 6) AS DECIMAL(18,6))::DOUBLE AS kurt,
        |  CAST(ROUND($jbStatSql, 4) AS DECIMAL(18,4))::DOUBLE AS jb_stat
        |FROM k ORDER BY flag""".stripMargin,
    "q_mcnemar" ->
      s"""WITH f AS (SELECT o_custkey,
        |    MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS b
        |  FROM orders GROUP BY 1),
        |cen AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |    CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        |    CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |  FROM f)
        |SELECT n_customers, n00, n01, n10, n11,
        |  CAST(ROUND($mcnemarSql, 6) AS DECIMAL(18,6))::DOUBLE
        |    AS mcnemar_chi2
        |FROM cen""".stripMargin,
    "q_grubbs" ->
      s"""WITH daily AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS s1,
        |    SUM(CAST(x AS HUGEINT)*x) AS q FROM daily),
        |d AS (SELECT day, ABS(n_days*x - s1) AS abs_ndev, n_days, s1, q
        |  FROM daily, m),
        |p AS (SELECT *, ROW_NUMBER() OVER (ORDER BY abs_ndev DESC, day ASC)
        |    AS rn FROM d)
        |SELECT n_days, s1, strftime(day, '%Y-%m-%d') AS peak_day,
        |  CAST(abs_ndev // n_days AS BIGINT) AS peak_dev_cents,
        |  CAST(ROUND((SELECT $grubbsGSql FROM
        |    (SELECT abs_ndev AS max_abs_ndev, n_days, s1, q FROM p WHERE rn = 1)),
        |    6) AS DECIMAL(18,6))::DOUBLE AS g_stat
        |FROM p WHERE rn = 1""".stripMargin,
    "q_sprt" ->
      s"""SELECT 'purchase_uplift' AS metric, * FROM (
        |WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |walk AS (SELECT day, n, x,
        |    SUM(x * ${sprtC1} + (n - x) * ${sprtC0}) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM daily),
        |a AS (SELECT COUNT(*) AS n_days,
        |    MIN(CASE WHEN cum >= $sprtA THEN day END) AS d_up,
        |    MIN(CASE WHEN cum <= -$sprtA THEN day END) AS d_dn,
        |    CAST(arg_max(cum, day) AS BIGINT) AS final_llr FROM walk),
        |d AS (SELECT n_days,
        |    CASE WHEN d_up IS NOT NULL AND (d_dn IS NULL OR d_up <= d_dn) THEN 1
        |         WHEN d_dn IS NOT NULL THEN -1 ELSE 0 END AS decision,
        |    CASE WHEN d_up IS NOT NULL AND (d_dn IS NULL OR d_up <= d_dn) THEN d_up
        |         ELSE d_dn END AS dday, final_llr FROM a)
        |SELECT CAST(n_days AS BIGINT) AS n_days, decision,
        |  strftime(dday, '%Y-%m-%d') AS decision_day,
        |  CAST(w.cum AS BIGINT) AS llr_at_decision_e6,
        |  final_llr AS final_llr_e6
        |FROM d LEFT JOIN walk w ON w.day = d.dday)
        |UNION ALL
        |SELECT 'error_drift' AS metric, * FROM (
        |WITH daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |walk AS (SELECT day, n, x,
        |    SUM(x * ${sprtC1e} + (n - x) * ${sprtC0e}) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM daily),
        |a AS (SELECT COUNT(*) AS n_days,
        |    MIN(CASE WHEN cum >= $sprtA THEN day END) AS d_up,
        |    MIN(CASE WHEN cum <= -$sprtA THEN day END) AS d_dn,
        |    CAST(arg_max(cum, day) AS BIGINT) AS final_llr FROM walk),
        |d AS (SELECT n_days,
        |    CASE WHEN d_up IS NOT NULL AND (d_dn IS NULL OR d_up <= d_dn) THEN 1
        |         WHEN d_dn IS NOT NULL THEN -1 ELSE 0 END AS decision,
        |    CASE WHEN d_up IS NOT NULL AND (d_dn IS NULL OR d_up <= d_dn) THEN d_up
        |         ELSE d_dn END AS dday, final_llr FROM a)
        |SELECT CAST(n_days AS BIGINT) AS n_days, decision,
        |  strftime(dday, '%Y-%m-%d') AS decision_day,
        |  CAST(w.cum AS BIGINT) AS llr_at_decision_e6,
        |  final_llr AS final_llr_e6
        |FROM d LEFT JOIN walk w ON w.day = d.dday)
        |ORDER BY metric""".stripMargin,
    "q_attribution_markov" -> {
      val rounds = (1 to 8).map { r =>
        val prev = s"p${r - 1}"
        s"p$r AS MATERIALIZED (SELECT p.rm, p.s,\n" +
          "    (SELECT COALESCE(SUM(e.ppm), 0) FROM ppm e\n" +
          "      WHERE e.from_type = p.s AND e.to_type = 'conv')\n" +
          s"  + COALESCE((SELECT SUM(e.ppm * q.p // 1000000) FROM ppm e\n" +
          s"      JOIN $prev q ON q.rm = p.rm AND q.s = e.to_type\n" +
          "      WHERE e.from_type = p.s AND e.to_type NOT IN ('conv', 'null')\n" +
          "        AND e.to_type <> p.rm), 0) AS p\n" +
          s"  FROM $prev p)"
      }.mkString(",\n")
      "WITH ev AS (SELECT user_id, ts, event_id, event_type,\n" +
        "  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq FROM events),\n" +
        "fp AS (SELECT user_id, MIN(seq) AS fp FROM ev WHERE event_type = 'purchase' GROUP BY 1),\n" +
        "j AS (SELECT ev.*, fp.fp FROM ev LEFT JOIN fp USING (user_id)),\n" +
        "path AS (SELECT * FROM j WHERE fp IS NULL OR seq < fp),\n" +
        "steps AS (SELECT event_type AS from_type,\n" +
        "  COALESCE(LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),\n" +
        "    CASE WHEN fp IS NOT NULL THEN 'conv' ELSE 'null' END) AS to_type FROM path),\n" +
        "su AS (SELECT user_id, MAX(fp) AS fp, arg_min(event_type, seq) AS first_ev FROM j GROUP BY 1),\n" +
        "starts AS (SELECT 'start' AS from_type,\n" +
        "  CASE WHEN fp = 1 THEN 'conv' ELSE first_ev END AS to_type FROM su),\n" +
        "cnt AS (SELECT from_type, to_type, COUNT(*) AS n FROM\n" +
        "  (SELECT from_type, to_type FROM steps\n" +
        "   UNION ALL SELECT from_type, to_type FROM starts) GROUP BY 1, 2),\n" +
        "tot AS (SELECT from_type, SUM(n) AS n_from FROM cnt GROUP BY 1),\n" +
        "ppm AS MATERIALIZED (SELECT c.from_type, c.to_type, CAST((n * 1000000) // n_from AS BIGINT) AS ppm\n" +
        "  FROM cnt c JOIN tot USING (from_type)),\n" +
        "arms AS (SELECT 'none' AS rm\n" +
        "  UNION ALL SELECT DISTINCT from_type FROM ppm WHERE from_type <> 'start'),\n" +
        "st AS (SELECT DISTINCT from_type AS s FROM ppm),\n" +
        "p0 AS MATERIALIZED (SELECT rm, s, CAST(0 AS BIGINT) AS p FROM arms, st),\n" +
        rounds + ",\n" +
        "res AS (SELECT rm, p FROM p8 WHERE s = 'start'),\n" +
        "fl AS (SELECT p AS pf FROM res WHERE rm = 'none'),\n" +
        "ch AS (SELECT rm AS channel, p AS pw FROM res WHERE rm <> 'none'),\n" +
        "r2 AS (SELECT channel, pf, pw, pf - pw AS removal FROM ch, fl),\n" +
        "t2 AS (SELECT SUM(removal) AS tr FROM r2)\n" +
        "SELECT channel, CAST(pf AS BIGINT) AS p_full_e6, CAST(pw AS BIGINT) AS p_wo_e6,\n" +
        "  CAST(removal AS BIGINT) AS removal_e6,\n" +
        "  CAST(CASE WHEN tr = 0 THEN NULL ELSE removal * 1000 // tr END AS BIGINT) AS share_permille\n" +
        "FROM r2, t2 ORDER BY channel"
    },
    "q_cochran_armitage" ->
      s"""WITH b AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS k,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS succ FROM orders),
        |a AS (SELECT COUNT(*) AS n, CAST(SUM(succ) AS BIGINT) AS x,
        |    CAST(SUM(k * succ) AS BIGINT) AS sx, CAST(SUM(k) AS BIGINT) AS sn,
        |    CAST(SUM(k * k) AS BIGINT) AS sn2 FROM b)
        |SELECT n, x, sx, sn, sn2,
        |  CAST(ROUND($caZSql, 6) AS DECIMAL(18,6))::DOUBLE AS z_stat FROM a""".stripMargin,
    "q_two_proportion" ->
      s"""WITH m AS (SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x2
        |  FROM events)
        |SELECT n1, x1, n2, x2,
        |  CAST((x1 * 1000000) // n1 AS BIGINT) AS p1_ppm,
        |  CAST((x2 * 1000000) // n2 AS BIGINT) AS p2_ppm,
        |  CAST(ROUND($twoPropZSql, 6) AS DECIMAL(18,6))::DOUBLE AS z_stat
        |FROM m""".stripMargin,
    "q_page_hinkley" ->
      """WITH daily AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |g AS (SELECT SUM(x) // COUNT(*) AS gmean FROM daily),
        |c AS (SELECT day, x, SUM(x) OVER w AS cx,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS i
        |  FROM daily WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT day, x - cx // i AS dev FROM c),
        |t AS (SELECT day, SUM(dev) OVER w AS mt
        |  FROM m WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (SELECT day, mt, mt - MIN(mt) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
        |  FROM t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST((SELECT gmean FROM g) AS BIGINT) AS gmean_cents,
        |  CAST(MAX(ph) AS BIGINT) AS max_ph,
        |  strftime(MIN(day) FILTER (WHERE ph = (SELECT MAX(ph) FROM p)),
        |    '%Y-%m-%d') AS peak_day,
        |  CAST(COUNT(*) FILTER (WHERE ph > 10*(SELECT gmean FROM g))
        |    AS BIGINT) AS n_alarm_days,
        |  strftime(MIN(day) FILTER (WHERE ph > 10*(SELECT gmean FROM g)),
        |    '%Y-%m-%d') AS first_alarm_day,
        |  CAST(MIN(mt) AS BIGINT) AS min_m
        |FROM p""".stripMargin,
    "q_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) * 12
        |      + CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) - 1 AS m,
        |    CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders),
        |coh AS (SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY 1),
        |sizes AS (SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM coh GROUP BY 1),
        |cells AS (SELECT cohort_m, m - cohort_m AS age_months,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN coh USING (o_custkey) GROUP BY 1, 2),
        |w AS (SELECT cohort_m, age_months, n_customers, n_orders,
        |    rev_cents,
        |    CAST(SUM(rev_cents) OVER (PARTITION BY cohort_m
        |      ORDER BY age_months ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
        |  FROM cells JOIN sizes USING (cohort_m))
        |SELECT (cohort_m // 12) * 100 + (cohort_m % 12) + 1 AS cohort_ym,
        |  age_months, n_customers, n_orders, rev_cents, cum_rev_cents,
        |  CAST(cum_rev_cents // n_customers AS BIGINT)
        |    AS ltv_per_cust_cents
        |FROM w ORDER BY cohort_ym, age_months""".stripMargin,
    "q_burstiness" ->
      """WITH g AS (SELECT event_type,
        |    (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) // 1000000 AS gap
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id)),
        |m AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(gap) AS HUGEINT) AS sg,
        |    CAST(SUM(gap*gap) AS HUGEINT) AS qg
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
        |  CAST(sg // n AS BIGINT) AS mean_gap_s,
        |  CAST(CASE WHEN sg = 0 THEN NULL
        |    ELSE ((n * qg - sg * sg) * 1000000) // (sg * sg) END AS BIGINT)
        |    AS cv2_e6
        |FROM m ORDER BY event_type""".stripMargin,
    "q_error_bursts" ->
      """WITH e AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'error'),
        |g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g),
        |b AS (SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n,
        |    MIN(epoch_us(ts)) AS s_us
        |  FROM s GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT s_us // 86400000000 AS day_idx,
        |  CAST(COUNT(*) AS BIGINT) AS n_bursts,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(n) AS BIGINT) AS n_errors_in_bursts,
        |  CAST(MAX(n) AS BIGINT) AS worst_burst
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_round_bias" ->
      """WITH h AS (SELECT
        |    CAST(ROUND(o_totalprice*100,0) AS BIGINT) % 100 AS ending,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(n) AS tot FROM h)
        |SELECT ending, n,
        |  CAST((n * 1000000) // tot AS BIGINT) AS share_ppm,
        |  CAST(10000 AS BIGINT) AS uniform_ppm
        |FROM h CROSS JOIN t
        |ORDER BY share_ppm DESC, ending LIMIT 10""".stripMargin,
    "q_ytd" ->
      """WITH monthly AS (SELECT
        |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
        |    CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1, 2),
        |w AS (SELECT y, m, cents,
        |    SUM(cents) OVER (PARTITION BY y ORDER BY m
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ytd_cents,
        |    LAG(cents, 12) OVER (ORDER BY y, m) AS py_cents
        |  FROM monthly)
        |SELECT y, m, cents, CAST(ytd_cents AS BIGINT) AS ytd_cents,
        |  py_cents,
        |  CAST(CASE WHEN py_cents IS NULL THEN NULL
        |    WHEN cents >= py_cents THEN
        |      ((cents - py_cents) * 1000000) // py_cents
        |    ELSE -(((py_cents - cents) * 1000000) // py_cents)
        |    END AS BIGINT) AS yoy_ppm
        |FROM w ORDER BY y, m""".stripMargin,
    "q_benford2" -> {
      val vals = benford2Table
        .map { case (d, p) => s"($d::BIGINT, $p::BIGINT)" }.mkString(", ")
      s"""WITH h AS (SELECT
        |    CAST(substr(CAST(CAST(ROUND(o_totalprice*100,0) AS BIGINT)
        |      AS VARCHAR), 2, 1) AS BIGINT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n_d
        |  FROM orders
        |  WHERE CAST(ROUND(o_totalprice*100,0) AS BIGINT) >= 10
        |  GROUP BY 1),
        |ex(digit, p_ben_e6) AS (SELECT * FROM (VALUES $vals)),
        |t AS (SELECT SUM(n_d) AS n FROM h)
        |SELECT digit, n_d,
        |  CAST((n_d * 1000000) // n AS BIGINT) AS p_obs_ppm, p_ben_e6
        |FROM h CROSS JOIN t JOIN ex USING (digit)
        |ORDER BY digit""".stripMargin
    },
    "q_status_consistency" ->
      """WITH lines AS (SELECT l_orderkey,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_f
        |  FROM lineitem GROUP BY 1),
        |cl AS (SELECT CASE
        |    WHEN n_lines IS NULL THEN 'no_lines'
        |    WHEN o_orderstatus = 'F' THEN
        |      CASE WHEN n_f = n_lines THEN 'ok_f' ELSE 'violation_f' END
        |    WHEN o_orderstatus = 'O' THEN
        |      CASE WHEN n_f = 0 THEN 'ok_o' ELSE 'violation_o' END
        |    ELSE CASE WHEN n_f > 0 AND n_f < n_lines THEN 'ok_p'
        |      ELSE 'violation_p' END END AS cls
        |  FROM orders LEFT JOIN lines ON o_orderkey = l_orderkey),
        |cells AS (SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM cl GROUP BY 1),
        |tot AS (SELECT SUM(n_orders) AS n FROM cells)
        |SELECT cls, n_orders,
        |  CAST((n_orders * 1000000) // n AS BIGINT) AS share_ppm
        |FROM cells CROSS JOIN tot ORDER BY cls""".stripMargin,
    "q_props_parse" ->
      """WITH p AS (SELECT event_type,
        |    TRY_CAST(TRY_CAST(props AS JSON)->>'k' AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_parsed,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(MIN(k) AS BIGINT) AS min_k,
        |  CAST(MAX(k) AS BIGINT) AS max_k,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_peak_days" ->
      """WITH daily AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |dd AS (SELECT day, x,
        |    (datediff('day', DATE '1970-01-01', CAST(day AS DATE)) + 4) % 7
        |      AS dow
        |  FROM daily),
        |base AS (SELECT dow,
        |    CAST(CAST(SUM(x) AS HUGEINT) // COUNT(*) AS BIGINT) AS dow_mean
        |  FROM dd GROUP BY 1)
        |SELECT day, x AS revenue_cents, CAST(dd.dow AS BIGINT) AS dow,
        |  dow_mean AS dow_mean_cents,
        |  CAST((x * 1000000) // dow_mean AS BIGINT) AS excess_ppm
        |FROM dd JOIN base ON dd.dow = base.dow
        |ORDER BY excess_ppm DESC, day LIMIT 10""".stripMargin,
    "q_wow_growth" ->
      """WITH weekly AS (SELECT
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      // 7 AS week,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |lg AS (SELECT week, cents,
        |    LAG(cents) OVER (ORDER BY week) AS prev FROM weekly)
        |SELECT CAST(week AS BIGINT) AS week, cents, prev AS prev_cents,
        |  CAST(CASE WHEN prev IS NULL THEN NULL
        |    WHEN cents >= prev THEN ((cents - prev) * 1000000) // prev
        |    ELSE -(((prev - cents) * 1000000) // prev) END AS BIGINT)
        |    AS growth_ppm
        |FROM lg ORDER BY week""".stripMargin,
    "q_stickiness" ->
      """WITH pairs AS (SELECT DISTINCT
        |    epoch_us(ts) // 86400000000 AS ed, user_id
        |  FROM events),
        |pw AS (SELECT ed // 7 AS week, ed, user_id FROM pairs),
        |daily AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(dau) AS BIGINT) AS sum_dau
        |  FROM (SELECT week, ed, COUNT(*) AS dau FROM pw GROUP BY 1, 2)
        |  GROUP BY 1),
        |weekly AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS wau
        |  FROM (SELECT DISTINCT week, user_id FROM pw) GROUP BY 1)
        |SELECT week, n_days, sum_dau, wau,
        |  CAST((sum_dau * 1000000) // (n_days * wau) AS BIGINT)
        |    AS stickiness_ppm
        |FROM daily JOIN weekly USING (week)
        |ORDER BY week""".stripMargin,
    "q_same_day_orders" ->
      """SELECT o_custkey AS ck, o_orderdate AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS first_orderkey,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS last_orderkey,
        |  CAST(MAX(CAST(ROUND(o_totalprice*100,0) AS BIGINT))
        |    - MIN(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |    AS spread_cents
        |FROM orders GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY n_orders DESC, ck, day LIMIT 20""".stripMargin,
    "q_lift_chart" ->
      """WITH h AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(COUNT(*) AS HUGEINT) AS c,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS p
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT SUM(c) AS n, SUM(p) AS np FROM h),
        |dc AS (SELECT qty, c, p,
        |    SUM(c) OVER (ORDER BY qty DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |dd AS (SELECT CAST(((cum - 1) * 10) // n + 1 AS INTEGER) AS decile,
        |    c, p, n, np FROM dc CROSS JOIN tot),
        |cells AS (SELECT decile, SUM(c) AS rows, SUM(p) AS posd,
        |    MAX(n) AS n, MAX(np) AS np FROM dd GROUP BY 1),
        |fin AS (SELECT *, SUM(posd) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        |  FROM cells)
        |SELECT decile, CAST(rows AS BIGINT) AS n_rows,
        |  CAST(posd AS BIGINT) AS n_pos,
        |  CAST((posd * 1000000) // np AS BIGINT) AS capture_ppm,
        |  CAST((posd * n * 1000000) // (rows * np) AS BIGINT) AS lift_ppm,
        |  CAST((cum_pos * 1000000) // np AS BIGINT) AS cum_gain_ppm
        |FROM fin ORDER BY decile""".stripMargin,
    "q_ship_lag" ->
      """WITH cells AS (SELECT o_orderpriority AS priority,
        |    datediff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS lag,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |cum AS (SELECT priority, lag, c,
        |    SUM(c) OVER (PARTITION BY priority ORDER BY lag
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    SUM(c) OVER (PARTITION BY priority) AS n
        |  FROM cells),
        |med AS (SELECT priority, MIN(lag) AS median_lag_days
        |  FROM cum WHERE cm * 2 >= n GROUP BY 1),
        |p90 AS (SELECT priority, MIN(lag) AS p90_lag_days
        |  FROM cum WHERE cm * 10 >= n * 9 GROUP BY 1),
        |ext AS (SELECT priority, CAST(SUM(c) AS BIGINT) AS n_lines,
        |    MAX(lag) AS max_lag_days FROM cells GROUP BY 1)
        |SELECT priority, n_lines,
        |  CAST(median_lag_days AS BIGINT) AS median_lag_days,
        |  CAST(p90_lag_days AS BIGINT) AS p90_lag_days,
        |  CAST(max_lag_days AS BIGINT) AS max_lag_days
        |FROM ext JOIN med USING (priority) JOIN p90 USING (priority)
        |ORDER BY priority""".stripMargin,
    "q_anomaly_days" ->
      """WITH daily AS (SELECT o_orderdate AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |m1 AS (SELECT MIN(x) AS med FROM (SELECT x,
        |    ROW_NUMBER() OVER (ORDER BY x, day) AS rn,
        |    COUNT(*) OVER () AS cnt FROM daily) WHERE rn * 2 >= cnt),
        |dv AS (SELECT day, x, med, abs(x - med) AS ad
        |  FROM daily CROSS JOIN m1),
        |m2 AS (SELECT MIN(ad) AS mad FROM (SELECT ad,
        |    ROW_NUMBER() OVER (ORDER BY ad, day) AS rn,
        |    COUNT(*) OVER () AS cnt FROM dv) WHERE rn * 2 >= cnt)
        |SELECT day, x AS revenue_cents, med AS median_cents,
        |  mad AS mad_cents, ad AS abs_dev_cents
        |FROM dv CROSS JOIN m2 WHERE ad > mad * 3
        |ORDER BY ad DESC, day LIMIT 10""".stripMargin,
    "q_pvm" ->
      """WITH f AS (SELECT p_brand AS brand,
        |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'
        |      THEN CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |      ELSE 0 END) AS HUGEINT) AS r0,
        |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01'
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS HUGEINT) AS q0,
        |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |      THEN CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |      ELSE 0 END) AS HUGEINT) AS r1,
        |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS HUGEINT) AS q1
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1),
        |b AS (SELECT *, r1 - (r0 * q1) // q0 AS price_eff
        |  FROM f WHERE q0 > 0 AND q1 > 0)
        |SELECT brand, CAST(r0 AS BIGINT) AS rev0_cents,
        |  CAST(r1 AS BIGINT) AS rev1_cents,
        |  CAST(q0 AS BIGINT) AS qty0, CAST(q1 AS BIGINT) AS qty1,
        |  CAST(price_eff AS BIGINT) AS price_eff_cents,
        |  CAST(r1 - r0 - price_eff AS BIGINT) AS volume_eff_cents
        |FROM b ORDER BY brand""".stripMargin,
    "q_order_aging" ->
      """WITH asf AS (SELECT MAX(datediff('day', DATE '1970-01-01',
        |    CAST(o_orderdate AS DATE))) AS as_of FROM orders),
        |op AS (SELECT o_orderpriority AS priority,
        |    as_of - datediff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS age,
        |    CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders CROSS JOIN asf
        |  WHERE o_orderstatus IN ('O', 'P')),
        |bk AS (SELECT priority,
        |    CASE WHEN age <= 30 THEN 'a_0_30'
        |      WHEN age <= 90 THEN 'b_31_90'
        |      WHEN age <= 365 THEN 'c_91_365'
        |      ELSE 'd_over_365' END AS bucket, cents
        |  FROM op),
        |cells AS (SELECT priority, bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(cents) AS HUGEINT) AS value FROM bk GROUP BY 1, 2),
        |pt AS (SELECT priority, SUM(value) AS prio_total
        |  FROM cells GROUP BY 1)
        |SELECT priority, bucket, n_orders,
        |  CAST(value AS BIGINT) AS value_cents,
        |  CAST((value * 1000000) // prio_total AS BIGINT) AS share_ppm
        |FROM cells JOIN pt USING (priority)
        |ORDER BY priority, bucket""".stripMargin,
    "q_pr_curve" ->
      """WITH h AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS p,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
        |      AS HUGEINT) AS ng
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT SUM(p) AS n_pos FROM h),
        |cv AS (SELECT qty,
        |    SUM(p) OVER (ORDER BY qty DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    SUM(ng) OVER (ORDER BY qty DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
        |  FROM h),
        |curve AS (SELECT qty AS threshold,
        |    CAST(tp AS BIGINT) AS n_tp, CAST(fp AS BIGINT) AS n_fp,
        |    CAST(n_pos - tp AS BIGINT) AS n_fn,
        |    CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS prec_ppm,
        |    CAST((tp * 1000000) // n_pos AS BIGINT) AS rec_ppm,
        |    CAST((tp * 2000000) // (tp * 2 + fp + (n_pos - tp)) AS BIGINT)
        |      AS f1_ppm
        |  FROM cv CROSS JOIN tot)
        |SELECT threshold, n_tp, n_fp, n_fn, prec_ppm, rec_ppm, f1_ppm,
        |  CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY f1_ppm DESC, threshold)
        |    = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_best
        |FROM curve ORDER BY threshold""".stripMargin,
    "q_churn_risk" ->
      """WITH ord AS (SELECT o_custkey AS ck,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS ed, o_orderkey AS ok
        |  FROM orders),
        |gp AS (SELECT ck, ed - LAG(ed) OVER w AS gap, ed, ok
        |  FROM ord WINDOW w AS (PARTITION BY ck ORDER BY ed, ok)),
        |gaps AS (SELECT * FROM gp WHERE gap IS NOT NULL),
        |rk AS (SELECT ck, gap,
        |    ROW_NUMBER() OVER (PARTITION BY ck ORDER BY gap, ed, ok) AS rn,
        |    COUNT(*) OVER (PARTITION BY ck) AS cnt
        |  FROM gaps),
        |med AS (SELECT ck, MIN(gap) AS med_gap FROM rk
        |  WHERE rn * 2 >= cnt GROUP BY 1),
        |lst AS (SELECT ck, MAX(ed) AS last_ed,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders FROM ord GROUP BY 1),
        |gm AS (SELECT MAX(ed) AS gm FROM ord),
        |dims AS (SELECT c_custkey AS ck, n_name AS nation
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |per AS (SELECT nation,
        |    CASE WHEN gm.gm - last_ed > med_gap * 2 THEN 1 ELSE 0 END
        |      AS at_risk
        |  FROM lst JOIN med USING (ck) JOIN dims USING (ck) CROSS JOIN gm
        |  WHERE n_orders >= 3)
        |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(at_risk) AS BIGINT) AS n_at_risk,
        |  CAST((SUM(at_risk) * 1000000) // COUNT(*) AS BIGINT) AS risk_ppm
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hhi" ->
      """WITH sr AS (SELECT l_suppkey AS sk,
        |    CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS HUGEINT)
        |      AS rev
        |  FROM lineitem GROUP BY 1),
        |dm AS (SELECT s_suppkey AS sk, r_name AS region
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |j AS (SELECT region, rev FROM sr JOIN dm USING (sk)),
        |rt AS (SELECT region, SUM(rev) AS tot,
        |    CAST(COUNT(*) AS BIGINT) AS n_suppliers FROM j GROUP BY 1),
        |sh AS (SELECT j.region, (j.rev * 1000000) // rt.tot AS share_ppm
        |  FROM j JOIN rt USING (region))
        |SELECT region, MAX(rt.n_suppliers) AS n_suppliers,
        |  CAST(MAX(rt.tot) AS BIGINT) AS revenue_cents,
        |  CAST(SUM(share_ppm * share_ppm) // 100000000 AS BIGINT) AS hhi_x1e4
        |FROM sh JOIN rt USING (region)
        |GROUP BY region ORDER BY region""".stripMargin,
    "q_rfm" ->
      """WITH base AS (SELECT o_custkey AS ck,
        |    MAX(datediff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE))) AS last_ed,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS HUGEINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |q AS (SELECT ck, cents,
        |    NTILE(5) OVER (ORDER BY last_ed DESC, ck) AS r_q,
        |    NTILE(5) OVER (ORDER BY n_orders DESC, ck) AS f_q,
        |    NTILE(5) OVER (ORDER BY cents DESC, ck) AS m_q
        |  FROM base)
        |SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_croston" ->
      """WITH RECURSIVE b AS (SELECT l_partkey AS pk,
        |    CAST(l_quantity AS BIGINT) AS z,
        |    CAST(l_shipdate AS DATE) AS d,
        |    ROW_NUMBER() OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS i
        |  FROM lineitem),
        |g AS (SELECT pk, z, i,
        |    CASE WHEN i = 1 THEN 0
        |      ELSE GREATEST(1, date_diff('day',
        |        LAG(d) OVER (PARTITION BY pk ORDER BY i), d)) END AS gap
        |  FROM b),
        |r(pk, i, zq, pq) AS (
        |  SELECT pk, CAST(1 AS BIGINT), z * 1000000, CAST(1000000 AS BIGINT)
        |  FROM g WHERE i = 1
        |  UNION ALL
        |  SELECT g.pk, g.i, (g.z * 1000000 + 4 * r.zq) // 5,
        |    (g.gap * 1000000 + 4 * r.pq) // 5
        |  FROM r JOIN g ON g.pk = r.pk AND g.i = r.i + 1),
        |f AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pk
        |    ORDER BY i DESC) AS rn FROM r)
        |SELECT CAST(pk AS BIGINT) AS partkey, i AS n_demands,
        |  CAST(zq AS BIGINT) AS z_e6, CAST(pq AS BIGINT) AS p_e6,
        |  CAST((zq * 1000000) // pq AS BIGINT) AS forecast_e6
        |FROM f WHERE rn = 1 ORDER BY partkey""".stripMargin,
    "q_abc_parts" ->
      """WITH rev AS (SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS HUGEINT)
        |      AS rev
        |  FROM lineitem GROUP BY 1),
        |cum AS (SELECT pk, rev,
        |    SUM(rev) OVER (ORDER BY rev DESC, pk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |  FROM rev),
        |tot AS (SELECT SUM(rev) AS tot FROM rev),
        |cls AS (SELECT CASE WHEN cm*100 <= tot*80 THEN 'A'
        |    WHEN cm*100 <= tot*95 THEN 'B' ELSE 'C' END AS cls, rev, tot
        |  FROM cum CROSS JOIN tot)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(rev) AS BIGINT) AS revenue_cents,
        |  CAST((SUM(rev) * 1000000) // MAX(tot) AS BIGINT) AS share_ppm
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_session_paths" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g),
        |fi AS (SELECT user_id, session_seq, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY ts, event_id) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
        |      ORDER BY ts DESC, event_id DESC) AS rl,
        |    COUNT(*) OVER (PARTITION BY user_id, session_seq) AS ne
        |  FROM s),
        |per AS (SELECT user_id, session_seq,
        |    MAX(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
        |    MAX(CASE WHEN rl = 1 THEN event_type END) AS exit_type,
        |    MAX(ne) AS n_events
        |  FROM fi GROUP BY 1, 2),
        |cells AS (SELECT entry_type, exit_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |    CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_bounces
        |  FROM per GROUP BY 1, 2),
        |be AS (SELECT entry_type, CAST(SUM(n_sessions) AS BIGINT) AS n_entry
        |  FROM cells GROUP BY 1)
        |SELECT entry_type, exit_type, n_sessions, n_bounces,
        |  CAST((n_bounces * 1000000) // n_entry AS BIGINT)
        |    AS bounce_ppm_of_entry
        |FROM cells JOIN be USING (entry_type)
        |ORDER BY entry_type, exit_type""".stripMargin,
    "q_durbin_watson" ->
      """WITH daily AS (SELECT o_orderdate AS day,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS x
        |  FROM orders GROUP BY 1),
        |idx AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS t,
        |    CAST(x AS HUGEINT) AS y, day FROM daily),
        |m0 AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(t) AS st,
        |    SUM(t*t) AS stt, SUM(y) AS sy, SUM(t*y) AS sty FROM idx),
        |m1 AS (SELECT *, (n*sty - st*sy) * 1000000 AS numb,
        |    n*stt - st*st AS den FROM m0),
        |m2 AS (SELECT *, CASE WHEN numb >= 0 THEN abs(numb) // den
        |    ELSE -(abs(numb) // den) END AS b_e6 FROM m1),
        |m3 AS (SELECT *, sy * 1000000 - b_e6 * st AS numa FROM m2),
        |m4 AS (SELECT *, CASE WHEN numa >= 0 THEN abs(numa) // n
        |    ELSE -(abs(numa) // n) END AS a_e6 FROM m3),
        |r0 AS (SELECT y * 1000000 - (a_e6 + b_e6 * t) AS r0, day, n, a_e6, b_e6
        |  FROM idx CROSS JOIN m4),
        |r AS (SELECT CASE WHEN r0 >= 0 THEN abs(r0) // 1000
        |    ELSE -(abs(r0) // 1000) END AS r, day, n, a_e6, b_e6 FROM r0),
        |rl AS (SELECT r, LAG(r) OVER (ORDER BY day) AS rp, n, a_e6, b_e6
        |  FROM r),
        |ag AS (SELECT MAX(n) AS n, MAX(a_e6) AS a_e6, MAX(b_e6) AS b_e6,
        |    SUM(r*r) AS dend,
        |    SUM(CASE WHEN rp IS NOT NULL THEN (r-rp)*(r-rp) ELSE 0 END) AS numd
        |  FROM rl)
        |SELECT CAST(n AS BIGINT) AS n_days, CAST(a_e6 AS BIGINT) AS a_e6,
        |  CAST(b_e6 AS BIGINT) AS b_e6,
        |  CAST((numd * 1000000) // dend AS BIGINT) AS dw_e6
        |FROM ag""".stripMargin,
    "q_brown_forsythe" ->
      s"""WITH cells AS (SELECT l_returnflag AS g,
        |    CAST(l_quantity AS BIGINT) AS v,
        |    CAST(COUNT(*) AS HUGEINT) AS c FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT g, v, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    SUM(c) OVER (PARTITION BY g) AS tot
        |  FROM cells),
        |med AS (SELECT g, MIN(v) AS med FROM cum
        |  WHERE cm * 2 >= tot GROUP BY g),
        |z AS (SELECT cells.g, c, CAST(abs(v - med) AS HUGEINT) AS z
        |  FROM cells JOIN med ON med.g = cells.g),
        |ag AS (SELECT
        |    SUM(CASE WHEN g='A' THEN c ELSE 0 END) AS na,
        |    SUM(CASE WHEN g='N' THEN c ELSE 0 END) AS nb,
        |    SUM(CASE WHEN g='R' THEN c ELSE 0 END) AS nc,
        |    SUM(CASE WHEN g='A' THEN c*z ELSE 0 END) AS sa,
        |    SUM(CASE WHEN g='N' THEN c*z ELSE 0 END) AS sb,
        |    SUM(CASE WHEN g='R' THEN c*z ELSE 0 END) AS sc,
        |    SUM(CASE WHEN g='A' THEN c*z*z ELSE 0 END) AS qa,
        |    SUM(CASE WHEN g='N' THEN c*z*z ELSE 0 END) AS qb,
        |    SUM(CASE WHEN g='R' THEN c*z*z ELSE 0 END) AS qc
        |  FROM z),
        |f AS (SELECT *, na+nb+nc AS nn,
        |    sa*(na+nb+nc) - (sa+sb+sc)*na AS da,
        |    sb*(na+nb+nc) - (sa+sb+sc)*nb AS db,
        |    sc*(na+nb+nc) - (sa+sb+sc)*nc AS dc
        |  FROM ag)
        |SELECT CAST(nn AS BIGINT) AS n_rows, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_n, CAST(nc AS BIGINT) AS n_r,
        |  CAST(sa AS BIGINT) AS s_a, CAST(sb AS BIGINT) AS s_n,
        |  CAST(sc AS BIGINT) AS s_r,
        |  CAST(ROUND($bfWSql, 6) AS DECIMAL(18,6))::DOUBLE AS w
        |FROM f""".stripMargin,
    "q_event_paths" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g),
        |p AS (SELECT event_type,
        |    LAG(event_type, 1) OVER v AS t2,
        |    LAG(event_type, 2) OVER v AS t1
        |  FROM s WINDOW v AS (PARTITION BY user_id, session_seq
        |    ORDER BY ts, event_id)),
        |c AS (SELECT t1, t2, event_type AS t3, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c)
        |SELECT t1, t2, t3, n, CAST((n * 1000000) // nt AS BIGINT) AS share_ppm
        |FROM c CROSS JOIN t
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    "q_ar_fit" ->
      s"""WITH ac AS ($autocorrOracleSql),
        |b AS (SELECT n_days, CAST(r1_ppm AS HUGEINT) AS a1,
        |    CAST(r2_ppm AS HUGEINT) AS a2 FROM ac),
        |c AS (SELECT *, 1000000000000 - a1*a1 AS dn,
        |    a1*(1000000 - a2)*1000000 AS n1,
        |    (a2*1000000 - a1*a1)*1000000 AS n2 FROM b),
        |d AS (SELECT *,
        |    CASE WHEN n1 >= 0 THEN abs(n1) // dn
        |         ELSE -(abs(n1) // dn) END AS phi1,
        |    CASE WHEN n2 >= 0 THEN abs(n2) // dn
        |         ELSE -(abs(n2) // dn) END AS phi2 FROM c),
        |e AS (SELECT *, 1000000000000 - phi1*a1 - phi2*a2 AS ve12 FROM d)
        |SELECT CAST(n_days AS BIGINT) AS n_days, CAST(a1 AS BIGINT) AS r1_ppm,
        |  CAST(a2 AS BIGINT) AS r2_ppm, CAST(phi1 AS BIGINT) AS phi1_e6,
        |  CAST(phi2 AS BIGINT) AS phi2_e6,
        |  CAST(CASE WHEN ve12 >= 0 THEN abs(ve12) // 1000000
        |       ELSE -(abs(ve12) // 1000000) END AS BIGINT) AS v_ppm
        |FROM e""".stripMargin,
    "q_kruskal" ->
      s"""WITH cells AS (SELECT l_returnflag AS g,
        |    CAST(l_quantity AS BIGINT) AS v,
        |    CAST(COUNT(*) AS HUGEINT) AS c FROM lineitem GROUP BY 1, 2),
        |bv AS (SELECT v, SUM(c) AS cv FROM cells GROUP BY 1),
        |rk AS (SELECT v, cv, COALESCE(SUM(cv) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
        |    + cv + 1 AS r2
        |  FROM bv),
        |tc AS (SELECT SUM(cv*(cv*cv-1)) AS ttd FROM bv),
        |gs AS (SELECT
        |    SUM(CASE WHEN g='A' THEN c ELSE 0 END) AS na,
        |    SUM(CASE WHEN g='N' THEN c ELSE 0 END) AS nb,
        |    SUM(CASE WHEN g='R' THEN c ELSE 0 END) AS nc,
        |    SUM(CASE WHEN g='A' THEN c*r2 ELSE 0 END) AS r2a,
        |    SUM(CASE WHEN g='N' THEN c*r2 ELSE 0 END) AS r2b,
        |    SUM(CASE WHEN g='R' THEN c*r2 ELSE 0 END) AS r2c
        |  FROM cells JOIN rk USING (v)),
        |f AS (SELECT na, nb, nc, na+nb+nc AS nn, r2a, r2b, r2c, ttd AS tt
        |  FROM gs CROSS JOIN tc)
        |SELECT CAST(nn AS BIGINT) AS n_rows, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_n, CAST(nc AS BIGINT) AS n_r,
        |  CAST(r2a AS BIGINT) AS rank2_a, CAST(r2b AS BIGINT) AS rank2_n,
        |  CAST(r2c AS BIGINT) AS rank2_r, CAST(tt AS BIGINT) AS tie_term,
        |  CAST(ROUND($kwHSql, 6) AS DECIMAL(18,6))::DOUBLE AS h
        |FROM f""".stripMargin,
    "q_interval_union" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g),
        |iv AS (SELECT user_id, session_seq, MIN(epoch_us(ts)) AS s_us,
        |    MAX(epoch_us(ts)) + 1 AS e_x FROM s GROUP BY 1, 2),
        |dd AS (SELECT s_us, e_x, s_us // 86400000000 AS day0,
        |    (e_x - 1) // 86400000000 AS day1 FROM iv),
        |ex AS (SELECT s_us, e_x,
        |    unnest(generate_series(day0, day1)) AS day_idx FROM dd),
        |cl AS (SELECT DISTINCT day_idx,
        |    GREATEST(s_us, day_idx * 86400000000) AS cs,
        |    LEAST(e_x, (day_idx + 1) * 86400000000) AS ce FROM ex),
        |mw AS (SELECT day_idx, cs, ce,
        |    MAX(ce) OVER (PARTITION BY day_idx ORDER BY cs, ce
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM cl),
        |il AS (SELECT *, CASE WHEN pm IS NULL OR cs > pm THEN 1 ELSE 0 END AS nw
        |  FROM mw),
        |i2 AS (SELECT *, SUM(nw) OVER (PARTITION BY day_idx ORDER BY cs, ce
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid FROM il),
        |pi AS (SELECT day_idx, iid, MAX(ce) - MIN(cs) AS len
        |  FROM i2 GROUP BY 1, 2)
        |SELECT CAST(day_idx AS BIGINT) AS day_idx,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(len) AS BIGINT) AS covered_us
        |FROM pi GROUP BY 1 ORDER BY covered_us DESC, day_idx LIMIT 10""".stripMargin,
    "q_upsert_compact" ->
      """WITH v AS (SELECT *,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn,
        |  COUNT(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id,
        |  event_type AS last_type,
        |  CAST(ROUND(value, 2) AS DECIMAL(18,2))::DOUBLE AS last_value,
        |  n_versions
        |FROM v WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_triangles" ->
      s"""WITH e0 AS (SELECT DISTINCT least(l_orderkey % 1000, l_partkey % 1000) AS lo,
        |    greatest(l_orderkey % 1000, l_partkey % 1000) AS hi
        |  FROM lineitem WHERE l_orderkey % 1000 <> l_partkey % 1000),
        |e AS (SELECT lo, hi FROM e0
        |  WHERE ${TF.hexPrefix52Sql("md5('tri|' || lo || '|' || hi)")} % 20 = 0),
        |deg AS (SELECT n, COUNT(*)*100000 + n AS ordk FROM
        |  (SELECT lo AS n FROM e UNION ALL SELECT hi AS n FROM e) GROUP BY n),
        |o AS (SELECT CASE WHEN dl.ordk < dh.ordk THEN lo ELSE hi END AS src,
        |    CASE WHEN dl.ordk < dh.ordk THEN hi ELSE lo END AS dst,
        |    CASE WHEN dl.ordk < dh.ordk THEN dh.ordk ELSE dl.ordk END AS dst_ord
        |  FROM e JOIN deg dl ON e.lo = dl.n JOIN deg dh ON e.hi = dh.n),
        |tri AS (SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst_ord < o2.dst_ord
        |  WHERE EXISTS (SELECT 1 FROM o oc WHERE oc.src = o1.dst AND oc.dst = o2.dst)),
        |nc AS (SELECT node, COUNT(*) AS n_tri FROM (SELECT u AS node FROM tri
        |    UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri) GROUP BY 1),
        |t AS (SELECT COUNT(*) AS total_tri FROM tri)
        |SELECT node, n_tri, total_tri FROM nc CROSS JOIN t
        |ORDER BY n_tri DESC, node LIMIT 10""".stripMargin,
    "q_kmv_distinct" ->
      s"""WITH d AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
        |h AS (SELECT l_returnflag, l_partkey,
        |  ${TF.hexPrefix52Sql("md5('kmv|' || CAST(l_partkey AS VARCHAR))")} AS hv FROM d),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY hv, l_partkey) AS rn FROM h),
        |kk AS (SELECT l_returnflag, MAX(hv) AS kth, COUNT(*) AS n_kept
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |ex AS (SELECT l_returnflag, COUNT(*) AS n_exact FROM d GROUP BY 1),
        |j AS (SELECT ex.l_returnflag, n_exact,
        |  CASE WHEN n_kept < 64 THEN n_exact
        |       ELSE CAST(${63L * (1L << 52)} // kth AS BIGINT) END AS kmv_est
        |  FROM ex JOIN kk USING (l_returnflag))
        |SELECT l_returnflag, n_exact, kmv_est,
        |  CAST(ABS(kmv_est - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp
        |FROM j ORDER BY l_returnflag""".stripMargin,
    "q_anova" ->
      s"""WITH g AS (SELECT l_returnflag, COUNT(*) AS n_g,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS s_g,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS HUGEINT) AS q_g
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT *, s_g * s_g * 1000000 // n_g AS term_e6 FROM g),
        |m AS (SELECT COUNT(*) AS n_groups, SUM(n_g) AS n, SUM(s_g) AS s,
        |    SUM(q_g) AS q, CAST(SUM(term_e6) AS HUGEINT) AS terms_e6 FROM t),
        |f AS (SELECT n_groups, n,
        |    CAST(terms_e6 - (s * s * 1000000 // n) AS BIGINT) AS ssb_e6,
        |    CAST(q * 1000000 - terms_e6 AS BIGINT) AS ssw_e6 FROM m)
        |SELECT CAST(n_groups AS BIGINT) AS n_groups, CAST(n AS BIGINT) AS n,
        |  ssb_e6, ssw_e6,
        |  CAST(ROUND($anovaFSql, 6) AS DECIMAL(18,6))::DOUBLE AS f_stat
        |FROM f""".stripMargin,
    "q_bloom_join" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |  COUNT(*) AS n_lines,
        |  CAST(ROUND(ROUND(CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS DOUBLE)/100.0,0)/100.0,2)
        |    AS DECIMAL(18,2))::DOUBLE AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q2_mincost" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS cost_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  JOIN part ON l_partkey = p_partkey AND p_size <= 10 AND p_type = 'STANDARD'
        |  GROUP BY 1,2),
        |mn AS (SELECT l_partkey AS mp, MIN(cost_cents) AS min_cents FROM offers GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  CAST(ROUND(cost_cents/100.0,2) AS DECIMAL(18,2))::DOUBLE AS supply_cost
        |FROM offers JOIN mn ON l_partkey = mp AND cost_cents = min_cents
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    "q9_profit" ->
      """WITH j AS (
        |  SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |    CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))
        |      - CAST(ROUND(p_retailprice*100,0) AS BIGINT)*60*CAST(l_quantity AS BIGINT)
        |      AS amount_e4
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'blue%'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey)
        |SELECT n_name, o_year,
        |  CAST(ROUND(ROUND(CAST(SUM(amount_e4) AS DOUBLE)/100.0,0)/100.0,2)
        |    AS DECIMAL(18,2))::DOUBLE AS profit
        |FROM j GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q11_stock" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |        * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS value_e4
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
        |  GROUP BY 1),
        |t AS (SELECT SUM(value_e4) AS total_e4, COUNT(*) AS nparts FROM v)
        |SELECT l_partkey,
        |  CAST(ROUND(ROUND(CAST(value_e4 AS DOUBLE)/100.0,0)/100.0,2)
        |    AS DECIMAL(18,2))::DOUBLE AS part_value
        |FROM v, t WHERE value_e4 * nparts > 2 * total_e4
        |ORDER BY value_e4 DESC, l_partkey""".stripMargin,
    "q20_excess" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS supp_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1,2),
        |pt AS (SELECT l_partkey AS tp, SUM(supp_qty) AS part_total, COUNT(*) AS nsupp
        |  FROM ps GROUP BY 1)
        |SELECT s_suppkey, s_name, COUNT(*) AS n_dominated
        |FROM ps JOIN pt ON l_partkey = tp AND 2*supp_qty > part_total AND nsupp >= 2
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1,2 ORDER BY 1""".stripMargin,
    "q_gap_islands" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM d)
        |SELECT user_id, MIN(day) AS island_start, MAX(day) AS island_end,
        |  COUNT(*) AS n_days
        |FROM r GROUP BY user_id, day - CAST(rn AS INTEGER)
        |ORDER BY user_id, island_start""".stripMargin,
    "q_concurrency" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM g),
        |se AS (SELECT user_id, session_seq, MIN(epoch_us(ts)) AS s_us,
        |    MAX(epoch_us(ts)) AS e_us FROM s GROUP BY 1, 2),
        |dd AS (SELECT t_us, CAST(SUM(d) AS BIGINT) AS delta FROM (
        |    SELECT s_us AS t_us, 1 AS d FROM se
        |    UNION ALL SELECT e_us + 1, -1 FROM se) GROUP BY 1),
        |run AS (SELECT t_us, CAST(SUM(delta) OVER (ORDER BY t_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS concurrency FROM dd)
        |SELECT t_us, concurrency FROM run
        |ORDER BY concurrency DESC, t_us LIMIT 10""".stripMargin,
    "q_ks_test" ->
      """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS isa FROM lineitem),
        |h AS (SELECT qty, CAST(SUM(isa) AS BIGINT) AS ca,
        |    CAST(COUNT(*) - SUM(isa) AS BIGINT) AS cb FROM li GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(cb) AS BIGINT) AS n_b FROM h),
        |c AS (SELECT qty,
        |    CAST(SUM(ca) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cuma,
        |    CAST(SUM(cb) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cumb FROM h)
        |SELECT n_a, n_b, ABS(cuma*n_b - cumb*n_a) AS d_scaled, qty AS at_qty
        |FROM c CROSS JOIN tot
        |ORDER BY d_scaled DESC, at_qty LIMIT 1""".stripMargin,
    "q_chi2" ->
      """WITH c AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    CAST(COUNT(*) AS HUGEINT) AS o FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT rf, SUM(o) AS rt FROM c GROUP BY 1),
        |cl AS (SELECT ls, SUM(o) AS ct FROM c GROUP BY 1),
        |nt AS (SELECT SUM(o) AS nn FROM c),
        |t AS (SELECT (nn * o * o * 1000000) // (rt * ct) AS tij, nn
        |  FROM c JOIN r USING (rf) JOIN cl USING (ls) CROSS JOIN nt),
        |ag AS (SELECT SUM(tij) AS ts, MAX(nn) AS nn,
        |    (SELECT COUNT(*) FROM r) AS nr, (SELECT COUNT(*) FROM cl) AS nc
        |  FROM t)
        |SELECT CAST(nn AS BIGINT) AS n, CAST((nr-1)*(nc-1) AS BIGINT) AS df,
        |  CAST(ts - nn * 1000000 AS BIGINT) AS chi2_ppm FROM ag""".stripMargin,
    "q_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY cnt DESC, o_orderpriority) AS rn,
        |    SUM(cnt) OVER (PARTITION BY o_orderstatus) AS n_rows FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |  CAST(cnt AS BIGINT) AS mode_count, CAST(n_rows AS BIGINT) AS n_rows
        |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin,
    "q_gini" ->
      """WITH c AS (SELECT o_orderpriority, o_orderstatus,
        |    CAST(COUNT(*) AS HUGEINT) AS cnt FROM orders GROUP BY 1, 2),
        |g AS (SELECT o_orderpriority, SUM(cnt) AS n, SUM(cnt*cnt) AS ss,
        |    COUNT(*) AS n_classes FROM c GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n_rows,
        |  CAST(n_classes AS BIGINT) AS n_classes,
        |  CAST(((n*n - ss) * 1000000) // (n*n) AS BIGINT) AS gini_ppm
        |FROM g ORDER BY 1""".stripMargin,
    "q_auc" ->
      """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos FROM lineitem),
        |h AS (SELECT qty, CAST(SUM(pos) AS BIGINT) AS p,
        |    CAST(COUNT(*) - SUM(pos) AS BIGINT) AS ng FROM li GROUP BY 1),
        |c AS (SELECT qty, p, ng,
        |    CAST(SUM(ng) OVER (ORDER BY qty ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) - ng AS BIGINT) AS cnb FROM h),
        |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
        |    CAST(SUM(ng) AS BIGINT) AS n_neg FROM h),
        |u AS (SELECT CAST(SUM(CAST(p AS HUGEINT) * (2*cnb + ng))
        |    AS DECIMAL(38,0)) AS u2 FROM c)
        |SELECT n_pos, n_neg, CAST(u2 AS BIGINT) AS u2,
        |  CAST(ROUND(CAST(u2 AS DOUBLE) / ((2.0*n_pos)*n_neg), 6)
        |    AS DECIMAL(18,6))::DOUBLE AS auc
        |FROM u CROSS JOIN tot""".stripMargin,
    "q_diff" ->
      """WITH v1 AS (SELECT o_orderkey AS k,
        |    md5(o_custkey || '|' || CAST(ROUND(o_totalprice*100,0) AS BIGINT)
        |        || '|' || o_orderstatus) AS h
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |v2 AS (SELECT o_orderkey AS k,
        |    md5(o_custkey || '|' || CAST(ROUND(
        |      CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.0
        |           ELSE o_totalprice END * 100, 0) AS BIGINT)
        |        || '|' || o_orderstatus) AS h
        |  FROM orders WHERE o_orderkey % 103 <> 0)
        |SELECT CASE WHEN v1.k IS NULL THEN 'added'
        |            WHEN v2.k IS NULL THEN 'removed'
        |            WHEN v1.h <> v2.h THEN 'changed'
        |            ELSE 'same' END AS status, COUNT(*) AS n
        |FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_zorder" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"((b1 >> $i) & 1) * ${1L << (2 * i)}",
        s"((b2 >> $i) & 1) * ${1L << (2 * i + 1)}")).mkString(" + ")
      s"""WITH b AS (SELECT o_orderkey,
        |    LEAST(255, CAST(FLOOR(o_totalprice / 2000.0) AS BIGINT)) AS b1,
        |    o_custkey % 256 AS b2 FROM orders)
        |SELECT o_orderkey, b1 AS price_bin, b2 AS cust_bin,
        |  CAST(0 + $terms AS BIGINT) AS zkey
        |FROM b ORDER BY o_orderkey""".stripMargin
    },
    "q_ewma" ->
      """WITH c AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents FROM orders),
        |l AS (SELECT o_custkey, o_orderkey,
        |    cents AS l0,
        |    LAG(cents, 1) OVER w AS l1,
        |    LAG(cents, 2) OVER w AS l2,
        |    LAG(cents, 3) OVER w AS l3
        |  FROM c WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |SELECT o_custkey, o_orderkey,
        |  CAST(ROUND((
        |      (CASE WHEN l0 IS NOT NULL THEN CAST(l0 AS DOUBLE)*1.0 ELSE 0.0 END
        |     + CASE WHEN l1 IS NOT NULL THEN CAST(l1 AS DOUBLE)*0.5 ELSE 0.0 END
        |     + CASE WHEN l2 IS NOT NULL THEN CAST(l2 AS DOUBLE)*0.25 ELSE 0.0 END
        |     + CASE WHEN l3 IS NOT NULL THEN CAST(l3 AS DOUBLE)*0.125 ELSE 0.0 END)
        |    / (CASE WHEN l0 IS NOT NULL THEN 1.0 ELSE 0.0 END
        |     + CASE WHEN l1 IS NOT NULL THEN 0.5 ELSE 0.0 END
        |     + CASE WHEN l2 IS NOT NULL THEN 0.25 ELSE 0.0 END
        |     + CASE WHEN l3 IS NOT NULL THEN 0.125 ELSE 0.0 END) / 100.0), 2)
        |    AS DECIMAL(18,2))::DOUBLE AS ewma
        |FROM l ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                     "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST($c IS NULL AS BIGINT)) AS BIGINT) AS n_null,
          |  COUNT(DISTINCT $c) AS n_distinct,
          |  CAST(MIN($c) AS VARCHAR) AS min_str,
          |  CAST(MAX($c) AS VARCHAR) AS max_str FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    "q_funnel" ->
      """WITH u AS (SELECT user_id,
        |    MIN(CASE WHEN event_type='view' THEN ts END) AS tv,
        |    MIN(CASE WHEN event_type='click' THEN ts END) AS tc,
        |    MIN(CASE WHEN event_type='purchase' THEN ts END) AS tp
        |  FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  CAST(SUM(CAST(tv IS NOT NULL AS BIGINT)) AS BIGINT) AS n_view,
        |  CAST(SUM(CAST(tv IS NOT NULL AND tc > tv AS BIGINT)) AS BIGINT) AS n_view_click,
        |  CAST(SUM(CAST(tv IS NOT NULL AND tc > tv AND tp > tc AS BIGINT)) AS BIGINT) AS n_full_funnel
        |FROM u""".stripMargin,
    "q_approx_quantile" ->
      """SELECT l_returnflag, 1 AS p50_in_bounds, 1 AS p95_in_bounds
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hll_distinct" ->
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
        |  1 AS distinct_in_bounds
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pct_total" ->
      """WITH g AS (SELECT o_orderpriority,
        |    SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT SUM(cents) AS total FROM g)
        |SELECT o_orderpriority,
        |  CAST(ROUND(CAST(cents AS DOUBLE)/100.0,2) AS DECIMAL(18,2))::DOUBLE AS revenue,
        |  CAST(ROUND(CAST(cents AS DOUBLE)/total,4) AS DECIMAL(18,4))::DOUBLE AS share
        |FROM g CROSS JOIN t ORDER BY 1""".stripMargin,
    "q_retention" ->
      """WITH m AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS m FROM events),
        |c AS (SELECT user_id, MIN(m) AS cohort FROM m GROUP BY 1)
        |SELECT cohort, m.m AS active_day, COUNT(*) AS n_users
        |FROM m JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q4_orderprio" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_priority" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q17_smallqty" ->
      """WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#23'),
        |stats AS (SELECT l_partkey AS sp, SUM(CAST(l_quantity AS BIGINT)) AS qty_sum,
        |    COUNT(*) AS qty_cnt FROM li GROUP BY 1)
        |SELECT CAST(ROUND(ROUND(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT))/7.0, 0)/100.0, 2)
        |  AS DECIMAL(18,2))::DOUBLE AS avg_yearly
        |FROM li JOIN stats ON l_partkey = sp
        |WHERE CAST(l_quantity AS BIGINT) * 5 * qty_cnt < qty_sum""".stripMargin,
    "q22_balance" ->
      """WITH s AS (SELECT SUM(CAST(ROUND(c_acctbal*100,0) AS BIGINT)) AS bal_cents,
        |    COUNT(*) AS bal_cnt FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(ROUND(SUM(c_acctbal),2) AS DECIMAL(18,2))::DOUBLE AS totacctbal
        |FROM customer, s
        |WHERE CAST(ROUND(c_acctbal*100,0) AS BIGINT) * bal_cnt > bal_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_topsupp" ->
      """WITH rev AS (SELECT l_suppkey,
        |    SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |        * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS rev_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  CAST(ROUND(ROUND(rev_e4/100.0, 0)/100.0, 2) AS DECIMAL(18,2))::DOUBLE AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_e4 = (SELECT MAX(rev_e4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q8_share" ->
      """WITH j AS (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
        |    sn.n_name AS supp_nation,
        |    CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |      * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT)) AS rev_e4
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  CAST(ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4 ELSE 0 END) AS DOUBLE)
        |    / SUM(rev_e4), 4) AS DECIMAL(18,4))::DOUBLE AS mkt_share
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_waiting" ->
      """WITH os AS (SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
        |    COUNT(DISTINCT l_suppkey) AS nsupp FROM lineitem GROUP BY 1),
        |blame AS (SELECT l.l_orderkey, MIN(l.l_suppkey) AS blame_supp
        |  FROM lineitem l JOIN os ON l.l_orderkey = os.l_orderkey
        |  WHERE l.l_shipdate = os.max_ship AND os.nsupp >= 2
        |  GROUP BY 1 HAVING COUNT(DISTINCT l.l_suppkey) = 1)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM blame JOIN supplier ON blame_supp = s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q_ffill" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(ROUND(SUM(value),2) AS DECIMAL(18,2))::DOUBLE AS day_sum
        |  FROM events GROUP BY 1,2),
        |cal AS (SELECT user_id, day
        |  FROM (SELECT DISTINCT user_id FROM daily), (SELECT DISTINCT day FROM daily)),
        |j AS (SELECT cal.user_id, cal.day, daily.day_sum
        |  FROM cal LEFT JOIN daily USING (user_id, day))
        |SELECT user_id, day,
        |  LAST_VALUE(day_sum IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
        |  CAST(day_sum IS NULL AS INT) AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q_moving_avg" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROUND(ROUND(CAST(SUM(CAST(ROUND(o_totalprice*100,0) AS BIGINT)) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w, 0) / 100.0, 2) AS DECIMAL(18,2))::DOUBLE AS ma3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_ntile" ->
      """WITH s AS (SELECT o_custkey,
        |  CAST(ROUND(SUM(o_totalprice),2) AS DECIMAL(18,2))::DOUBLE AS spend
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey, spend,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CAST(ROUND(PERCENT_RANK() OVER w,4) AS DECIMAL(18,4))::DOUBLE AS pct_rank,
        |  CAST(ROUND(CUME_DIST() OVER w,4) AS DECIMAL(18,4))::DOUBLE AS cume
        |FROM s WINDOW w AS (ORDER BY spend, o_custkey) ORDER BY o_custkey""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(ROUND(SUM(l_quantity),2) AS DECIMAL(18,2))::DOUBLE AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q6_forecast" ->
      """SELECT CAST(ROUND(SUM(l_extendedprice*l_discount),2) AS DECIMAL(18,2))::DOUBLE AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS DECIMAL(18,2))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
        |GROUP BY 1,2,3,4 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q14_promo" ->
      """WITH s AS (SELECT
        |  CAST(ROUND(SUM(CASE WHEN p_type='PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END),2) AS DECIMAL(18,2))::DOUBLE AS promo,
        |  CAST(ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS DECIMAL(18,2))::DOUBLE AS total
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01')
        |SELECT CAST(ROUND(100.0*promo/total,4) AS DECIMAL(18,4))::DOUBLE AS promo_revenue_pct
        |FROM s""".stripMargin,
    "q16_suppcnt" ->
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1,4,9,14,19,23,36,45)
        |GROUP BY 1,2,3 ORDER BY supplier_cnt DESC, 1, 2, 3""".stripMargin,
    "q19_disjunct" ->
      """SELECT CAST(ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS DECIMAL(18,2))::DOUBLE AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(l_quantity),2) AS DECIMAL(18,2))::DOUBLE AS sum_qty,
        |  CAST(ROUND(SUM(l_extendedprice),2) AS DECIMAL(18,2))::DOUBLE AS sum_base_price,
        |  CAST(ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS DECIMAL(18,2))::DOUBLE AS sum_disc_price,
        |  CAST(ROUND(AVG(l_quantity),4) AS DECIMAL(18,4))::DOUBLE AS avg_qty,
        |  CAST(ROUND(AVG(l_discount),4) AS DECIMAL(18,4))::DOUBLE AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS DECIMAL(18,2))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-15'
        |  AND l_shipdate  > TIMESTAMP '1998-06-15'
        |GROUP BY 1,2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region" ->
      """SELECT n_name,
        |  CAST(ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS DECIMAL(18,2))::DOUBLE AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(ROUND(SUM(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS DECIMAL(18,2))::DOUBLE AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_topn_group" ->
      """SELECT o_custkey, o_orderkey, totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(ROUND(o_totalprice,2) AS DECIMAL(18,2))::DOUBLE AS totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag,'ALL') AS returnflag,
        |  COALESCE(l_linestatus,'ALL') AS linestatus,
        |  COUNT(*) AS n, CAST(ROUND(SUM(l_quantity),2) AS DECIMAL(18,2))::DOUBLE AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1,2""".stripMargin,
    "q_distinct" ->
      """SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations,
        |  COUNT(*) AS n_customers,
        |  CAST(ROUND(SUM(c_acctbal),2) AS DECIMAL(18,2))::DOUBLE AS sum_acctbal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(ROUND(SUM(value),2) AS DECIMAL(18,2))::DOUBLE AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_asof" ->
      """WITH o AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.o_orderkey,
        |  CAST(ROUND(o.o_totalprice,2) AS DECIMAL(18,2))::DOUBLE AS o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_exec" ->
      """WITH o AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.o_orderkey,
        |  CAST(ROUND(o.o_totalprice,2) AS DECIMAL(18,2))::DOUBLE AS o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_pruned" ->
      """WITH o AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.o_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |WHERE e.user_id % 10 = 3
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_filter_rule" ->
      """WITH o AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1),
        |j AS (SELECT e.event_id, o.o_orderkey
        |  FROM events e ASOF LEFT JOIN o
        |    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |  WHERE e.user_id < 300)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(o_orderkey) AS BIGINT) AS n_matched,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(1 AS BIGINT) AS pushed_below_node,
        |  CAST(1 AS BIGINT) AS pushed_to_scan
        |FROM j""".stripMargin,
    "q_asof_prune_rule" ->
      """WITH o AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1),
        |j AS (SELECT e.event_id, o.o_orderkey
        |  FROM events e ASOF LEFT JOIN o
        |    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(o_orderkey) AS BIGINT) AS n_matched,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(1 AS BIGINT) AS node_payload_pruned,
        |  CAST(1 AS BIGINT) AS column_absent_physical
        |FROM j""".stripMargin,
    "q_cartesian_guard" ->
      """WITH s AS (SELECT o_orderkey AS k,
        |    CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |x AS (SELECT cents, r_regionkey FROM s CROSS JOIN region)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(cents*(r_regionkey+1)) AS BIGINT) AS checksum,
        |  CAST(1 AS BIGINT) AS naked_refused
        |FROM x""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM g)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start,
        |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
        |  CAST(ROUND(SUM(value),2) AS DECIMAL(18,2))::DOUBLE AS sum_value
        |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_setops" ->
      """WITH c97 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'),
        |c98 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01')
        |SELECT 'acquired' AS cohort, (SELECT COUNT(*) FROM (SELECT * FROM c98 EXCEPT SELECT * FROM c97)) AS n
        |UNION ALL
        |SELECT 'churned', (SELECT COUNT(*) FROM (SELECT * FROM c97 EXCEPT SELECT * FROM c98))
        |UNION ALL
        |SELECT 'retained', (SELECT COUNT(*) FROM (SELECT * FROM c97 INTERSECT SELECT * FROM c98))
        |ORDER BY 1""".stripMargin,
    "q_semi_anti" ->
      """SELECT c_mktsegment, COUNT(*) AS n_lapsed,
        |  CAST(ROUND(SUM(c_acctbal),2) AS DECIMAL(18,2))::DOUBLE AS sum_acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_range_join" ->
      """SELECT i.event_id AS incident_id, COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(e.value),2) AS DECIMAL(18,2))::DOUBLE AS sum_value
        |FROM events i JOIN events e
        |  ON i.event_type = 'error'
        | AND e.user_id = i.user_id
        | AND e.ts >= i.ts
        | AND e.ts < i.ts + INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tumbling" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n, CAST(ROUND(SUM(value),2) AS DECIMAL(18,2))::DOUBLE AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(l_returnflag,'ALL') AS returnflag,
        |  COALESCE(l_linestatus,'ALL') AS linestatus,
        |  COUNT(*) AS n,
        |  CAST(ROUND(SUM(l_extendedprice),2) AS DECIMAL(18,2))::DOUBLE AS sum_price
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY 1,2""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.5),4) AS DECIMAL(18,4))::DOUBLE AS p50_price,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.9),4) AS DECIMAL(18,4))::DOUBLE AS p90_price,
        |  CAST(ROUND(quantile_cont(l_quantity, 0.5),4) AS DECIMAL(18,4))::DOUBLE AS p50_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_corr" ->
      """SELECT l_returnflag,
        |  CAST(ROUND(corr(l_quantity, l_extendedprice),4) AS DECIMAL(18,4))::DOUBLE AS corr_qty_price,
        |  CAST(ROUND(covar_samp(l_quantity, l_extendedprice),2) AS DECIMAL(18,2))::DOUBLE AS covar_qty_price,
        |  CAST(ROUND(stddev_samp(l_discount),4) AS DECIMAL(18,4))::DOUBLE AS std_discount
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(YEAR(o_orderdate) AS BIGINT) AS l_year,
        |  CAST(CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
        |    * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))) AS BIGINT) AS DOUBLE)
        |    / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
    "q_lead_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  date_diff('day', LAG(o_orderdate) OVER w, o_orderdate) AS gap_days,
        |  CAST(NTILE(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS spend_quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_asof_tolerance" ->
      """WITH o AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders) WHERE rn = 1)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN epoch_us(e.ts) - epoch_us(o.o_orderdate) <= 2592000000000
        |       THEN o.o_orderkey END AS o_orderkey,
        |  CASE WHEN epoch_us(e.ts) - epoch_us(o.o_orderdate) <= 2592000000000
        |       THEN CAST(ROUND(o.o_totalprice,2) AS DECIMAL(18,2))::DOUBLE END AS o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q_rank_fns" ->
      """SELECT event_type, event_id,
        |  CAST(ROUND(percent_rank() OVER w, 6) AS DECIMAL(18,6))::DOUBLE AS pct_rank,
        |  CAST(ROUND(cume_dist() OVER w, 6) AS DECIMAL(18,6))::DOUBLE AS cume,
        |  CAST(ROUND(nth_value(value, 3) OVER w, 2) AS DECIMAL(18,2))::DOUBLE AS third_low
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin,
    "q_range_window" ->
      """SELECT o_custkey, o_orderkey,
        |  COUNT(*) OVER w AS n_30d,
        |  CAST(ROUND(SUM(o_totalprice) OVER w,2) AS DECIMAL(18,2))::DOUBLE AS spend_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_ohlc" ->
      """WITH b AS (SELECT
        |  make_timestamp(epoch_us(ts) - epoch_us(ts) % 900000000) AS bucket,
        |  event_type, ts, event_id, value,
        |  ROW_NUMBER() OVER (PARTITION BY
        |    epoch_us(ts) - epoch_us(ts) % 900000000, event_type
        |    ORDER BY ts, event_id) AS rna,
        |  ROW_NUMBER() OVER (PARTITION BY
        |    epoch_us(ts) - epoch_us(ts) % 900000000, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rnd
        |  FROM events)
        |SELECT bucket, event_type,
        |  CAST(ROUND(MAX(CASE WHEN rna = 1 THEN value END),2) AS DECIMAL(18,2))::DOUBLE AS open,
        |  CAST(ROUND(MAX(value),2) AS DECIMAL(18,2))::DOUBLE AS high,
        |  CAST(ROUND(MIN(value),2) AS DECIMAL(18,2))::DOUBLE AS low,
        |  CAST(ROUND(MAX(CASE WHEN rnd = 1 THEN value END),2) AS DECIMAL(18,2))::DOUBLE AS close,
        |  COUNT(*) AS n
        |FROM b GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1) t
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q18_toporders" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ROUND(o_totalprice,2) AS DECIMAL(18,2))::DOUBLE AS o_totalprice,
        |  CAST(ROUND(sum_qty,2) AS DECIMAL(18,2))::DOUBLE AS sum_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300) b
        |ON o_orderkey = b.l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_skew_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
        |FROM events WHERE user_id IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_full_outer" ->
      """SELECT COALESCE(c.nk, p.nk) AS nationkey,
        |  COALESCE(n_customers, 0) AS n_customers,
        |  COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) p
        |  ON c.nk = p.nk
        |ORDER BY 1""".stripMargin,
    "q_unpivot" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_sample" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(ROUND(SUM(l_extendedprice),2) AS DECIMAL(18,2))::DOUBLE AS sum_price
        |FROM lineitem
        |WHERE CAST(${TF.hexPrefix52Sql("md5(l_orderkey||'|'||l_linenumber||'|'||l_partkey||'|'||l_suppkey)")} AS BIGINT) % 100 < 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  COUNT(*) AS n,
        |  CAST(ROUND(MIN(o_totalprice),2) AS DECIMAL(18,2))::DOUBLE AS lo,
        |  CAST(ROUND(MAX(o_totalprice),2) AS DECIMAL(18,2))::DOUBLE AS hi
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_string_agg" ->
      """WITH t AS (SELECT c_mktsegment, c_custkey,
        |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer)
        |SELECT c_mktsegment, string_agg(c_custkey, ',' ORDER BY rn) AS top5_custkeys
        |FROM t WHERE rn <= 5 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_skew_agg" ->
      """SELECT event_type,
        |  CAST(ROUND(SUM(value),2) AS DECIMAL(18,2))::DOUBLE AS sum_value,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_zipf_distinct" -> zipfDistinctSql,
    "q_zipf_distinct_direct" -> zipfDistinctSql,
    "q_running_skew" -> runningSkewSql,
    "q_running_skew_window" -> runningSkewSql,
    "q_median_skew" ->
      s"""WITH e AS $zipfFixtureSql,
        |h AS (SELECT user_id, v, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
        |c AS (SELECT user_id, v, cnt,
        |  SUM(cnt) OVER (PARTITION BY user_id ORDER BY v) AS cum,
        |  SUM(cnt) OVER (PARTITION BY user_id) AS n FROM h)
        |SELECT user_id, v AS median_v, CAST(n AS BIGINT) AS n
        |FROM c WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2
        |ORDER BY 1""".stripMargin,
    // B62 contract: the flags are deterministically 1 by the MG theorem
    // (every top-5 true count exceeds N/65), so the oracle pins the
    // exact top-5 keys/counts and all-true verdicts
    "q_heavy_hitters" ->
      s"""WITH e AS $zipfFixtureSql,
        |t AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM e
        |  GROUP BY 1 ORDER BY true_cnt DESC, user_id LIMIT 5)
        |SELECT user_id, true_cnt, 1 AS found, 1 AS bounds_ok
        |FROM t ORDER BY user_id""".stripMargin,
    "q_cms_freq" ->
      s"""WITH e AS $zipfFixtureSql,
        |t AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM e
        |  GROUP BY 1 ORDER BY true_cnt DESC, user_id LIMIT 5)
        |SELECT user_id, true_cnt, 1 AS over_ok, 1 AS bound_ok
        |FROM t ORDER BY user_id""".stripMargin,
    "q_skew_plan_bounds" ->
      s"""WITH e AS $zipfFixtureSql,
        |c AS (SELECT user_id, COUNT(*) AS cnt FROM e GROUP BY 1)
        |SELECT CAST($zipfRows AS BIGINT) AS n_rows,
        |  CAST(MAX(cnt) AS BIGINT) AS hot_cnt,
        |  CAST(32 AS BIGINT) AS n_parts,
        |  CAST(1 AS BIGINT) AS direct_hot_one_task,
        |  CAST(1 AS BIGINT) AS two_phase_bounded,
        |  CAST(1 AS BIGINT) AS separation_4x
        |FROM c""".stripMargin
  )

  /** The B57–B60 Zipf fixture rebuilt row-by-row from the md5
    * formulas — ground truth independent of any Spark layout.
    */
  private lazy val zipfFixtureSql: String = {
    val hu = TF.hexPrefix52Sql("md5('zu|'||i)")
    val hv = TF.hexPrefix52Sql("md5('zv|'||i)")
    s"""(SELECT i AS event_id,
      |    CAST(LEAST(4503599627370496 // ($hu + 1), 1000) AS BIGINT) AS user_id,
      |    CAST($hv % 100000 AS BIGINT) AS v
      |  FROM (SELECT unnest(range($zipfRows)) AS i))""".stripMargin
  }

  /** Shared oracle for B57/B58: count distinct directly on the fixture. */
  private lazy val zipfDistinctSql: String =
    s"""WITH e AS $zipfFixtureSql
      |SELECT user_id, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct_v
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared oracle for B59/B60: the running-sum digest via a plain
    * window — both Spark layouts must reproduce it exactly.
    */
  private lazy val runningSkewSql: String =
    s"""WITH e AS $zipfFixtureSql,
      |r AS (SELECT user_id, event_id, v,
      |  SUM(v) OVER (PARTITION BY user_id ORDER BY event_id) AS running
      |  FROM e)
      |SELECT user_id, COUNT(*) AS n, CAST(MAX(running) AS BIGINT) AS total,
      |  CAST(SUM(running) AS BIGINT) AS sum_running
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
}
