package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.operators.Relational

/** Locks in the scale posture (SURVEY §6): the headline join plans must
  * broadcast every dimension chain (no SortMergeJoin sneaking in when a
  * stats estimate shifts) and the fact-table scans must push their
  * predicates into the parquet source. A regression here is invisible
  * to the value-correctness gate but catastrophic at 100 TB.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("headline join queries broadcast dims and never sort-merge") {
    for ((name, q) <- Seq(
        "q3" -> Relational.q3Shipping(spark, sfDir),
        "q5" -> Relational.q5Region(spark, sfDir),
        "q7" -> Relational.q7NationVolume(spark, sfDir),
        "q18" -> Relational.q18TopOrders(spark, sfDir),
        "q17" -> Relational.q17SmallQty(spark, sfDir),
        "q_target_enc" -> graft.operators.Estimation.qTargetEnc(spark, sfDir),
        "q_stratified" -> graft.operators.TextOps.qStratified(spark, sfDir))) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcast joins:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name degraded to SortMergeJoin:\n$p")
    }
  }

  test("percent-of-total crosses a 1-row BROADCAST total, never a sort-merge") {
    val p = plan(Relational.qPctTotal(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"q_pct_total's total is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q_pct_total degraded to SortMergeJoin:\n$p")
  }

  test("Q8 market share broadcasts both dim chains, facts never sort-merge") {
    val p = plan(Relational.q8Share(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"q8 lost its broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q8 degraded to SortMergeJoin:\n$p")
  }

  test("Q4 EXISTS stays a semi join (no duplicate-building inner join)") {
    val p = plan(Relational.q4OrderPrio(spark, sfDir))
    assert(p.contains("LeftSemi"), s"q4's EXISTS is not a semi join:\n$p")
  }

  test("Q22 dormant-customer check stays an anti join") {
    val p = plan(Relational.q22Balance(spark, sfDir))
    assert(p.contains("LeftAnti"), s"q22's NOT EXISTS is not an anti join:\n$p")
  }

  test("corpus-pair queries never plan a cartesian product") {
    for ((name, q) <- Seq(
        "q_knn_graph" -> graft.operators.Similarity.qKnnGraph(spark, sfDir),
        "q_embed_neardup" -> graft.operators.Similarity.qEmbedNearDup(spark, sfDir),
        "q_editdist" -> graft.operators.TextOps.qEditDist(spark, sfDir))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$name degraded to a cartesian product:\n$p")
    }
  }

  test("C32/C33 gram joins never plan all-pairs; C34 thresholds broadcast") {
    // dup-ngram and LM scoring join occurrences to count frames on
    // gram/token KEYS — a cartesian or BNLJ here is the O(docs²) trap.
    for ((name, q) <- Seq(
        "q_dup_ngram" -> graft.operators.TextOps.qDupNgram(spark, sfDir),
        "q_lm_score" -> graft.operators.TextOps.qLmScore(spark, sfDir))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name planned an all-pairs join:\n$p")
    }
    // domain-mix thresholds are domains-sized: the doc-side join must
    // broadcast them, never shuffle the corpus on source.
    val p = plan(graft.operators.TextOps.qDomainMix(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"q_domain_mix lost its broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q_domain_mix shuffled the corpus on source:\n$p")
  }

  test("C35 BM25 and D14 embed-decontam broadcast their small sides, corpus never shuffle-joined") {
    // both queries cross the corpus with a broadcast frame (1-row stats
    // / eval slice): the plan must be a broadcast nested loop, never a
    // sort-merge (which would shuffle the 100 TB corpus) or a cartesian
    for ((name, q) <- Seq(
        "q_bm25" -> graft.operators.TextOps.qBm25(spark, sfDir),
        "q_embed_decontam" -> graft.operators.Similarity.qEmbedDecontam(spark, sfDir))) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin"), s"$name lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name shuffled or cartesianed the corpus:\n$p")
    }
  }

  test("C37/C38/C39: segment/PMI/inverted joins key-join (no all-pairs); inverted prunes postings pre-sort") {
    // line-dedup joins segments to segment stats, PMI joins pairs to
    // unigram counts, the index joins stats to postings — all on KEYS;
    // a cartesian/BNLJ would be the O(docs²) trap. q_pmi's 1-row
    // n_tokens broadcast is the one allowed BNLJ.
    for ((name, q, allowBnlj) <- Seq(
        ("q_line_dedup", graft.operators.TextOps.qLineDedup(spark, sfDir), false),
        ("q_pmi", graft.operators.TextOps.qPmi(spark, sfDir), true),
        ("q_inverted", graft.operators.TextOps.qInverted(spark, sfDir), false))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
      if (!allowBnlj)
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name planned a nested-loop join:\n$p")
    }
    // the posting-list rn <= 8 must compile to a WindowGroupLimit so
    // hot terms prune to 8 rows per partition BEFORE the full sort —
    // without it the window buffers every occurrence of every term.
    val p = plan(graft.operators.TextOps.qInverted(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"q_inverted lost the rank-limit pushdown:\n$p")
    // and the global top-k stays bounded, never a global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"q_inverted's top-30 became a global sort:\n$p")
  }

  test("B64/B65: island windows stay user-partitioned; the sweep line never plans a global window") {
    // gap-islands' windows must partition by user_id — an Exchange
    // SinglePartition would mean a global sort of every (user, day).
    val gi = plan(Relational.qGapIslands(spark, sfDir))
    assert(!gi.contains("Exchange SinglePartition"),
      s"q_gap_islands planned a single-partition exchange:\n$gi")
    // the concurrency profile's global prefix sum is the B59 two-phase
    // scan: the plan must contain NO Window operator at all (a Window
    // over (ORDER BY t) would be the single-reducer trap) — the only
    // single-partition exchange allowed is the final top-10 TakeOrdered.
    val q = Relational.qConcurrency(spark, sfDir)
    q.collect() // materialize (the scan pins its range-parted input)
    val p = plan(q)
    assert(!p.contains("Window"),
      s"q_concurrency regressed to a window-based prefix sum:\n$p")
    assert(!p.contains("CartesianProduct"), s"q_concurrency cartesian:\n$p")
  }

  test("q_profile plans no Expand over the fact table (multi-countDistinct trap)") {
    // Spark compiles N countDistinct in one aggregate into an Expand
    // that multiplies every input row x(N+1) before the shuffle — a 6x
    // shuffle amplification at 100 TB. The r6 two-level rewrite must
    // keep Expand out of the plan entirely.
    val p = plan(Relational.qProfile(spark, sfDir))
    assert(!p.contains("Expand"), s"q_profile regressed to an Expand plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q_profile's 5-row meet must broadcast:\n$p")
  }

  test("q_pagerank plans exactly one join+agg shuffle pair per iteration") {
    // 3 unrolled fixed-point iterations: each is ONE edges-ranks join
    // plus ONE aggregate on node id. More exchanges per round would
    // multiply the per-iteration shuffle volume at graph scale.
    val q = graft.operators.TextOps.qPagerank(spark, sfDir)
    q.collect() // materialize (pins run; plan contains reused stages)
    val p = plan(q)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    // 3 iterations x (1 join-side + 1 agg partial->final); allow the
    // pinned edge prep but fail if the per-iteration pair count doubles
    assert(exchanges <= 9, s"q_pagerank shuffle count blew up ($exchanges):\n$p")
  }

  test("q_knn_graph (named): block-triangle join is not a cartesian and buckets on block keys") {
    val p = plan(graft.operators.Similarity.qKnnGraph(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      s"q_knn_graph degraded to a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q_knn_graph degraded to a nested-loop join:\n$p")
  }

  test("q_calibration never joins the fact table to itself (label rides the kNN pass)") {
    val p = plan(graft.operators.Estimation.qCalibration(spark, sfDir))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q_calibration re-grew the fact-fact id join:\n$p")
  }

  test("fact-scan predicates reach the parquet source") {
    val p = plan(Relational.q1Pricing(spark, sfDir))
    // constraint propagation is off (GraftSession), so no inferred
    // IsNotNull — the explicit predicate itself must still push down
    assert(p.contains("PushedFilters: [LessThanOrEqual(l_shipdate") ||
           p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q1's shipdate filter did not push into the scan:\n$p")
  }

  test("decontam broadcasts the eval-gram side and never shuffles it") {
    val p = plan(graft.operators.TextOps.qDecontam(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"q_decontam lost the eval-gram broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q_decontam degraded to SortMergeJoin:\n$p")
  }

  test("corpus pipeline: eval grams broadcast, no cartesian, no nested loop") {
    val p = plan(graft.operators.TextOps.qCorpusPipeline(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"q_corpus_pipeline lost the eval-gram broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q_corpus_pipeline planned an unbounded join:\n$p")
  }

  test("q_hll_distinct aggregates sketches without an Expand") {
    // the HLL++ sketch is ONE aggregate expression per grouping — if it
    // ever compiled through the multi-countDistinct Expand path the
    // scan would amplify before the shuffle like the q_profile trap
    val p = plan(Relational.qHllDistinct(spark, sfDir))
    assert(!p.contains("Expand"), s"q_hll_distinct regressed to an Expand plan:\n$p")
  }

  test("q_bpe_pairs takes top-k via TakeOrderedAndProject, not a global sort") {
    // top-20 of the pair counts must be the per-partition heap + driver
    // merge operator; a global Sort would shuffle every (pair, count)
    // row just to keep 20
    val p = plan(graft.operators.TextOps.qBpePairs(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"q_bpe_pairs lost its TakeOrderedAndProject top-k:\n$p")
    assert(!"(?m)^\\s*[+:*]*\\s*Sort ".r.findFirstIn(p).isDefined ||
           p.contains("TakeOrderedAndProject"),
      s"q_bpe_pairs plans a global sort:\n$p")
  }

  test("q_split assigns splits with zero shuffles") {
    // the deterministic hash-range split is pure per-row codegen over
    // the scan — any Exchange means the assignment stopped being free
    val p = plan(graft.operators.TextOps.qSplit(spark, sfDir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 0, s"q_split grew a shuffle ($exchanges):\n$p")
  }

  test("TPC-H completions (B67-B70): dims broadcast, no cartesian anywhere") {
    // the agg-agg joins (offers->per-part min, per-(part,supp)->per-part
    // totals) may legitimately shuffle on their keys — what must never
    // regress is the dim-chain broadcasts and absence of any
    // cartesian/nested-loop pairing on the fact side
    for ((name, q) <- Seq(
        "q2_mincost" -> Relational.q2MinCost(spark, sfDir),
        "q9_profit" -> Relational.q9Profit(spark, sfDir),
        "q11_stock" -> Relational.q11Stock(spark, sfDir),
        "q20_excess" -> Relational.q20Excess(spark, sfDir))) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$name lost its dim broadcasts:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name planned a cartesian:\n$p")
    }
    // Q9's only fact-fact shuffle is the l_orderkey join; every other
    // join must have been broadcast
    val p9 = plan(Relational.q9Profit(spark, sfDir))
    assert("SortMergeJoin".r.findAllIn(p9).size <= 1,
      s"q9_profit grew a second fact-fact sort-merge join:\n$p9")
  }

  test("q_bloom_join: the membership test filters the fact BEFORE its join") {
    val p = plan(Relational.qBloomJoin(spark, sfDir))
    // the codegen'd bitmask probe (element_at into the boolean-array
    // literal) must appear as a Filter in the plan — losing it silently
    // reverts to shipping the whole fact into the join
    assert(p.contains("element_at"), s"q_bloom_join lost its Bloom pre-filter:\n$p")
    assert(!p.contains("CartesianProduct"), s"q_bloom_join planned a cartesian:\n$p")
  }

  test("raster reductions (A29/A30) are single aggregates: no join, no window, no extra exchange") {
    for ((name, q) <- Seq(
        "q_zonal" -> graft.operators.Estimation.qZonal(spark, sfDir),
        "q_resample" -> graft.operators.Estimation.qResample(spark, sfDir))) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$name grew a join:\n$p")
      assert(!p.contains("Window"), s"$name grew a window:\n$p")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges <= 1, s"$name shuffles more than the one aggregate exchange:\n$p")
    }
  }

  test("statistics queries (B73-B76, A31-A33) keep the fact out of windows and sort-merges") {
    // each collapses the fact to a domain-bounded frame FIRST; windows
    // and joins may only run on that collapsed side, so the executed
    // plan must never sort-merge and never window-partition the scan
    for ((name, q) <- Seq(
        "q_mode" -> Relational.qMode(spark, sfDir),
        "q_gini" -> Relational.qGini(spark, sfDir),
        "q_auc"  -> Relational.qAuc(spark, sfDir),
        "q_chi2" -> Relational.qChi2(spark, sfDir),
        "q_crossval" -> graft.operators.Estimation.qCrossVal(spark, sfDir),
        "q_ridge_path" -> graft.operators.Estimation.qRidgePath(spark, sfDir),
        "q_feat_importance" -> graft.operators.Estimation.qFeatImportance(spark, sfDir))) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$name degraded to SortMergeJoin:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }

  test("KMV bottom-k compiles to a rank-limited window (WindowGroupLimit)") {
    // the per-group bottom-64 must prune to k rows per group in each
    // task BEFORE the window sort — without the pushdown every distinct
    // (group, value) pair feeds the sort and the sketch's constant-
    // memory claim is void
    val p = plan(Relational.qKmvDistinct(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"q_kmv_distinct lost its rank-limit pushdown:\n$p")
  }

  test("triangle / spatial / learning-curve joins never plan a cartesian") {
    for ((name, q) <- Seq(
        "q_triangles" -> Relational.qTriangles(spark, sfDir),
        "q_spatial_join" -> graft.operators.Spatial.qSpatialJoin(spark, sfDir))) {
      val p = plan(q)
      // the only nested-loop allowed is the 1-row broadcast total cross
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
    // the learning curve's only cross join must be against the 3-row
    // broadcast coefficient frame
    val lc = plan(graft.operators.Estimation.qLearningCurve(spark, sfDir))
    assert(!lc.contains("CartesianProduct"), s"q_learning_curve plans a cartesian:\n$lc")
    assert(!lc.contains("SortMergeJoin"), s"q_learning_curve sort-merges:\n$lc")
  }

  test("q_spatial_join evaluates the grid-join pairs subtree exactly once") {
    // the pairs frame is pinned (Materialize.pin) before the count /
    // top-20 fan-out, so the FINAL plan must read the materialized RDD —
    // no residual grid equi-join or 9×-explode Generate may remain (the
    // pre-r9 plan re-ran scan+explode+join for BOTH consumers)
    val p = plan(graft.operators.Spatial.qSpatialJoin(spark, sfDir))
    assert(p.contains("Scan ExistingRDD"),
      s"q_spatial_join no longer reads the pinned pairs:\n$p")
    assert(!p.contains("Generate"),
      s"q_spatial_join re-plans the 9x neighborhood explode after the pin:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q_spatial_join re-plans the grid join after the pin:\n$p")
  }

  test("UnboundedFactWindow flags the single-reducer fact-window shape") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val fact = graft.sources.Tables.lineitem(spark, sfDir)
    val w = Window.orderBy(col("l_orderkey"), col("l_linenumber"))
    def flagged(df: DataFrame): Boolean =
      ExplainAudit.unboundedFactWindow(df.queryExecution.optimizedPlan)
    // the r9 q_conformal shape: partition-less window straight over a
    // (filtered) fact scan — fact-proportional rows through one reducer
    assert(flagged(fact.filter(col("l_orderkey") % 499 === 1)
      .withColumn("rn", row_number().over(w))))
    // bounded by a Limit between window and scan: not flagged
    assert(!flagged(fact.orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(100).withColumn("rn", row_number().over(w))))
    // bounded by an Aggregate (domain-bounded frame): not flagged
    assert(!flagged(fact.groupBy(col("l_quantity")).count()
      .withColumn("rn",
        row_number().over(Window.orderBy(col("l_quantity"))))))
    // partitioned windows are key-bounded, never flagged
    assert(!flagged(fact.withColumn("rn", row_number().over(
      Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"))))))
  }

  test("RootSort flags a trailing global sort, not TopN or a window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val fact = graft.sources.Tables.lineitem(spark, sfDir)
    def flagged(df: DataFrame): Boolean =
      ExplainAudit.rootSort(df.queryExecution.optimizedPlan)
    assert(flagged(fact.orderBy(col("l_orderkey"))))
    // looks through a trailing projection
    assert(flagged(fact.orderBy(col("l_orderkey")).select(col("l_partkey"))))
    // TopN: the limit picks rows by the order, so the order is the result
    assert(!flagged(fact.orderBy(col("l_orderkey")).limit(5)))
    // a window's ordering is not a global sort
    assert(!flagged(fact.withColumn("rn", row_number().over(
      Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))))))
    assert(!flagged(fact.groupBy(col("l_returnflag")).count()))
  }

  test("scans prune to the projected columns") {
    val p = plan(Relational.qDistinct(spark, sfDir))
    // customer has 5+ columns; this aggregate needs exactly three
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
      .split(",").map(_.takeWhile(_ != '#')).toSet
    assert(scanCols == Set("c_nationkey", "c_acctbal", "c_mktsegment"),
      s"qDistinct reads more than its three columns: $scanCols\n$p")
  }
}
