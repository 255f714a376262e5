package graft

/** Dev tool: plan-shape audit. Default mode prints join/pushdown stats
  * for a handful of representative queries; `--all` sweeps EVERY
  * registry query at the given SF and flags the plan shapes that are
  * scale-killers at 100 TB: CartesianProduct anywhere, Expand outside
  * the cube/rollup/grouping-sets family (the multi-countDistinct trap),
  * a global Sort at the plan root (a registry query returns a row set,
  * so a trailing sort only adds a sampling job and a range shuffle),
  * and — the r9 q_conformal lesson — an UNPARTITIONED window whose
  * input subtree reaches a file relation without passing through an
  * Aggregate or a Limit: such a window funnels a fact-proportional row
  * count through ONE reducer. Windows over Aggregate output are exempt
  * (the registry's unpartitioned windows are all domain-bounded — qty
  * ≤ 50, days, deciles — and arrive via groupBy); windows under a
  * Limit are bounded by construction.
  * SortMergeJoin is reported as INFO, not a failure: it is the correct
  * plan for full-outer joins (broadcast unsupported) and for fact-to-
  * derived-aggregate equi-joins where neither side is broadcastable at
  * scale (r9 sweep: q_full_outer, q_diff, q2_mincost, q20_excess,
  * q_spatial_nn — all in that class). Exit code 1 if any FLAG plan is
  * found, so the sweep can gate a round close.
  */
object ExplainAudit {
  // Expand IS the operator for grouping-set queries
  private val expandOk = Set("q_cube", "q_rollup", "q_grouping_sets")

  /** True if the optimized plan holds a partition-less Window whose
    * child subtree reaches a file/table relation with no Aggregate or
    * Limit in between — the single-reducer fact-window shape. */
  private[graft] def unboundedFactWindow(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def reachesScan(n: LogicalPlan): Boolean = n match {
      case _: GlobalLimit | _: LocalLimit => false
      case _: Aggregate                   => false
      case l: LeafNode =>
        val cn = l.getClass.getSimpleName
        cn.contains("Relation") && cn != "LocalRelation" && cn != "OneRowRelation"
      case other => other.children.exists(reachesScan)
    }
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }.exists(w => reachesScan(w.child))
  }

  /** True if the optimized plan's root, looking through Project and
    * SubqueryAlias, is a global Sort: a trailing sort on a registry
    * query, whose order is not part of its row-set result. A sort
    * under a Limit (TopN) or inside a Window is not a root sort. */
  private[graft] def rootSort(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case p: Project        => rootSort(p.child)
      case a: SubqueryAlias  => rootSort(a.child)
      case s: Sort           => s.global
      case _                 => false
    }
  }

  def main(args: Array[String]): Unit = {
    val all = args.contains("--all")
    val dir = args.filterNot(_ == "--all").headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(if (all) "/root/testdata/sf0.001" else "/root/testdata/sf0.01")
    val spark = GraftSession.local("8")
    var flagged = 0
    if (all) {
      for ((n, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
        try {
          val qe = fn(spark, dir).queryExecution
          val plan = qe.executedPlan.toString
          val shapes = Seq(
            if (plan.contains("CartesianProduct")) Some("CartesianProduct") else None,
            if (plan.contains("Expand") && !expandOk(n)) Some("Expand") else None,
            if (unboundedFactWindow(qe.optimizedPlan)) Some("UnboundedFactWindow") else None,
            if (rootSort(qe.optimizedPlan)) Some("RootSort") else None
          ).flatten
          if (shapes.nonEmpty) { flagged += 1; println(s"FLAG $n: ${shapes.mkString(", ")}") }
          if (plan.contains("SortMergeJoin")) println(s"INFO $n: SortMergeJoin")
        } catch {
          case e: Throwable => flagged += 1; println(s"FLAG $n: ERROR ${e.getMessage}")
        }
      }
      println(s"AUDIT --all done: $flagged flagged of ${SparkEntry.queries.size}")
    } else {
      for ((n, q) <- Seq(
        "q7" -> operators.Relational.q7NationVolume(spark, dir),
        "q_sample" -> operators.Relational.qSample(spark, dir),
        "q_tfidf" -> operators.TextOps.qTfidf(spark, dir),
        "q_percentile" -> operators.Relational.qPercentile(spark, dir))) {
        val plan = q.queryExecution.executedPlan.toString
        val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
        val smj = "SortMergeJoin".r.findAllIn(plan).length
        val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(plan).length
        println(s"AUDIT $n: broadcastJoins=$bhj sortMergeJoins=$smj nonEmptyPushedFilters=$pushed wholeStageCodegen=${plan.contains("WholeStageCodegen")}")
      }
    }
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }
}
