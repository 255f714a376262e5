package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions.{CosineSimilarity, CountMin, MisraGries}

/** Engine extensions installed via `spark.sql.extensions` (set by
  * [[GraftSession]]): registers the native codegen'd functions so SQL
  * users get them as first-class builtins (`SELECT graft_cosine(a, b)`),
  * not UDFs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** Usage-only function docs: no arguments, examples, group or source. */
  private def info(cls: Class[_], name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(cls.getName, null, name, usage, "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      info(classOf[CosineSimilarity], "graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two double arrays"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_mg"),
      info(classOf[MisraGries], "graft_mg",
        "graft_mg(col, k) - Misra-Gries heavy-hitters summary (map of key -> " +
          "estimated count, at most k entries, est within N/(k+1) of truth)"),
      (children: Seq[Expression]) => MisraGries(
        children(0),
        children(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms"),
      info(classOf[CountMin], "graft_cms",
        "graft_cms(col, depth, width) - Count-Min sketch (flat row-major " +
          "array<bigint>; probe row d with pmod(xxhash64(col, CAST(d AS " +
          "BIGINT)), width); est >= true always)"),
      (children: Seq[Expression]) => CountMin(
        children(0),
        children(1).eval().asInstanceOf[Number].intValue(),
        children(2).eval().asInstanceOf[Number].intValue())))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // refuse unbounded cartesian plans at analysis time (G18): the
    // whole registry runs under this guard — the compatibility proof
    ext.injectCheckRule(_ => graft.plans.CartesianGuard)
    // custom logical nodes opt OUT of Catalyst's pushdown by default —
    // this rule opts the as-of node back in for left-only predicates
    ext.injectOptimizerRule(_ => graft.plans.AsOfFilterPushdown)
    ext.injectOptimizerRule(_ => graft.plans.AsOfColumnPruning)
  }
}
