package graft.estimators

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Catalyst expression form of the kNN scan: evaluates directly on
  * InternalRow data inside the projection, replacing the mapPartitions
  * kernel whose per-row Row decode/encode dominated predict cost (the
  * math is unchanged — it delegates to [[KnnKernel.topK]], so distance
  * accumulation and (dist, id) tie-breaks stay bit-identical to the
  * oracles).
  *
  * Input: `array<double>` of features (NoData rows must be routed around
  * the expression by the caller's `when(mask, ...)`). Output:
  * `array<double>` whose layout depends on `mode`:
  *  - [[KnnScanExpr.ModeReg]]:      t mean-of-neighbors targets
  *  - [[KnnScanExpr.ModeWeighted]]: t 1/distance-weighted targets
  *                                  (zero-distance neighbors average)
  *  - [[KnnScanExpr.ModeCounts]]:   classCount neighbor class counts
  *  - [[KnnScanExpr.ModeNN]]:       k neighbor ids then k distances
  *                                  (ids are exact ≤ 2^53 doubles)
  *  - [[KnnScanExpr.ModeRadius]]:   in-ball count then t ball means
  *
  * The output is an `UnsafeArrayData` over the primitive doubles, which
  * the projection copies as one block (no per-element boxing).
  *
  * The fitted state ships inside the expression → serialized once into
  * the stage's task binary (the fit side is small by construction).
  */
case class KnnScanExpr(
    child: Expression,
    st: KnnState,
    k: Int,
    mode: Int,
    classCount: Int,
    radius2: Double = 0.0
) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_knn_scan"

  /** Stays inside whole-stage codegen: the generated projection passes
    * the child ArrayData straight to the compiled kernel via a
    * task-serialized reference — unlike CodegenFallback, which drops
    * out of the generated plan and materializes an InternalRow per
    * input row just to call eval().
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("knnScan", this, classOf[KnnScanExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = st.d
    val q = new Array[Double](d)
    var j = 0
    while (j < d) { q(j) = arr.getDouble(j); j += 1 }
    val t = if (st.m == 0) 0 else st.y.length / st.m
    if (mode == KnnScanExpr.ModeRadius) {
      // all-neighbors-within-radius: [count, mean per target]; NaN means
      // when the ball is empty (callers fill). Target sums accumulate in
      // training-id order — identical to the oracle for integer-valued
      // targets (exact) and within round-off for continuous ones.
      val o = new Array[Double](1 + t)
      // the ball is plain Euclidean over every dim (factor 1.0) through
      // the same blocked loop as topK; noDataMask keeps NaN rows out
      val dims = Array.range(0, d)
      val acc = new Array[Double](4)
      var cnt = 0
      var i = 0
      while (i < st.m) {
        val r = KnnKernel.score4(q, dims, 1.0, st, i, acc)
        var b = 0
        while (b < r) {
          if (acc(b) <= radius2) {
            cnt += 1
            var ti = 0
            while (ti < t) { o(1 + ti) += st.y((i + b) * t + ti); ti += 1 }
          }
          b += 1
        }
        i += r
      }
      o(0) = cnt.toDouble
      var ti = 0
      while (ti < t) { o(1 + ti) = if (cnt > 0) o(1 + ti) / cnt else Double.NaN; ti += 1 }
      return UnsafeArrayData.fromPrimitiveArray(o)
    }
    val idx = new Array[Int](math.min(k, st.m))
    val d2 = new Array[Double](idx.length)
    val n = KnnKernel.topK(q, st, k, idx, d2)
    val out = mode match {
      case KnnScanExpr.ModeReg =>
        val o = new Array[Double](t)
        var ti = 0
        while (ti < t) {
          var sum = 0.0; var i = 0
          while (i < n) { sum += st.y(idx(i) * t + ti); i += 1 }
          o(ti) = sum / n
          ti += 1
        }
        o
      case KnnScanExpr.ModeWeighted =>
        val o = new Array[Double](t)
        var nExact = 0
        while (nExact < n && d2(nExact) == 0.0) nExact += 1
        var ti = 0
        while (ti < t) {
          if (nExact > 0) {
            var sum = 0.0; var i = 0
            while (i < nExact) { sum += st.y(idx(i) * t + ti); i += 1 }
            o(ti) = sum / nExact
          } else {
            var num = 0.0; var den = 0.0; var i = 0
            while (i < n) {
              val w = 1.0 / math.sqrt(d2(i))
              num += w * st.y(idx(i) * t + ti); den += w
              i += 1
            }
            o(ti) = num / den
          }
          ti += 1
        }
        o
      case KnnScanExpr.ModeCounts =>
        val o = new Array[Double](classCount)
        var i = 0
        while (i < n) { o(st.yCls(idx(i))) += 1.0; i += 1 }
        o
      case KnnScanExpr.ModeWeightedCounts =>
        // per-class 1/distance weight sums, accumulated in neighbor-rank
        // order (the oracle sums an ORDER BY rn list, so per-class scores
        // are bit-identical); sklearn zero-distance rule: exact matches
        // vote with weight 1 and everything else 0
        val o = new Array[Double](classCount)
        var nExact = 0
        while (nExact < n && d2(nExact) == 0.0) nExact += 1
        var i = 0
        while (i < n) {
          val w =
            if (nExact > 0) { if (d2(i) == 0.0) 1.0 else 0.0 }
            else 1.0 / math.sqrt(d2(i))
          o(st.yCls(idx(i))) += w
          i += 1
        }
        o
      case KnnScanExpr.ModeNN =>
        val o = new Array[Double](2 * k)
        var i = 0
        while (i < k) {
          o(i) = if (i < n) st.ids(idx(i)).toDouble else -1.0
          o(k + i) = if (i < n) math.sqrt(d2(i)) else Double.NaN
          i += 1
        }
        o
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): KnnScanExpr =
    copy(child = newChild)
}

object KnnScanExpr {
  val ModeReg = 0
  val ModeWeighted = 1
  val ModeCounts = 2
  val ModeNN = 3
  val ModeRadius = 4
  val ModeWeightedCounts = 5
}
