package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graphs

/** Connected components: correctness plus both Materialize.pin modes
  * (reliable checkpoint under a configured dir vs localCheckpoint).
  */
class GraphsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def edges() = {
    import s.implicits._
    // two components: {1,2,3,4} (chain + extra edge) and {10,11}
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (10L, 11L)).toDF("a", "b")
  }

  private def expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L))

  private def run(): Set[(Long, Long)] =
    Graphs.connectedComponents(edges())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("connected components converge to min labels (localCheckpoint mode)") {
    assert(s.sparkContext.getCheckpointDir.isEmpty)
    assert(run() === expected)
  }

  test("converging pagerank equals the unrolled fixed-point form at its stop round") {
    val (ranks, iters) = Graphs.pagerankConverged(edges(), maxIters = 30, tolE9 = 1000L)
    assert(iters >= 1 && iters <= 30)
    val converged = ranks.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the converging loop is pagerankStep iterated `iters` times — the
    // unrolled form with the same round count must be BIT-identical
    // (integer arithmetic: no float drift to hide behind)
    val unrolled = Graphs.pagerankFixedPoint(edges(), iters = iters)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(converged === unrolled)
    // and one more round moves every node by at most the tolerance
    val next = Graphs.pagerankFixedPoint(edges(), iters = iters + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    converged.foreach { case (id, r) =>
      assert(math.abs(next(id) - r) <= 1000L, s"node $id moved past tol after stop")
    }
  }

  test("triangles survive node ids >= 10^5 (the packed order key collided there)") {
    import s.implicits._
    // with the old packed key d·100000 + n, node 0 (degree 3 → 300000)
    // and node 100000 (degree 2 → 300000) COLLIDE: the (0, 100000) edge
    // got an arbitrary orientation and the strict wedge inequality then
    // dropped the triangle. The struct (degree, id) key is collision-free
    // for any id domain.
    val edges = Seq((0L, 100000L), (0L, 42L), (42L, 100000L), (0L, 99L))
      .toDF("lo", "hi")
    val tri = Graphs.orientedTriangles(edges).collect()
    assert(tri.length === 1)
    assert(tri(0).toSeq.toSet === Set(0L, 42L, 100000L))
  }

  test("connected components under a reliable checkpoint dir") {
    // the dir stays set on the shared session afterwards (SparkContext
    // has no unset); later suites then exercise the reliable-checkpoint
    // branch of Materialize.pin too, which is exactly the coverage we
    // want — so the temp dir is left in place for the JVM's lifetime
    val dir = graft.core.TempDir.forJvm("graft-ckpt").toString
    s.sparkContext.setCheckpointDir(dir)
    assert(run() === expected)
  }
}
