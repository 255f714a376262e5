package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** D9 SemDeDup parameterized-quantizer checks (VERDICT r5 item 3):
  * the kernel must stay correct as nCells scales with the corpus, not
  * only at the oracled nCells=16.
  */
class SemDedupSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"
  private val dim = 64
  private val tau = 0.35

  /** Local single-threaded reference of the SemDeDup contract: assign
    * each vector to its argmax-dot centroid (strict >, lowest cell id
    * on ties), then per cell mark each vector a dup of the LOWEST
    * lower-id vector with cosine >= tau.
    */
  private def reference(nCells: Int): Seq[(Long, Long, Long, Double)] = {
    val cents = Similarity.gaussianPlanes(nCells, dim, tag = "sem|").map { c =>
      val nrm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / nrm)
    }
    val rows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val byCell = rows.groupBy { case (_, v) =>
      var best = 0; var bestD = Double.NegativeInfinity
      var ci = 0
      while (ci < cents.length) {
        val d = dot(cents(ci), v)
        if (d > bestD) { bestD = d; best = ci }
        ci += 1
      }
      best
    }
    byCell.toSeq.flatMap { case (cell, members) =>
      val sorted = members.sortBy(_._1)
      val nrm = sorted.map(t => math.sqrt(dot(t._2, t._2)))
      sorted.indices.flatMap { q =>
        (0 until q).collectFirst {
          case p if dot(sorted(p)._2, sorted(q)._2) / (nrm(p) * nrm(q)) >= tau =>
            val sim = dot(sorted(p)._2, sorted(q)._2) / (nrm(p) * nrm(q))
            (sorted(q)._1, cell.toLong, sorted(p)._1, sim)
        }
      }
    }.sortBy(_._1)
  }

  private def check(nCells: Int): Unit = {
    // a registry query returns a row set: compare in vec_id order
    val got = Similarity.semDedup(spark, sfDir, nCells, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val want = reference(nCells)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
           want.map(t => (t._1, t._2, t._3)),
      s"nCells=$nCells dup-pair set mismatch")
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._4 - w._4) < 1e-4, s"nCells=$nCells cosine drift at ${g._1}")
    }
    assert(want.nonEmpty, s"nCells=$nCells degenerate test (no dups found)")
  }

  test("semDedup matches the local reference at nCells=8 (coarser than oracled)") {
    check(8)
  }

  test("semDedup matches the local reference at nCells=24 (finer than oracled)") {
    check(24)
  }

  test("semCellsFor sizes cells to ~constant occupancy; sf0.01 value is the oracled 16") {
    assert(Similarity.semCellsFor(500, 32) == 16)
    assert(Similarity.semCellsFor(1, 32) == 1)
    assert(Similarity.semCellsFor(0, 32) == 1)
    // 100x the corpus -> 100x the cells: the quadratic term stays flat
    assert(Similarity.semCellsFor(50000, 32) == 1563)
    assert(Similarity.semCellsFor(50000, 32) >= 100 * Similarity.semCellsFor(500, 32) / 2)
  }
}
