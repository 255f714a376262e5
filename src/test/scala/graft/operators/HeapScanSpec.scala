package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The shared probe-search pipeline on a hand-laid partition layout:
  * `Similarity.heapScan` (per-partition heaps, one set per arm) merged
  * by `Similarity.globalTopK` must equal a brute-force per-query sort
  * by (sim DESC, vec_id), with an empty partition emitting no rows and
  * a partition smaller than the heap depth emitting every row it has.
  */
class HeapScanSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("heapScan + globalTopK over an empty and an under-filled partition") {
    val k = 3
    // partition 0 empty, partition 1 two rows (< k), partition 2 six
    // rows with tied scores, partition 3 one row
    val layout: Seq[Seq[(Long, Double)]] = Seq(
      Nil,
      Seq(10L -> 0.5, 11L -> -1.0),
      Seq(20L -> 2.0, 21L -> 0.5, 22L -> 2.0, 23L -> -0.5, 24L -> 0.5, 25L -> 1.0),
      Seq(30L -> 0.5))
    val slices = math.max(layout.length, spark.sparkContext.defaultParallelism)
    val parts = layout ++ Seq.fill(slices - layout.length)(Nil)
    val rdd = spark.sparkContext.parallelize(parts, slices)
      .flatMap(_.map { case (id, x) => Row(id, Seq(x, 1.0)) })
    val e = spark.createDataFrame(rdd, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false))))
    val qids = Array(100L, 200L)
    // arm 0 (depth k): query 0 scores x, query 1 scores -x;
    // arm 1 (depth 1): query 0 scores the constant second component
    val locals = Similarity.heapScan(e, qids, Seq(k, 1)) { heaps =>
      (vid, v) => {
        heaps(0).insert(0, v(0), vid)
        heaps(0).insert(1, -v(0), vid)
        heaps(1).insert(0, v(1), vid)
      }
    }
    assert(locals.rdd.getNumPartitions == slices)
    val perPart = locals.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    // per partition: min(rows, k) per arm-0 query + min(rows, 1) arm-1 row
    val expectPerPart = parts.map(p => 2 * math.min(p.size, k) + math.min(p.size, 1))
    assert(perPart == expectPerPart)

    val all = layout.flatten
    def brute(score: Double => Double, depth: Int): Seq[(Long, Long)] =
      all.map { case (id, x) => (score(x), id) }
        .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
        .take(depth).zipWithIndex.map { case ((_, id), r) => (id, r + 1L) }
    val got = Similarity.globalTopK(locals, k, byArm = true).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (key, rs) => key -> rs.map(_._2).sortBy(_._2).toSeq }
    // arm 1's depth is per partition: each non-empty partition keeps its
    // lowest id (all scores tie), and the merge ranks those survivors
    val arm1 = layout.filter(_.nonEmpty).map(_.map(_._1).min).sorted
      .zipWithIndex.map { case (id, r) => (id, r + 1L) }
    assert(got == Map(
      (0, 100L) -> brute(x => x, k),
      (0, 200L) -> brute(x => -x, k),
      (1, 100L) -> arm1))
    // the single-arm merge keys by query alone and drops the arm
    val single = Similarity.globalTopK(locals.filter("arm = 0"), k)
    assert(single.columns.toSeq == Seq("q_id", "vec_id", "rank", "sim"))
    assert(single.filter("q_id = 100").orderBy("rank").collect()
      .map(r => r.getLong(1)).toSeq == brute(x => x, k).map(_._1))
  }
}
