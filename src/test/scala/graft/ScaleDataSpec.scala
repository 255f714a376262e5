package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** ScaleData (the cross-scale confirmation generator): replicas must
  * multiply row counts exactly, keep key spaces disjoint, and
  * preserve every FK relationship — a broken offset would silently
  * turn the sf1 sweep's joins into partial joins and invalidate it.
  */
class ScaleDataSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val src = "/root/testdata/sf0.001"

  private lazy val dst = {
    val d = graft.core.TempDir.forJvm("scalespec").toString
    ScaleData.main(Array(src, d, "2"))
    d
  }

  test("row counts scale by the factor; dims stay put") {
    def n(dir: String, t: String): Long =
      spark.read.parquet(s"$dir/$t.parquet").count()
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"))
      assert(n(dst, t) == 2 * n(src, t), s"$t not doubled")
    for (t <- Seq("region", "nation"))
      assert(n(dst, t) == n(src, t), s"dim $t must not replicate")
  }

  test("FK relationships survive the offsets: no orphans, exact fan-out") {
    val o = spark.read.parquet(s"$dst/orders.parquet")
    val c = spark.read.parquet(s"$dst/customer.parquet")
    val l = spark.read.parquet(s"$dst/lineitem.parquet")
    // every order's customer exists (orphan count 0)
    val orphans = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count()
    assert(orphans == 0, s"$orphans orders lost their customer")
    // lineitem->orders fan-out is exactly the source fan-out per replica:
    // total joined rows must be 2x the source joined rows
    val srcJoined = spark.read.parquet(s"$src/lineitem.parquet")
      .join(spark.read.parquet(s"$src/orders.parquet"),
        col("l_orderkey") === col("o_orderkey")).count()
    val dstJoined = l.join(o, l("l_orderkey") === o("o_orderkey")).count()
    assert(dstJoined == 2 * srcJoined, "lineitem-orders join not 2x")
  }

  test("replica key spaces are disjoint") {
    val l = spark.read.parquet(s"$dst/lineitem.parquet")
    assert(l.select("l_orderkey").distinct().count() ==
      2 * spark.read.parquet(s"$src/lineitem.parquet")
        .select("l_orderkey").distinct().count(),
      "orderkey replicas collided")
  }
}
