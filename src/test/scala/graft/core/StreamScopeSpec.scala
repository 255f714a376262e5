package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The stream-gate harness contract: the query is stopped, the sink view
  * dropped and the scoped conf restored whatever throws; the changelog
  * reader keeps the final value per key; one scope per session.
  */
class StreamScopeSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private val partitionsKey = "spark.sql.shuffle.partitions"
  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def assertCleanedUp(name: String, conf: Map[String, Option[String]]): Unit = {
    assert(spark.streams.active.isEmpty)
    assert(!spark.catalog.tableExists(name))
    conf.foreach { case (k, v) => assert(spark.conf.getOption(k) == v, k) }
  }

  test("a throwing build or batch leaves no query, no sink view and the conf restored") {
    import spark.implicits._
    val before = Seq(partitionsKey, noDataKey).map(k => k -> spark.conf.getOption(k)).toMap
    val built = intercept[IllegalStateException] {
      StreamScope.gate(spark, "gate_scope_build", "append", Seq(Seq(1L)),
          noDataKey -> "false")(
        _ => throw new IllegalStateException("build failed"))
    }
    assert(built.getMessage == "build failed")
    assertCleanedUp("gate_scope_build", before)

    val fed = intercept[Exception] {
      StreamScope.gate(spark, "gate_scope_batch", "append", Seq(Seq(1L, 2L), Seq(-1L)),
          noDataKey -> "false")(
        _.map { x => require(x >= 0, "negative arrival"); x })
    }
    assert(fed.getMessage.contains("negative arrival"))
    assertCleanedUp("gate_scope_batch", before)
  }

  test("a two-batch update-mode gate read through lastWins gives the final per-key values") {
    import spark.implicits._
    val rows = StreamScope.gate(spark, "gate_scope_sum", "update",
        Seq(Seq(("a", 1L), ("b", 2L)), Seq(("a", 5L))))(
        _.toDF("k", "v").groupBy(col("k")).agg(sum(col("v")).as("total")))
      .as[(String, Long)].collect().toSeq
    assert(rows.size == 3) // a and b in batch 1, a again in batch 2
    val latest = StreamScope.lastWins(rows.zipWithIndex)(_._1._1, _._2).map(_._1)
    assert(latest.toMap == Map("a" -> 6L, "b" -> 2L))
    assert(spark.conf.get(partitionsKey) == "4")
  }

  test("recorded returns each ended scope's per-batch numbers; nothing is kept outside it") {
    import spark.implicits._
    def feed(name: String) = StreamScope.gate(spark, name, "update",
        Seq(Seq(("a", 1L), ("b", 2L)), Seq(("a", 5L))))(
        _.toDF("k", "v").groupBy(col("k")).agg(sum(col("v")).as("total"))).count()
    val (n, stats) = StreamScope.recorded {
      feed("gate_scope_stats1")
      feed("gate_scope_stats2")
    }
    assert(n == 3)
    assert(stats.map(_.name) == Seq("gate_scope_stats1", "gate_scope_stats2"))
    stats.foreach { b =>
      assert(b.batches == 2, b) // no watermark, so no no-data batch
      assert(b.stateRows == 2, b) // keys a and b after the last batch
      assert(b.stateBytes > 0 && b.triggerMs > 0, b)
    }
    feed("gate_scope_unrecorded")
    assert(StreamScope.recorded(())._2.isEmpty)
  }

  test("lastWins keeps every row of a key's greatest version") {
    val changelog = Seq(("s0", 1L, "x"), ("s0", 2L, "y"), ("s1", 1L, "w"),
      ("s0", 2L, "z"))
    assert(StreamScope.lastWins(changelog)(_._1, _._2).map(_._3).toSet ==
      Set("y", "z", "w"))
  }

  test("a second thread entering an open scope on the same session throws") {
    import spark.implicits._
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var firstResult: Either[Throwable, Seq[Long]] = Left(null)
    val first = new Thread(() => {
      firstResult =
        try Right(StreamScope.gate(spark, "gate_scope_held", "append", Seq(Seq(7L))) { in =>
          entered.countDown()
          release.await(60, TimeUnit.SECONDS)
          in.toDF()
        }.as[Long].collect().toSeq)
        catch { case e: Throwable => Left(e) }
    })
    first.start()
    try {
      assert(entered.await(60, TimeUnit.SECONDS))
      val e = intercept[IllegalStateException] {
        StreamScope.gate(spark, "gate_scope_second", "append", Seq(Seq(1L)))(_.toDF())
      }
      assert(e.getMessage.contains("only one stream gate may run at a time per SparkSession"))
    } finally {
      release.countDown()
      first.join(120000)
    }
    assert(firstResult == Right(Seq(7L)))
    assert(spark.streams.active.isEmpty)
  }
}
