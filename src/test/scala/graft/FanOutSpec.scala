package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, lit, rand}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Materialize, TempDir}
import graft.sources.Tables.fanOut

/** `Tables.fanOut` decides from the frame's logical plan: no job starts
  * while it decides, a one-row-group parquet scan is spread to
  * `defaultParallelism`, a pinned frame whose rows sit in fewer
  * partitions is sliced by rows without an exchange, and a frame that is
  * already spread comes back as the same object.
  */
class FanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext
  private val marker = "fan-out-spec-marker"

  /** `body`'s result and the Spark jobs that started while it ran. A
    * listener counts job starts; the bus delivers events in order, so
    * once a marker job run afterwards has arrived, every job `body`
    * started has arrived before it.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val seen = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var jobs = 0
      var d = seen.poll(60, TimeUnit.SECONDS)
      while (d != marker) {
        assert(d != null, "the marker job never reached the listener")
        jobs += 1
        d = seen.poll(60, TimeUnit.SECONDS)
      }
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }

  /** `fanOut(df)`, failing if a Spark job started while it decided. */
  private def decided(df: DataFrame): DataFrame = {
    val (out, jobs) = jobsDuring(fanOut(df))
    assert(jobs == 0, s"fanOut started $jobs job(s) while deciding")
    out
  }

  /** A pinned frame of `target` partitions whose 100 rows all sit in the
    * first, in descending id order.
    */
  private def skewed(): DataFrame = {
    val target = sc.defaultParallelism
    Materialize.pin(spark.range(0, 100L * target, 1, target).toDF("id")
      .where(col("id") < 100).select((lit(99L) - col("id")).as("id")))
  }

  private def partitionRows(df: DataFrame): Seq[Seq[Long]] =
    df.rdd.glom().collect().toSeq.map(_.toSeq.map(_.getLong(0)))

  private def exchanges(df: DataFrame) =
    df.queryExecution.executedPlan.collect { case e: Exchange => e }

  test("a one-row-group parquet scan fans out to defaultParallelism, running no job") {
    val dir = TempDir.forJvm("graft_fanout").resolve("t.parquet").toString
    spark.range(0, 500).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.parquet(dir)
    val scan = spark.read.parquet(dir).select(col("id"), col("v"))
    assert(scan.rdd.getNumPartitions == 1)
    val out = decided(scan)
    assert(out ne scan)
    assert(out.rdd.getNumPartitions == sc.defaultParallelism)
  }

  test("a pinned frame with >= target partitions comes back unchanged") {
    val target = sc.defaultParallelism
    val pinned = Materialize.pin(spark.range(0, 64, 1, target).toDF("id"))
    assert(decided(pinned) eq pinned)
    val projected = pinned.select((col("id") + 1).as("id1"))
    assert(decided(projected) eq projected)
    val narrow = Materialize.pin(spark.range(0, 64, 1, 1).toDF("id"))
    assert(decided(narrow).rdd.getNumPartitions == target)
  }

  test("a frame whose plan has an exchange comes back unchanged") {
    val base = Materialize.pin(spark.range(0, 64, 1, 1).toDF("id"))
    val grouped = base.groupBy((col("id") % 3).as("k")).count()
    assert(decided(grouped) eq grouped)
    val byKey = base.repartition(col("id"))
    assert(decided(byKey) eq byKey)
    val joined = base.join(base.withColumnRenamed("id", "id2"), col("id") === col("id2"))
    assert(decided(joined) eq joined)
  }

  test("pin materializes a local checkpoint in one job that counts each partition's rows") {
    val (pinned, jobs) = jobsDuring(skewed())
    assert(jobs == 1)
    val rdd = pinned.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get
    assert(rdd.isCheckpointed)
    assert(Materialize.rowCounts(rdd).map(_.toSeq) ==
      Some(100L +: Seq.fill(sc.defaultParallelism - 1)(0L)))
    Materialize.release(pinned)
    assert(Materialize.rowCounts(rdd).isEmpty)
  }

  test("a pinned frame with its rows in one partition is sliced by rows, with no exchange") {
    val target = sc.defaultParallelism
    val pinned = skewed()
    assert(partitionRows(pinned).count(_.nonEmpty) == 1)
    for (df <- Seq(pinned, pinned.select((col("id") * 2).as("id")).where(col("id") > 10))) {
      val out = decided(df)
      assert(exchanges(out).isEmpty, out.queryExecution.executedPlan)
      val parts = partitionRows(out)
      assert(parts.length == target && parts.forall(_.nonEmpty), parts)
      assert(parts.flatten == partitionRows(df).flatten)
    }
    assert(partitionRows(decided(pinned)).flatten == (99L to 0L by -1L))
  }

  test("a pinned single-partition frame fans out with no shuffle") {
    val single = Materialize.pin(spark.range(0, 64, 1, 1).toDF("id"))
    val out = decided(single)
    assert(exchanges(out).isEmpty, out.queryExecution.executedPlan)
    val target = sc.defaultParallelism
    assert(partitionRows(out).map(_.length) == Seq.fill(target)(64 / target))
    assert(partitionRows(out).flatten == (0L until 64L))
  }

  test("a skewed pinned frame under an aggregate, a join or a nondeterministic column is unchanged") {
    val base = skewed()
    val grouped = base.groupBy((col("id") % 3).as("k")).count()
    assert(decided(grouped) eq grouped)
    val joined = base.join(base.withColumnRenamed("id", "id2"), col("id") === col("id2"))
    assert(decided(joined) eq joined)
    val random = base.select(col("id"), rand(7).as("r"))
    assert(decided(random) eq random)
  }
}
