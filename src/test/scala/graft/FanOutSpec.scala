package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Materialize, TempDir}
import graft.sources.Tables.fanOut

/** `Tables.fanOut` decides from the frame's logical plan: no job starts
  * while it decides, a one-row-group parquet scan is spread to
  * `defaultParallelism`, and a frame that is already spread comes back
  * as the same object.
  */
class FanOutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext
  private val marker = "fan-out-spec-marker"

  /** `fanOut(df)`, failing if a Spark job started while it decided. A
    * listener counts job starts; the bus delivers events in order, so
    * once a marker job run afterwards has arrived, every job `fanOut`
    * started has arrived before it.
    */
  private def decided(df: DataFrame): DataFrame = {
    val seen = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = fanOut(df)
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var jobs = 0
      var d = seen.poll(60, TimeUnit.SECONDS)
      while (d != marker) {
        assert(d != null, "the marker job never reached the listener")
        jobs += 1
        d = seen.poll(60, TimeUnit.SECONDS)
      }
      assert(jobs == 0, s"fanOut started $jobs job(s) while deciding")
      out
    } finally sc.removeSparkListener(listener)
  }

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
}
