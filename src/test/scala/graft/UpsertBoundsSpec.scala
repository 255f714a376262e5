package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Pins the q_upsert_compact version-order boundaries the packed-long
  * key got wrong: a time span past ~107 days (the packed
  * `Δus·10⁶ + id` overflowed Long there) and event ids ≥ 10⁶ (which
  * bled into the packed key's time digits, letting an EARLIER event
  * with a big id beat a later one). The struct version key has no such
  * bounds — these fixtures exercise exactly those two boundaries.
  */
class UpsertBoundsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def writeEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import s.implicits._
    val dir = graft.core.TempDir.forJvm("graft_upsert").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val t0 = 1704067200000000L // 2024-01-01T00:00:00Z

  test("span > 107 days: latest-ts event wins (packed key overflowed here)") {
    val dir = writeEvents(Seq(
      (1L, t0, 1L, "old", 1.0),
      (2L, t0 + 200L * 86400L * 1000000L, 1L, "new", 2.0))) // +200 days
    val r = Relational.qUpsertCompact(s, dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(r(0).fieldIndex("last_event_id")) === 2L)
    assert(r(0).getString(r(0).fieldIndex("last_type")) === "new")
    assert(r(0).getLong(r(0).fieldIndex("n_versions")) === 2L)
  }

  test("event_id >= 10^6: later ts beats a bigger earlier id (packed key bled here)") {
    // packed: (1 us)*10^6 + 1 = 1,000,001 < 0 + 2,000,000 → earlier event
    // with the huge id would have won; the struct key orders by ts first
    val dir = writeEvents(Seq(
      (2000000L, t0, 2L, "early_big_id", 1.0),
      (1L, t0 + 1L, 2L, "late_small_id", 2.0)))
    val r = Relational.qUpsertCompact(s, dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(r(0).fieldIndex("last_event_id")) === 1L)
    assert(r(0).getString(r(0).fieldIndex("last_type")) === "late_small_id")
  }

  test("streaming twin picks the same winner at both boundaries (any arrival order)") {
    import s.implicits._
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.{UpsertEv, UpsertOut}
    implicit val sqlCtx = s.sqlContext
    // worst-case arrival: the (wrong-under-packing) candidates arrive LAST
    val evs = Seq(
      UpsertEv(1L, t0 + 200L * 86400L * 1000000L, 2L, "new", 2.0), // +200 d
      UpsertEv(1L, t0, 1L, "old", 1.0),
      UpsertEv(2L, t0 + 1L, 1L, "late_small_id", 2.0),
      UpsertEv(2L, t0, 2000000L, "early_big_id", 1.0))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UpsertEv]
    val q = EventStreams.upsertCompactStream(input.toDS())
      .writeStream.format("memory").queryName("upsert_bounds_out")
      .outputMode("update").start()
    try {
      evs.foreach { e => input.addData(e); q.processAllAvailable() }
      val latest = s.table("upsert_bounds_out").as[UpsertOut].collect()
        .groupBy(_.user_id)
        .map { case (u, os) => u -> os.maxBy(x => (x.ts_us, x.last_event_id)).last_type }
      assert(latest === Map(1L -> "new", 2L -> "late_small_id"))
    } finally q.stop()
  }

  test("exact ts tie: bigger event_id wins at any id magnitude") {
    val dir = writeEvents(Seq(
      (999999L, t0, 3L, "lo", 1.0),
      (1500000L, t0, 3L, "hi", 2.0)))
    val r = Relational.qUpsertCompact(s, dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(r(0).fieldIndex("last_event_id")) === 1500000L)
  }
}
