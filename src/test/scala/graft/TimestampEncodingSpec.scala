package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.sources.Tables

/** Pins the events.ts physical-encoding contract: the generator has
  * shipped the column as parquet TIMESTAMP(NANOS) (Spark-visible as a
  * nanos long under `nanosAsLong`), as timestamp[us] isAdjustedToUTC=false
  * (Spark-visible as TIMESTAMP_NTZ), and could ship plain UTC-adjusted
  * micros (TIMESTAMP). `Tables.events` must normalize ALL of them to one
  * canonical TIMESTAMP so every downstream `unix_micros(ts)` resolves —
  * the round-8 regression was exactly this contract breaking silently
  * when the encoding flipped under an encoding-specific loader.
  */
class TimestampEncodingSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  // one logical fixture: (event_id, epoch micros) plus the payload
  // columns the event queries touch
  private val rowsUs: Seq[(Long, Long, Long, String, Double)] = Seq(
    (1L, 1704067200000000L, 10L, "click", 1.5),  // 2024-01-01T00:00:00Z
    (2L, 1704067201500000L, 10L, "error", 2.0),  // +1.5 s (same session)
    (3L, 1704153600000000L, 11L, "view", 3.25))  // next day (new session)

  private def base(): DataFrame = {
    import s.implicits._
    rowsUs.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
  }

  private def writeFixture(ts: DataFrame => DataFrame): String = {
    val dir = graft.core.TempDir.forJvm("graft_tsenc").toString
    ts(base()).select(col("event_id"), col("ts"), col("user_id"),
                      col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def assertNormalized(dir: String): Unit = {
    val ev = Tables.events(s, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    // instants preserved exactly (UTC-pinned session)
    val got = ev.select(col("event_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === rowsUs.map(t => (t._1, t._2)).toSet)
    // the queries that died at analysis time in round 8 must analyze
    // AND execute against this encoding
    assert(Relational.qSessionize(s, dir).count() === 2L)
    assert(Relational.qOhlc(s, dir).count() > 0L)
  }

  test("TIMESTAMP (UTC-adjusted micros) passes through") {
    val dir = writeFixture(_.withColumn("ts", timestamp_micros(col("us"))))
    assert(Tables.events(s, dir).schema("ts").dataType === TimestampType)
    assertNormalized(dir)
  }

  test("TIMESTAMP_NTZ (timestamp[us] isAdjustedToUTC=false) is cast to TIMESTAMP") {
    val dir = writeFixture(
      _.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType)))
    // written as NTZ → read back as NTZ before normalization
    val raw = s.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType === TimestampNTZType)
    assertNormalized(dir)
  }

  test("orders/lineitem date columns survive a TIMESTAMP(NANOS) flip (guarded long case)") {
    import s.implicits._
    // o_orderdate as a nanos long — the silently-catastrophic encoding:
    // unguarded, `o_orderdate >= '1995-01-01'` compares strings to nanos
    val dir = graft.core.TempDir.forJvm("graft_odate").toString
    Seq((1L, 1L, "O", 100.0, 1704067200000000L * 1000L),
        (2L, 2L, "F", 200.0, 1735689600000000L * 1000L))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val o = Tables.orders(s, dir)
    assert(o.schema("o_orderdate").dataType === TimestampType)
    assert(o.filter(col("o_orderdate") >= "2024-06-01").count() === 1L)
  }

  test("nanos-epoch long (the nanosAsLong read of TIMESTAMP(NANOS)) is truncated to micros") {
    // +999 ns on one row: DuckDB truncates nanos to micros; so must we
    val dir = writeFixture(
      _.withColumn("ts", (col("us") * 1000L + when(col("event_id") === 1L, 999L).otherwise(0L))
        .cast(LongType)))
    val raw = s.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType === LongType)
    assertNormalized(dir)
  }
}
