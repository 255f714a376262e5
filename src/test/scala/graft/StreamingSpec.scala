package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** The MemoryStream row types. They live in a top-level object, not
  * inside the suite class: Spark's generated code must construct them,
  * and a class nested in the suite is out of its reach (each such
  * encoder falls back to interpreted projections).
  */
object StreamingSpec {
  case class TEv(ts: Long, event_type: String, value: Double)
  case class Cell(x: Long, y: Long, v: Option[Long])
  case class TDoc(doc_id: Long, text: String)
  case class PiiDoc(doc_id: Long, t: String)
  case class REv(user_id: Long, ts: Long, event_id: Long,
                 event_type: String, value: Double)
}

/** F1/F2: streaming results must equal their batch twins (B11/B10) on
  * the same events.
  */
class StreamingSpec extends AnyFunSuite {
  import StreamingSpec._

  private lazy val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def eventRows: Seq[Ev] = {
    Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(e => (e.ts, e.event_id)) // global event-time order
      .toSeq
  }

  /** `batch` with one arrival delivered a second time inside the same
    * micro-batch (an at-least-once retry): a replay-safe operator folds
    * it once, so the sequential reference over the distinct arrivals
    * still holds.
    */
  private def withRetry[A](batch: Seq[A]): Seq[A] = batch :+ batch(batch.length / 2)

  test("streaming tumbling agg equals the batch aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TEv]
    val streamed = EventStreams.tumblingAgg(
      input.toDF().withColumn("ts", timestamp_micros(col("ts"))))
    val q = streamed.writeStream.format("memory").queryName("t_out")
      .outputMode("complete").start()
    try {
      val evs = Tables.events(spark, sfDir)
        .select(unix_micros(col("ts")), col("event_type"), col("value"))
        .collect()
        .map(r => TEv(r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(_.ts).toSeq
      val (h1, h2) = evs.splitAt(evs.length / 2)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val got = spark.table("t_out")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), math.round(r.getDouble(3) * 100)))
        .toMap
      val expected = EventStreams.tumblingAgg(Tables.events(spark, sfDir))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), math.round(r.getDouble(3) * 100)))
        .toMap
      assert(got == expected)
      assert(expected.nonEmpty)
    } finally q.stop()
  }

  test("F6 streaming IVF upserts assign batch-identical cells and honor versioning") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.streaming.EventStreams.{CellAssign, VecUpsert}
    implicit val sqlCtx = spark.sqlContext
    val cents = Similarity.ivfCentroids()
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).take(40)
    val input = MemoryStream[VecUpsert]
    val q = EventStreams.ivfUpsertStream(input.toDS(), cents)
      .writeStream.format("memory").queryName("ivf_out").outputMode("update").start()
    try {
      // batch 1: initial inserts
      input.addData(vecs.take(30).map { case (id, v) => VecUpsert(id, v, ts = 100L) })
      q.processAllAvailable()
      val b1 = spark.table("ivf_out").as[CellAssign].collect()
      assert(b1.length == 30)
      b1.foreach { a =>
        val v = vecs.toMap.apply(a.vec_id)
        assert(a.cell == Similarity.ivfCell(cents, v), s"cell mismatch for ${a.vec_id}")
      }
      // batch 2: a real upsert (new vector, later ts), a stale replay
      // (older ts — must be dropped), and a fresh insert
      val (id0, _) = vecs(0); val (_, vOther) = vecs(35)
      val (id1, v1) = vecs(1)
      val (idNew, vNew) = vecs(31)
      input.addData(Seq(
        VecUpsert(id0, vOther, ts = 200L), // re-assign to vOther's cell
        VecUpsert(id1, vecs(36)._2, ts = 50L), // STALE: ts < 100
        VecUpsert(idNew, vNew, ts = 150L)))
      q.processAllAvailable()
      val b2 = spark.table("ivf_out").as[CellAssign].collect().filter(_.ts > 100L)
      assert(b2.map(_.vec_id).toSet == Set(id0, idNew), "stale upsert leaked or insert lost")
      assert(b2.find(_.vec_id == id0).get.cell == Similarity.ivfCell(cents, vOther))
      // final index state (last row per key) matches a batch pass over
      // the latest accepted versions
      val latest = vecs.take(30).toMap ++ Map(id0 -> vOther, idNew -> vNew)
      val index = spark.table("ivf_out").as[CellAssign].collect()
        .groupBy(_.vec_id).map { case (id, as) => id -> as.maxBy(_.ts).cell }
      assert(index == latest.map { case (id, v) => id -> Similarity.ivfCell(cents, v) })
    } finally q.stop()
  }

  test("F15 streaming running sums equal the batch window across batches, replays dropped") {
    import spark.implicits._
    import graft.streaming.EventStreams.{KeyedVal, RunningOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect().map(r => KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2))).toSeq
    val input = MemoryStream[KeyedVal]
    val q = EventStreams.runningSumStream(input.toDS())
      .writeStream.format("memory").queryName("run_out").outputMode("update").start()
    try {
      // split by global event_id: per-key order is preserved across
      // batches (the monotone-source contract)
      val (b1, b2) = ev.partition(_.event_id < 2500)
      input.addData(b1); q.processAllAvailable()
      // replay part of batch 1 — at/below each key's high-water mark,
      // must not double-count
      input.addData(b1.take(500)); q.processAllAvailable()
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("run_out").as[RunningOut].collect()
        .map(r => (r.user_id, r.event_id, r.v, r.running)).toSet
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val expected = graft.sources.Synthetic.zipfEvents(spark, 5000L)
        .select(col("user_id"), col("event_id"), col("v"),
                sum(col("v")).over(w).as("running"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == expected)
      assert(got.size == 5000)
    } finally q.stop()
  }

  test("F28 streaming per-key CUSUM equals a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{CusumOut, KeyedVal}
    implicit val sqlCtx = spark.sqlContext
    val mu0 = 6L; val slack = 1L
    val ev = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect().map(r => KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2))).toSeq
    val input = MemoryStream[KeyedVal]
    val q = EventStreams.cusumStream(input.toDS(), mu0, slack)
      .writeStream.format("memory").queryName("cusum_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < 2500)
      input.addData(b1); q.processAllAvailable()
      // replay below the high-water mark must not advance any state
      input.addData(b1.take(500)); q.processAllAvailable()
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("cusum_out").as[CusumOut].collect()
        .map(r => (r.user_id, r.event_id) -> (r.s_pos, r.s_neg, r.max_pos, r.max_neg))
        .toMap
      // batch twin: the same pure fold per key in event-id order
      val expected = ev.groupBy(_.user_id).flatMap { case (uid, evs) =>
        var sp = 0L; var sn = 0L; var mp = 0L; var mn = 0L
        evs.sortBy(_.event_id).map { e =>
          val (p, n) = EventStreams.cusumStep(sp, sn, e.v, mu0, slack)
          sp = p; sn = n; mp = math.max(mp, p); mn = math.max(mn, n)
          (uid, e.event_id) -> (p, n, mp, mn)
        }
      }.toMap
      assert(got.size == 5000)
      assert(got == expected)
    } finally q.stop()
  }

  test("F29 streaming per-key Holt smoother equals a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{HoltOut, KeyedVal}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect().map(r => KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2))).toSeq
    val input = MemoryStream[KeyedVal]
    val q = EventStreams.holtStream(input.toDS())
      .writeStream.format("memory").queryName("holt_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < 2500)
      input.addData(b1); q.processAllAvailable()
      // replay below the high-water mark must not advance the recursion
      input.addData(b1.take(500)); q.processAllAvailable()
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("holt_out").as[HoltOut].collect()
        .map(r => (r.user_id, r.event_id) -> (r.n, r.level_e6, r.trend_e6, r.f1_e6))
        .toMap
      // batch twin: the B96 recursion (same holtStep kernel, same
      // l1=x1 / b1=x2-x1 init) folded per key in event-id order
      val expected = ev.groupBy(_.user_id).flatMap { case (uid, evs) =>
        var lq = 0L; var bq = 0L; var n = 0L
        evs.sortBy(_.event_id).map { e =>
          if (n == 0L) { lq = e.v * 1000000L; bq = 0L; n = 1L }
          else {
            if (n == 1L) bq = e.v * 1000000L - lq
            val (nl, nb) = graft.operators.Relational.holtStep(lq, bq, e.v)
            lq = nl; bq = nb; n += 1
          }
          (uid, e.event_id) -> (n, lq, bq, lq + bq)
        }
      }.toMap
      assert(got.size == 5000)
      assert(got == expected)
    } finally q.stop()
  }

  test("F34 streaming Holt-Winters equals a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{HwOut, KeyedVal}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect().map(r => KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2))).toSeq
    val input = MemoryStream[KeyedVal]
    val q = EventStreams.holtWintersStream(input.toDS())
      .writeStream.format("memory").queryName("hw_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < 2500)
      input.addData(b1); q.processAllAvailable()
      // replay below the high-water mark must not advance the recursion
      input.addData(b1.take(500)); q.processAllAvailable()
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("hw_out").as[HwOut].collect()
        .map(r => (r.user_id, r.event_id) -> (r.n, r.level_e6, r.trend_e6, r.f1_e6))
        .toMap
      // batch twin: the B111 recursion (same hwInit/hwStep kernels)
      // folded per key in event-id order; first output at n = 14
      val R = graft.operators.Relational
      val expected = ev.groupBy(_.user_id).flatMap { case (uid, evs) =>
        val xs = evs.sortBy(_.event_id)
        if (xs.length < 14) Nil
        else {
          val (l0, b0, s0) = R.hwInit(xs.take(14).map(_.v).toArray)
          var lq = l0; var bq = b0
          val sq = scala.collection.mutable.Queue(s0.toSeq: _*)
          xs.drop(7).zipWithIndex.flatMap { case (e, i) =>
            val (nl, nb, ns) = R.hwStep(lq, bq, sq.dequeue(), e.v * 1000000L)
            lq = nl; bq = nb; sq.enqueue(ns)
            val n = i + 8 // observation count after this step
            if (n >= 14)
              Some((uid, e.event_id) -> (n.toLong, lq, bq, lq + bq + sq.head))
            else None
          }
        }
      }.toMap
      assert(got.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F35 streaming session paths equal a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{AttrEvent, PathOut}
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 1800L * 1000000L
    val ev = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "event_type")
      .collect()
      .map(r => AttrEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val input = MemoryStream[AttrEvent]
    val q = EventStreams.eventPathsStream(input.toDS())
      .writeStream.format("memory").queryName("paths_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < ev.length / 2)
      input.addData(b1); q.processAllAvailable()
      // replay below the high-water mark must not re-emit trigrams
      input.addData(b1.take(200)); q.processAllAvailable()
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("paths_out").as[PathOut].collect()
        .map(r => (r.user_id, r.event_id) -> (r.t1, r.t2, r.t3)).toMap
      // batch twin: session-reset trigram fold per user in (ts, id) order
      val expected = ev.groupBy(_.user_id).flatMap { case (uid, evs) =>
        var t1: String = null; var t2: String = null
        var lastTs = Long.MinValue
        evs.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
          if (lastTs != Long.MinValue && e.ts_us - lastTs > gapUs) {
            t1 = null; t2 = null
          }
          val res =
            if (t1 != null && t2 != null)
              Some((uid, e.event_id) -> (t1, t2, e.event_type))
            else None
          t1 = t2; t2 = e.event_type; lastTs = e.ts_us
          res
        }
      }.toMap
      assert(got.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F36 streaming session entry/exit equals a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{AttrEvent, SessPathOut}
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 1800L * 1000000L
    val ev = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "event_type")
      .collect()
      .map(r => AttrEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val input = MemoryStream[AttrEvent]
    val q = EventStreams.sessionPathsStream(input.toDS())
      .writeStream.format("memory").queryName("sesspath_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < ev.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.take(200)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      // compact: re-emissions of an open session only grow n_events,
      // so last == max-n row per (user, session_seq)
      val got = spark.table("sesspath_out").as[SessPathOut].collect()
        .groupBy(r => (r.user_id, r.session_seq))
        .map { case (k, rs) =>
          val last = rs.maxBy(_.n_events)
          k -> (last.entry_type, last.exit_type, last.n_events)
        }
      val expected = ev.groupBy(_.user_id).flatMap { case (uid, evs) =>
        val sorted = evs.sortBy(e => (e.ts_us, e.event_id))
        val sessions = scala.collection.mutable.ArrayBuffer
          .empty[(String, String, Long)]
        var entry: String = null; var exit: String = null
        var n = 0L; var lastTs = Long.MinValue
        sorted.foreach { e =>
          if (n > 0L && e.ts_us - lastTs <= gapUs) {
            exit = e.event_type; n += 1
          } else {
            if (n > 0L) sessions += ((entry, exit, n))
            entry = e.event_type; exit = e.event_type; n = 1L
          }
          lastTs = e.ts_us
        }
        if (n > 0L) sessions += ((entry, exit, n))
        sessions.zipWithIndex.map { case (s, i) =>
          (uid, (i + 1).toLong) -> s
        }
      }
      assert(got.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F37 streaming Croston equals a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{CrostonEvent, CrostonOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us",
        "CAST(ROUND(value * 100, 0) AS BIGINT) AS z")
      .collect()
      .map(r => CrostonEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val input = MemoryStream[CrostonEvent]
    val q = EventStreams.crostonStream(input.toDS())
      .writeStream.format("memory").queryName("croston_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < ev.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.take(200)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("croston_out").as[CrostonOut].collect()
        .map(r => (r.user_id, r.event_id) -> (r.n, r.z_e6, r.p_e6, r.forecast_e6))
        .toMap
      val R = graft.operators.Relational
      val expected = ev.groupBy(_.user_id).flatMap { case (uid, evs) =>
        var zq = 0L; var pq = 0L; var n = 0L; var lastTs = Long.MinValue
        evs.sortBy(e => (e.ts_us, e.event_id)).map { e =>
          if (n == 0L) { zq = e.z * 1000000L; pq = 1000000L; n = 1L }
          else {
            val gap = math.max(1L, Math.floorDiv(e.ts_us - lastTs, 86400000000L))
            val (nz, np) = R.crostonStep(zq, pq, e.z, gap)
            zq = nz; pq = np; n += 1
          }
          lastTs = e.ts_us
          (uid, e.event_id) -> (n, zq, pq, Math.floorDiv(zq * 1000000L, pq))
        }
      }.toMap
      assert(got.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F38 streaming per-dimension drift equals the batch D25 derivation; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{DimEvent, DimDriftOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .collect()
      .flatMap { r =>
        val vid = r.getLong(0)
        r.getSeq[Double](1).zipWithIndex.map { case (x, d) =>
          DimEvent(d.toLong, vid, vid % 2 == 0, math.floor(x * 1000000.0).toLong)
        }
      }.toSeq
    val input = MemoryStream[DimEvent]
    val q = EventStreams.embedDriftStream(input.toDS())
      .writeStream.format("memory").queryName("drift_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.vec_id < 250)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.take(1000)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      // final row per dim = the one with the largest observation count
      val got = spark.table("drift_out").as[DimDriftOut].collect()
        .groupBy(_.d)
        .map { case (d, rs) =>
          val last = rs.maxBy(r => r.n0 + r.n1)
          d -> (last.n0, last.n1, last.m0_e6, last.m1_e6, last.drift_e6)
        }
      val expected = ev.groupBy(_.d).map { case (d, es) =>
        val (a, b) = es.partition(_.ev)
        val (n0, s0) = (a.length.toLong, a.map(_.q).sum)
        val (n1, s1) = (b.length.toLong, b.map(_.q).sum)
        def m(sm: Long, n: Long): Long = if (n == 0L) 0L else sm / n
        d -> (n0, n1, m(s0, n0), m(s1, n1), math.abs(m(s1, n1) - m(s0, n0)))
      }
      assert(got.size == 64)
      assert(got == expected)
    } finally q.stop()
  }

  test("F39 streaming same-day bursts equal a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{OrderEvent, BurstOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.orders(spark, sfDir)
      .selectExpr("o_custkey", "o_orderkey",
        "CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) AS ed",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents")
      .collect()
      .map(r => OrderEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val input = MemoryStream[OrderEvent]
    val q = EventStreams.sameDayBurstStream(input.toDS())
      .writeStream.format("memory").queryName("burst_out").outputMode("update").start()
    try {
      // day-ordered arrival (the F39 contract); split by day median
      val sorted = ev.sortBy(e => (e.day_ed, e.order_key))
      val (b1, b2) = sorted.splitAt(sorted.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.takeRight(200)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("burst_out").as[BurstOut].collect()
        .map(r => (r.ck, r.order_key) ->
          (r.day_ed, r.n_today, r.total_cents, r.spread_cents)).toMap
      val expected = ev.groupBy(_.ck).flatMap { case (ck, es) =>
        var day = Long.MinValue; var n = 0L; var cents = 0L
        var minC = 0L; var maxC = 0L
        es.sortBy(e => (e.day_ed, e.order_key)).flatMap { e =>
          if (e.day_ed != day) {
            day = e.day_ed; n = 1L; cents = e.cents
            minC = e.cents; maxC = e.cents
          } else {
            n += 1; cents += e.cents
            minC = math.min(minC, e.cents); maxC = math.max(maxC, e.cents)
          }
          if (n >= 2)
            Some((ck, e.order_key) -> (day, n, cents, maxC - minC))
          else None
        }
      }.toMap
      assert(got.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F40 streaming source purity equals the batch C48 derivation; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{DocLangEvent, PurityOut}
    implicit val sqlCtx = spark.sqlContext
    // classify batch-side with the shared C4 predictor, stream the labels
    val ev = graft.operators.TextOps.qLangId(spark, sfDir)
      .join(graft.sources.Tables.documents(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
                org.apache.spark.sql.functions.col("source")), "doc_id")
      .selectExpr("source", "doc_id", "pred_lang")
      .collect()
      .map(r => DocLangEvent(r.getString(0), r.getLong(1), r.getString(2)))
      .toSeq
    val input = MemoryStream[DocLangEvent]
    val q = EventStreams.sourcePurityStream(input.toDS())
      .writeStream.format("memory").queryName("purity_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.doc_id < ev.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.take(100)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("purity_out").as[PurityOut].collect()
        .groupBy(_.source)
        .map { case (s, rs) =>
          val last = rs.maxBy(_.n_docs)
          s -> (last.n_docs, last.major_lang, last.n_major, last.purity_ppm)
        }
      val expected = ev.groupBy(_.source).map { case (s, es) =>
        val counts = es.groupBy(_.pred).view.mapValues(_.length.toLong).toMap
        val n = counts.values.sum
        val (lang, c) = counts.toSeq.sortBy { case (l, cnt) => (-cnt, l) }.head
        s -> (n, lang, c, c * 1000000L / n)
      }
      assert(got.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F42 streaming sequence packer aggregates to the oracled batch census; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{PackIn, PackOut}
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) + 1 AS LONG) AS w")
      .collect().map(r => PackIn(r.getLong(0), r.getLong(1)))
      .toSeq.sortBy(_.doc_id)
    def run(name: String, batches: Seq[Seq[PackIn]]): Seq[PackOut] = {
      val input = MemoryStream[PackIn]
      val q = EventStreams.seqPackStream(input.toDS())
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      try {
        batches.foreach { b0 => input.addData(b0); q.processAllAvailable() }
        spark.table(name).as[PackOut].collect().toSeq.sortBy(_.doc_id)
      } finally q.stop()
    }
    // doc_id-ordered delivery split two ways + a replayed prefix:
    // the assignment must be identical (watermark drops redeliveries)
    val (a, b1) = docs.splitAt(docs.length / 2)
    val r1 = run("pack_out_1", Seq(withRetry(a), a.takeRight(40) ++ b1))
    val (c, d1) = docs.splitAt(docs.length / 3)
    val r2 = run("pack_out_2", Seq(c, d1))
    assert(r1 == r2 && r1.nonEmpty)
    // the per-doc intervals aggregate to the ORACLED batch census
    val census = graft.operators.TextOps.qSeqPack(spark, sfDir).collect().head
    assert(census.getLong(0) == r1.length.toLong)
    assert(census.getLong(1) == r1.map(p => p.endx - p.start).sum)
    assert(census.getLong(3) == r1.count(_.span > 1).toLong)
    assert(census.getLong(4) == r1.map(_.span).max)
  }

  test("F44 streaming cohort stamps aggregate to the oracled B139 LTV cells; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{CohortIn, CohortOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.orders(spark, sfDir)
      .selectExpr("o_custkey",
        "o_orderkey",
        "CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate) - 1 AS m",
        "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents")
      .collect()
      .map(r => CohortIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(e => (e.m, e.order_key)) // (month, key)-ordered arrival
    val input = MemoryStream[CohortIn]
    val q = EventStreams.cohortLtvStream(input.toDS())
      .writeStream.format("memory").queryName("cohort_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.splitAt(ev.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.takeRight(100)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("cohort_out").as[CohortOut].collect()
      assert(got.length == ev.length, "exactly one stamp per order")
      // aggregate the stamped stream to the LTV cells and customers
      val cells = got.groupBy(o => (o.cohort_m, o.age_months))
        .map { case (k, os) => k -> (os.length.toLong, os.map(_.cents).sum) }
      val custs = got.groupBy(_.cohort_m)
        .map { case (c, os) => c -> os.map(_.ck).distinct.length.toLong }
      // the ORACLED batch view must agree cell by cell
      val batch = graft.operators.Relational.qCohortLtv(spark, sfDir).collect()
      assert(batch.nonEmpty)
      batch.foreach { r =>
        val ym = r.getAs[Long]("cohort_ym")
        val cohortM = (ym / 100) * 12 + (ym % 100) - 1
        val age = r.getAs[Long]("age_months")
        val (nOrders, revCents) = cells((cohortM, age))
        assert(nOrders == r.getAs[Long]("n_orders"), s"cell ($ym,$age) n")
        assert(revCents == r.getAs[Long]("rev_cents"), s"cell ($ym,$age) rev")
        assert(custs(cohortM) == r.getAs[Long]("n_customers"), s"cohort $ym sizes")
      }
      assert(cells.size == batch.length, "no extra cells in the stream")
    } finally q.stop()
  }

  test("F43 streaming Page–Hinkley equals the batch B140 recursion; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{PhIn, PhOut}
    implicit val sqlCtx = spark.sqlContext
    val daily = graft.sources.Tables.orders(spark, sfDir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(expr("CAST(ROUND(o_totalprice*100,0) AS BIGINT)")).as("x"))
      .selectExpr("CAST(datediff(day, DATE '1970-01-01') AS BIGINT) AS ed", "x")
      .collect().map(r => PhIn(r.getLong(0), r.getLong(1)))
      .sortBy(_.day_ed).toSeq
    val lambda = 10L * (daily.map(_.x).sum / daily.length)
    val input = MemoryStream[PhIn]
    val q = EventStreams.pageHinkleyStream(input.toDS(), lambda)
      .writeStream.format("memory").queryName("ph_out").outputMode("update").start()
    try {
      // day-ordered arrival split mid-series + a replayed tail batch
      val (b1, b2) = daily.splitAt(daily.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.takeRight(50)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("ph_out").as[PhOut].collect()
        .map(p => p.day_ed -> p).toMap
      // the reference is the batch recursion run sequentially
      var i = 0L; var cx = 0L; var mt = 0L; var mmin = Long.MaxValue
      val expected = daily.map { p =>
        i += 1; cx += p.x
        val mean = cx / i
        mt += p.x - mean
        mmin = math.min(mmin, mt)
        val ph = mt - mmin
        p.day_ed -> PhOut(p.day_ed, mean, mt, ph, ph > lambda)
      }.toMap
      assert(got.size == daily.size)
      assert(got == expected)
      // and the oracled batch view agrees on the headline numbers
      val b = graft.operators.Relational.qPageHinkley(spark, sfDir).collect()(0)
      assert(b.getAs[Long]("max_ph") == expected.values.map(_.ph).max)
      assert(b.getAs[Long]("n_alarm_days") == expected.values.count(_.alarm).toLong)
    } finally q.stop()
  }

  test("F45 streaming A/B monitor equals a sequential fold and the oracled B145 counters") {
    import spark.implicits._
    import graft.streaming.EventStreams.{AbIn, AbOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sfDir)
      .selectExpr("event_id", "CAST(user_id % 2 AS INT) AS cohort",
        "event_type = 'purchase' AS purchase")
      .collect()
      .map(r => AbIn(r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .sortBy(_.event_id).toSeq
    val input = MemoryStream[AbIn]
    val q = EventStreams.abMonitorStream(input.toDS())
      .writeStream.format("memory").queryName("ab_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.splitAt(ev.length / 3)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.takeRight(40)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("ab_out").as[AbOut].collect()
        .map(o => o.event_id -> o).toMap
      // sequential reference fold over the ordered arrivals
      var n1 = 0L; var x1 = 0L; var n2 = 0L; var x2 = 0L
      val expected = ev.map { e =>
        if (e.cohort == 0) { n1 += 1; if (e.purchase) x1 += 1 }
        else { n2 += 1; if (e.purchase) x2 += 1 }
        e.event_id -> AbOut(e.event_id, n1, x1, n2, x2,
          if (n1 == 0) 0L else x1 * 1000000L / n1,
          if (n2 == 0) 0L else x2 * 1000000L / n2)
      }.toMap
      assert(got.size == ev.size)
      assert(got == expected)
      // final counters == the oracled batch query's counters (cohort 1
      // in the batch query is EVEN user_id — stream cohort 0)
      val b = graft.operators.Relational.qTwoProportion(spark, sfDir).collect()(0)
      val fin = got(ev.last.event_id)
      assert(b.getAs[Long]("n1") == fin.n1 && b.getAs[Long]("x1") == fin.x1)
      assert(b.getAs[Long]("n2") == fin.n2 && b.getAs[Long]("x2") == fin.x2)
      assert(b.getAs[Long]("p1_ppm") == fin.p1_ppm)
      assert(b.getAs[Long]("p2_ppm") == fin.p2_ppm)
    } finally q.stop()
  }

  test("F51 streaming blob ingest: binaryFile readStream census equals the batch E20 walk") {
    import spark.implicits._
    // the production crawl-landing shape: archives arrive as FILES in
    // a watched directory; the stream is the ingest census (E7's
    // batch binaryFile path, made continuous)
    val dir = graft.core.TempDir.forJvm("f51blobs")
    val ids = (60L to 95L) // spans the id%89 bit-rot arm (89)
    ids.foreach { id =>
      java.nio.file.Files.write(dir.resolve(f"blob-$id%03d.zip"),
        graft.operators.Multimodal.encodeZip(id))
    }
    val blobSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val out = spark.readStream.format("binaryFile").schema(blobSchema)
      .option("pathGlobFilter", "*.zip").load(dir.toString)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val id = path.split("blob-")(1).stripSuffix(".zip").toLong
        val (n, tb, probe, ok) = graft.operators.Multimodal.zipCensus(id, bytes)
        (id, n, tb, probe, ok)
      }.toDF("media_id", "n_members", "total_bytes", "probe_checksum", "crc_ok")
    val q = out.writeStream.format("memory").queryName("f51_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val got = spark.table("f51_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(_._1).toSeq
    val want = ids.map { id =>
      val (n, tb, p, ok) = graft.operators.Multimodal.zipCensus(
        id, graft.operators.Multimodal.encodeZip(id))
      (id, n, tb, p, ok)
    }.toSeq
    assert(got == want)
    assert(want.find(_._1 == 89L).exists(_._5 == 0), "bit-rot arm must be in the fixture")
  }

  test("F50 streaming dominance monitor equals batch B155 Cliff's delta counts; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{CdIn, CdOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
              col("l_shipdate") < lit("1999-01-01"))
      .selectExpr("l_orderkey * 10 + l_linenumber AS line",
        "CAST(l_shipdate >= TIMESTAMP '1998-01-01' AS INT) AS cohort",
        "CAST(l_quantity AS INT) AS v")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      // ids must be unique: the fixture repeats (l_orderkey,
      // l_linenumber), so number the sorted rows as the gate does
      .sortBy(identity).zipWithIndex
      .map { case ((_, cohort, v), i) => CdIn(i.toLong, cohort, v) }.toSeq
    val input = MemoryStream[CdIn]
    val q = EventStreams.dominanceStream(input.toDS())
      .writeStream.format("memory").queryName("cd_out").outputMode("update").start()
    try {
      val third = ev.length / 3
      input.addData(ev.take(third)); q.processAllAvailable()
      input.addData(ev.slice(third, 2 * third) ++ ev.take(40)) // replay mixed in
      q.processAllAvailable()
      input.addData(withRetry(ev.drop(2 * third))); q.processAllAvailable()
      val fin = spark.table("cd_out").as[CdOut].collect().maxBy(_.ver)
      val b = graft.operators.Relational.qCliffsDelta(spark, sfDir).collect()(0)
      assert(b.getAs[Long]("n_a") == fin.n_a && b.getAs[Long]("n_b") == fin.n_b)
      assert(b.getAs[Long]("n_gt") == fin.n_gt && b.getAs[Long]("n_lt") == fin.n_lt)
    } finally q.stop()
  }

  test("F49 streaming trend monitor equals batch B154 sufficient statistics; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{CaIn, CaOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.orders(spark, sfDir)
      .selectExpr("o_orderkey",
        "CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS k",
        "o_orderstatus = 'F' AS succ")
      .collect().map(r => CaIn(r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_.event_id).toSeq
    val input = MemoryStream[CaIn]
    val q = EventStreams.caMonitorStream(input.toDS())
      .writeStream.format("memory").queryName("ca_out").outputMode("update").start()
    try {
      val third = ev.length / 3
      input.addData(ev.take(third)); q.processAllAvailable()
      input.addData(ev.slice(third, 2 * third)); q.processAllAvailable()
      input.addData(ev.take(50)); q.processAllAvailable() // replay: all dropped
      input.addData(withRetry(ev.drop(2 * third))); q.processAllAvailable()
      val rows = spark.table("ca_out").as[CaOut].collect()
      assert(rows.length == ev.length, "replayed ids must emit nothing")
      val fin = rows.maxBy(_.event_id)
      val b = graft.operators.Relational.qCochranArmitage(spark, sfDir).collect()(0)
      assert(b.getAs[Long]("n") == fin.n && b.getAs[Long]("x") == fin.x)
      assert(b.getAs[Long]("sx") == fin.sx && b.getAs[Long]("sn") == fin.sn)
      assert(b.getAs[Long]("sn2") == fin.sn2)
      // the z the batch renders is a pure function of these integers —
      // replaying the shared formula over the stream state must match
      val z = spark.sql(
        s"SELECT CAST(ROUND(${graft.operators.Relational.caZSql}, 6) AS DOUBLE) AS z FROM " +
        s"(SELECT ${fin.n}L AS n, ${fin.x}L AS x, ${fin.sx}L AS sx, " +
        s"${fin.sn}L AS sn, ${fin.sn2}L AS sn2)").collect()(0).getDouble(0)
      assert(math.abs(z - b.getAs[Double]("z_stat")) < 1e-9)
    } finally q.stop()
  }

  test("F47 streaming bottom-k sampler is order- and replay-invariant; equals B147") {
    import spark.implicits._
    import graft.streaming.EventStreams.{SampIn, SampOut}
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.orders(spark, sfDir)
      .selectExpr("o_orderkey", "CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents")
      .collect().map(r => SampIn(r.getLong(0), r.getLong(1))).toSeq
    // adversarial delivery: deterministically shuffled, split, replayed
    val shuffled = rows.sortBy(r => r.key * 2654435761L % 1000003)
    val input = MemoryStream[SampIn]
    val q = EventStreams.bottomkSampleStream(input.toDS())
      .writeStream.format("memory").queryName("samp_out").outputMode("update").start()
    try {
      val (b1, b2) = shuffled.splitAt(shuffled.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.take(80)); q.processAllAvailable() // replay
      input.addData(b2); q.processAllAvailable()
      val all = spark.table("samp_out").as[SampOut].collect()
      val maxVer = all.map(_.version).max
      val fin = all.filter(_.version == maxVer).sortBy(_.rank)
        .map(o => (o.rank, o.key, o.cents)).toSeq
      // a registry query returns a row set: compare in rank order
      val batch = graft.operators.Relational.qBottomkSample(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(_._1)
      assert(batch.length == 100)
      assert(fin == batch)
    } finally q.stop()
  }

  test("F46 streaming power sums equal the batch B142 moments per flag; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{MomIn, MomOut}
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.lineitem(spark, sfDir)
      .selectExpr("l_returnflag AS flag",
        "CAST(l_quantity AS BIGINT) AS x",
        "row_number() OVER (PARTITION BY l_returnflag " +
          "ORDER BY l_orderkey, l_linenumber) AS seq")
      .collect()
      .map(r => MomIn(r.getString(0), r.getInt(2).toLong, r.getLong(1)))
      .sortBy(m => (m.flag, m.seq)).toSeq
    val input = MemoryStream[MomIn]
    val q = EventStreams.momentsStream(input.toDS())
      .writeStream.format("memory").queryName("mom_out").outputMode("update").start()
    try {
      // adversarial delivery: split mid-key + replay a prefix of b2
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2.take(60)); q.processAllAvailable()
      input.addData(b2.take(60)); q.processAllAvailable() // replay
      input.addData(withRetry(b2.drop(60))); q.processAllAvailable()
      val got = spark.table("mom_out").as[MomOut].collect()
      assert(got.length == rows.length, "exactly one emission per arrival")
      val fin = got.groupBy(_.flag)
        .map { case (f, os) => f -> os.maxBy(_.seq) }
      // final per-flag state == the oracled batch moments
      val batch = graft.operators.Relational.qJarqueBera(spark, sfDir).collect()
      assert(batch.nonEmpty)
      batch.foreach { r =>
        val f = fin(r.getAs[String]("flag"))
        assert(f.n == r.getAs[Long]("n") && f.s1 == r.getAs[Long]("s1"))
        assert(f.s2 == r.getAs[Long]("s2") && f.s3 == r.getAs[Long]("s3"))
        assert(f.s4 == r.getAs[Long]("s4"))
      }
      assert(fin.keySet == batch.map(_.getAs[String]("flag")).toSet)
    } finally q.stop()
  }

  test("F41 streaming error bursts equal a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{ErrEvent, ErrBurstOut}
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 3600L * 1000000L
    val ev = graft.sources.Tables.events(spark, sfDir)
      .where("event_type = 'error'")
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us")
      .collect()
      .map(r => ErrEvent(r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val input = MemoryStream[ErrEvent]
    val q = EventStreams.errorBurstStream(input.toDS())
      .writeStream.format("memory").queryName("errburst_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < ev.map(_.event_id).sorted
        .apply(ev.length / 2))
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.take(50)); q.processAllAvailable() // replay
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("errburst_out").as[ErrBurstOut].collect()
        .map(r => (r.user_id, r.event_id) -> (r.burst_seq, r.n_errors, r.span_us))
        .toMap
      val expected = ev.groupBy(_.user_id).flatMap { case (uid, es) =>
        var seq = 0L; var n = 0L; var firstUs = 0L; var lastUs = Long.MinValue
        es.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
          if (n == 0L || e.ts_us - lastUs > gapUs) {
            seq += 1; n = 1L; firstUs = e.ts_us
          } else n += 1
          lastUs = e.ts_us
          if (n >= 2L)
            Some((uid, e.event_id) -> (seq, n, lastUs - firstUs))
          else None
        }
      }.toMap
      assert(got.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F30 streaming attribution equals the oracled batch B104 aggregate; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{AttrEvent, AttrOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "event_type")
      .collect()
      .map(r => AttrEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val input = MemoryStream[AttrEvent]
    val q = EventStreams.attributionStream(input.toDS())
      .writeStream.format("memory").queryName("attr_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < ev.length / 2)
      input.addData(b1); q.processAllAvailable()
      // replay below the high-water mark must not re-credit purchases
      input.addData(b1.take(200)); q.processAllAvailable()
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("attr_out").as[AttrOut].collect()
      // the streaming per-model aggregate must equal the oracled batch
      // query row for row (counts AND exact summed gaps)
      val streamLast = got.groupBy(_.last_type).map { case (t, xs) =>
        ("last", t, xs.length.toLong, xs.filter(_.gap_us >= 0).map(_.gap_us).sum)
      }.toSet
      val streamFirst = got.groupBy(_.first_type).map { case (t, xs) =>
        ("first", t, xs.length.toLong, 0L)
      }.toSet
      val batch = graft.operators.Relational.qAttribution(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamLast ++ streamFirst == batch)
    } finally q.stop()
  }

  test("F31 streaming transition pairs equal the batch lag pairs; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{AttrEvent, TransOut}
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.sources.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "event_type")
      .collect()
      .map(r => AttrEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val input = MemoryStream[AttrEvent]
    val q = EventStreams.transitionStream(input.toDS())
      .writeStream.format("memory").queryName("trans_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < ev.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.take(300)); q.processAllAvailable() // replay: no dup pairs
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("trans_out").as[TransOut].collect()
        .map(t => (t.user_id, t.event_id, t.from_type, t.to_type)).toSet
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val expected = graft.sources.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("event_type"),
                lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getString(2)))
        .toSet
      assert(got == expected && got.nonEmpty)
    } finally q.stop()
  }

  test("F32 streaming NB classification aggregates to the oracled batch confusion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val model = graft.operators.TextOps.nbFit(spark, sfDir)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.nbClassifyStream(
        input.toDS().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("nb_out").outputMode("append").start()
    try {
      val (b1, b2) = docs.partition(_._1 < docs.length / 2)
      input.addData(b1.map(d => (d._1, d._2))); q.processAllAvailable()
      input.addData(b2.map(d => (d._1, d._2))); q.processAllAvailable()
      val srcOf = docs.map(d => d._1 -> d._3).toMap
      // the stream's per-doc predictions, aggregated to a confusion,
      // must equal the ORACLED batch query row for row — two
      // independent implementations (kernel vs DataFrame), one contract
      val got = spark.table("nb_out").collect()
        .map(r => (srcOf(r.getLong(0)), r.getString(1)))
        .groupBy(identity).map { case ((a, p), xs) => (a, p, xs.length.toLong) }
        .toSet
      val batch = graft.operators.TextOps.qMultinomialNb(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == batch && got.nonEmpty)
    } finally q.stop()
  }

  test("F33 streaming clamped balance equals a sequential batch fold; replay-safe") {
    import spark.implicits._
    import graft.streaming.EventStreams.{BalOut, KeyedVal}
    implicit val sqlCtx = spark.sqlContext
    // signed deltas so clamps genuinely engage
    val ev = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect().map { r =>
        val raw = r.getLong(2)
        KeyedVal(r.getLong(1), r.getLong(0), if (raw % 3 == 0) -raw else raw)
      }.toSeq
    val input = MemoryStream[KeyedVal]
    val q = EventStreams.clampedBalanceStream(input.toDS())
      .writeStream.format("memory").queryName("bal_out").outputMode("update").start()
    try {
      val (b1, b2) = ev.partition(_.event_id < 2500)
      input.addData(b1); q.processAllAvailable()
      input.addData(b1.take(400)); q.processAllAvailable() // replay: no double-fold
      input.addData(withRetry(b2)); q.processAllAvailable()
      val got = spark.table("bal_out").as[BalOut].collect()
        .map(r => (r.user_id, r.event_id) -> (r.bal, r.mx, r.clamps, r.n)).toMap
      val expected = ev.groupBy(_.user_id).flatMap { case (uid, evs) =>
        var bal = 0L; var mx = 0L; var clamps = 0L; var n = 0L
        evs.sortBy(_.event_id).map { e =>
          val next = bal + e.v
          if (next < 0) { clamps += 1; bal = 0L } else bal = next
          if (bal > mx) mx = bal
          n += 1
          (uid, e.event_id) -> (bal, mx, clamps, n)
        }
      }.toMap
      assert(got.size == 5000 && got == expected)
      // the fixture must actually exercise the clamp
      assert(got.values.exists(_._3 > 0))
    } finally q.stop()
  }

  test("F14 streaming SemDeDup equals batch semDedup across id-interleaved batches") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.streaming.EventStreams.{DupMark, VecArrival}
    implicit val sqlCtx = spark.sqlContext
    val nCells = 4 // small cells -> plenty of within-cell pairs at sf0.001
    val tau = 0.2
    val cents = Similarity.semCentroids(nCells)
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val input = MemoryStream[VecArrival]
    val q = EventStreams.semDedupStream(input.toDS(), cents, tau)
      .writeStream.format("memory").queryName("sem_out").outputMode("update").start()
    try {
      // ODD ids first, then EVEN: every even arrival is a LATE lower-id
      // vector relative to its odd successor, so batch 2 must re-assign
      // (or newly mark) earlier arrivals for stream == batch to hold
      val (odd, even) = vecs.partition(_._1 % 2 == 1)
      input.addData(odd.map { case (id, v) => VecArrival(id, v) }.toSeq)
      q.processAllAvailable()
      input.addData(even.map { case (id, v) => VecArrival(id, v) }.toSeq)
      // plus a re-delivery that must be ignored
      input.addData(Seq(VecArrival(odd.head._1, odd.head._2)))
      q.processAllAvailable()
      val marks = spark.table("sem_out").as[DupMark].collect()
      // changelog semantics: latest row per vec_id is the verdict; a
      // vector may appear twice (marked in b1, re-assigned in b2), and
      // the LAST dup_of must be the batch one — take the final emission
      val got = marks.zipWithIndex
        .groupBy(_._1.vec_id)
        .map { case (_, ms) => ms.maxBy(_._2)._1 }
        .map(m => (m.vec_id, m.cell, m.dup_of,
          BigDecimal(m.cosine).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toSet
      val expected = Similarity.semDedup(spark, sfDir, nCells, tau)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(expected.nonEmpty, "fixture produced no dups — lower tau")
      assert(got == expected)
      // and the interleave actually exercised re-assignment: some id
      // was emitted more than once
      assert(marks.groupBy(_.vec_id).exists(_._2.length > 1),
        "no dup_of re-assignment happened; batches not adversarial enough")
    } finally q.stop()
  }

  test("streaming sessionization equals batch gaps-and-islands across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("s_out").outputMode("update").start()
    try {
      val evs = eventRows
      val third = evs.length / 3
      input.addData(evs.take(third)); q.processAllAvailable()
      input.addData(evs.slice(third, 2 * third)); q.processAllAvailable()
      input.addData(evs.drop(2 * third)); q.processAllAvailable()
      // last update per (user, seq) is the session's final state
      val got = spark.table("s_out").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), math.round(r.getDouble(5) * 100)))
        .groupBy(_._1).view.mapValues(_.last._2).toMap
      val expected = graft.operators.Relational.qSessionize(spark, sfDir).collect()
        .map { r =>
          (r.getLong(0), r.getLong(1)) ->
            (r.getLong(2), unix_micros_of(r.getTimestamp(3)), r.getLong(4),
             math.round(r.getDouble(5) * 100))
        }.toMap
      assert(got.size == expected.size)
      assert(got == expected)
    } finally q.stop()
  }

  test("F22 built-in session_window stream equals the batch session_window aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.sessionWindowStream(
        input.toDF().withColumn("ts", timestamp_micros(col("ts"))))
      .writeStream.format("memory").queryName("sw_out")
      .outputMode("append").start()
    try {
      val evs = eventRows
      val sentinelUid = 999999L
      val sentinelTs = evs.map(_.ts).max + 7L * 24 * 3600 * 1000000L
      val (h1, h2) = evs.splitAt(evs.length / 2) // sessions split mid-stream
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      // two sentinel batches: the first advances the max event time, the
      // second runs with the advanced watermark and flushes every real
      // session out of the state store (Append emits on finalization only)
      input.addData(Ev(sentinelUid, sentinelTs, 1L, 0.0)); q.processAllAvailable()
      input.addData(Ev(sentinelUid, sentinelTs + 1000000L, 2L, 0.0)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3),
         math.round(r.getDouble(4) * 100))
      val got = spark.table("sw_out")
        .filter(col("user_id") =!= sentinelUid).collect().map(key).toSet
      val expected = EventStreams.sessionWindowAgg(
          Tables.events(spark, sfDir).select(col("user_id"), col("ts"), col("value")))
        .collect().map(key).toSet
      assert(expected.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F23 streaming zonal stats equal batch qZonal after all tiles arrive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cells = graft.sources.Synthetic.rasterGrid(spark, 120L, 80L)
      .collect()
      .map(r => Cell(r.getLong(0), r.getLong(1),
                     if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq
    val input = MemoryStream[Cell]
    val q = graft.operators.Estimation.zonalStats(input.toDF())
      .writeStream.format("memory").queryName("z_out")
      .outputMode("update").start()
    try {
      // tiles arrive in two interleaved halves (stripes of x), so every
      // zone is updated across batches
      val (h1, h2) = cells.partition(_.x % 2 == 0)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val rows = spark.table("z_out").collect()
      val got = rows.zipWithIndex
        .map { case (r, i) => r.getLong(0) ->
          (i, (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
               r.getLong(5), r.getDouble(6))) }
        .groupBy(_._1).view.mapValues(v => v.maxBy(_._2._1)._2._2).toMap
      val expected = graft.operators.Estimation.qZonal(spark, sfDir).collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
           r.getLong(5), r.getDouble(6))).toMap
      assert(expected.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  test("F7 streaming per-key top-N equals batch topNPerKey across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.topNStream(input.toDS(), n = 3).writeStream
      .format("memory").queryName("t_out").outputMode("update").start()
    try {
      val evs = eventRows
      val third = evs.length / 3
      input.addData(evs.take(third)); q.processAllAvailable()
      input.addData(evs.slice(third, 2 * third)); q.processAllAvailable()
      input.addData(evs.drop(2 * third)); q.processAllAvailable()
      // last update per (user, rn) is the final top-N row
      val rows = spark.table("t_out").collect()
      val got = rows.zipWithIndex
        .map { case (r, i) => (r.getLong(0), r.getInt(1)) -> (i, r.getLong(2), r.getDouble(3)) }
        .groupBy(_._1).view.mapValues(v => { val x = v.maxBy(_._2._1)._2; (x._2, x._3) }).toMap
      val expected = graft.operators.Windowed.topNPerKey(
          Tables.events(spark, sfDir)
            .select(col("user_id"), col("event_id"), col("value")),
          Seq("user_id"), order = col("value"), tieBreak = col("event_id"), n = 3)
        .collect()
        .map(r => (r.getLong(0), r.getInt(r.fieldIndex("rn"))) ->
          (r.getLong(r.fieldIndex("event_id")), r.getDouble(r.fieldIndex("value"))))
        .toMap
      assert(got.size == expected.size)
      assert(got == expected)
    } finally q.stop()
  }

  test("F26 streaming drift-bucket histogram equals batch; PSI meets the static baseline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = eventRows
    // baseline cohort (even event ids) stays static; the odd cohort streams in
    val (baseEvs, curEvs) = evs.partition(_.event_id % 2 == 0)
    val input = MemoryStream[Ev]
    val q = EventStreams.driftBucketStream(input.toDF())
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("update").start()
    try {
      val half = curEvs.length / 2
      input.addData(curEvs.take(half)); q.processAllAvailable()
      input.addData(curEvs.drop(half)); q.processAllAvailable()
      // latest update per bucket is the final count
      val got = spark.table("drift_out").collect().zipWithIndex
        .map { case (r, i) => r.getLong(0) -> (i, r.getLong(1)) }
        .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2._2).toMap
      val batchCur = EventStreams.driftBucketStream(curEvs.toDF())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batchCur, "stream bucket state diverged from the batch histogram")
      val baseHist = EventStreams.driftBucketStream(baseEvs.toDF())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val psi = EventStreams.psiE6(baseHist, got)
      assert(psi == EventStreams.psiE6(baseHist, batchCur))
      // even/odd cohorts of one generator draw the same distribution —
      // the monitor must NOT flag drift (PSI 0.2e6 is the retrain bar)
      assert(math.abs(psi) < 200000, s"spurious drift: psi_e6=$psi")
    } finally q.stop()
  }

  test("F27 streaming Benford digit histogram equals batch; MAD re-scores from state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = eventRows
    val input = MemoryStream[Ev]
    val q = EventStreams.benfordDigitStream(input.toDF())
      .writeStream.format("memory").queryName("benford_out")
      .outputMode("update").start()
    try {
      val half = evs.length / 2
      input.addData(evs.take(half)); q.processAllAvailable()
      input.addData(evs.drop(half)); q.processAllAvailable()
      val got = spark.table("benford_out").collect().zipWithIndex
        .map { case (r, i) => r.getLong(0) -> (i, r.getLong(1)) }
        .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2._2).toMap
      val batch = EventStreams.benfordDigitStream(evs.toDF())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batch, "stream digit state diverged from the batch histogram")
      assert(EventStreams.benfordMadE6(got) == EventStreams.benfordMadE6(batch))
      // the kernel is well-defined on degenerate state
      assert(EventStreams.benfordMadE6(Map.empty) == 0L)
    } finally q.stop()
  }

  test("F9 streaming vocabulary counts equal batch term counts across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .collect().map(r => TDoc(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TDoc]
    val q = EventStreams.vocabStream(input.toDF()).writeStream
      .format("memory").queryName("v_out").outputMode("update").start()
    try {
      val half = docs.length / 2
      input.addData(docs.take(half)); q.processAllAvailable()
      input.addData(docs.drop(half)); q.processAllAvailable()
      // last update per term is the final count
      val got = spark.table("v_out").collect().zipWithIndex
        .map { case (r, i) => r.getString(0) -> (i, r.getLong(1)) }
        .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2._2).toMap
      val expected = Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy(col("term")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.size == expected.size && got == expected)
    } finally q.stop()
  }

  test("F20 streaming segment-dedup stats equal the batch C37 stats across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .collect().map(r => TDoc(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TDoc]
    val q = EventStreams.segmentStatsStream(input.toDF()).writeStream
      .format("memory").queryName("seg_out").outputMode("update").start()
    try {
      val half = docs.length / 2
      input.addData(docs.take(half)); q.processAllAvailable()
      input.addData(docs.drop(half)); q.processAllAvailable()
      // last update per segment is the final (n_occ, kinst) pair
      def kinst(r: org.apache.spark.sql.Row): (Long, Long) = {
        val k = r.getStruct(2); (k.getLong(0), k.getLong(1))
      }
      val got = spark.table("seg_out").collect().zipWithIndex
        .map { case (r, i) => r.getString(0) -> (i, (r.getLong(1), kinst(r))) }
        .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2._2).toMap
      val expected = graft.operators.TextOps.segmentStatsOn(
          graft.operators.TextOps.segmentsOn(
            Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))))
        .collect().map(r => r.getString(0) -> (r.getLong(1), kinst(r))).toMap
      assert(got.size == expected.size && got == expected)
    } finally q.stop()
  }

  test("F10 streaming funnel depths aggregate to the batch funnel counts") {
    import spark.implicits._
    import graft.streaming.EventStreams.FEv
    implicit val sqlCtx = spark.sqlContext
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("event_type"))
      .collect().map(r => FEv(r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_.ts).toSeq
    val input = MemoryStream[FEv]
    val q = EventStreams.funnelStream(input.toDS()).writeStream
      .format("memory").queryName("f_out").outputMode("update").start()
    try {
      val third = evs.length / 3
      input.addData(evs.take(third)); q.processAllAvailable()
      input.addData(evs.slice(third, 2 * third)); q.processAllAvailable()
      input.addData(evs.drop(2 * third)); q.processAllAvailable()
      val finalStage = spark.table("f_out").collect().zipWithIndex
        .map { case (r, i) => r.getLong(0) -> (i, r.getInt(1)) }
        .groupBy(_._1).view.mapValues(_.maxBy(_._2._1)._2._2).toMap
      val b = graft.operators.Relational.qFunnel(spark, sfDir).collect()(0)
      assert(finalStage.size == b.getLong(0))                    // n_users
      assert(finalStage.count(_._2 >= 1) == b.getLong(1))        // n_view
      assert(finalStage.count(_._2 >= 2) == b.getLong(2))        // n_view_click
      assert(finalStage.count(_._2 >= 3) == b.getLong(3))        // n_full_funnel
    } finally q.stop()
  }

  test("F19 streaming canonical dedup keeps exactly the batch q_canon_dedup keepers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => TDoc(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    val input = MemoryStream[TDoc]
    val q = EventStreams.canonDedupStream(input.toDF()).writeStream
      .format("memory").queryName("cd_out").outputMode("append").start()
    try {
      val half = corpus.length / 2
      input.addData(corpus.take(half)); q.processAllAvailable()
      input.addData(corpus.drop(half)); q.processAllAvailable()
      val got = spark.table("cd_out").collect().map(_.getLong(0)).toSet
      val keepers = graft.operators.TextOps.qCanonDedup(spark, sfDir).collect()
        .map(_.getLong(0)).toSet
      assert(got == keepers && got.nonEmpty)
    } finally q.stop()
  }

  test("F18 streaming curation pipeline equals the oracled batch q_corpus_pipeline") {
    import spark.implicits._
    import graft.streaming.EventStreams.CurOut
    implicit val sqlCtx = spark.sqlContext
    // eval gram set built batch-side, exactly as C31 does
    val evalGrams = graft.operators.TextOps.shingleGramsOn(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 97 === 0), n = 4)
      .select(col("g")).distinct().collect().map(_.getString(0)).toSeq
    // id-ordered arrivals (the monotone-source contract: first-seen
    // content hash == the batch MIN keeper)
    val corpus = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => TDoc(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    val input = MemoryStream[TDoc]
    val q = EventStreams.curationStream(input.toDF(), evalGrams).writeStream
      .format("memory").queryName("cur_out").outputMode("append").start()
    try {
      val half = corpus.length / 2
      input.addData(corpus.take(half)); q.processAllAvailable()
      input.addData(corpus.drop(half)); q.processAllAvailable()
      val got = spark.table("cur_out").as[CurOut].collect()
        .map(o => (o.doc_id, o.is_keeper, o.keep_quality, o.contaminated,
          o.split, o.selected)).toSet
      val expected = graft.operators.TextOps.qCorpusPipeline(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4), r.getInt(5))).toSet
      assert(got == expected && got.nonEmpty)
    } finally q.stop()
  }

  test("F17 streaming heavy hitters keep the Misra-Gries contract across batches") {
    import spark.implicits._
    import graft.streaming.EventStreams.{KeyedVal, MgOut}
    implicit val sqlCtx = spark.sqlContext
    val k = 8; val shards = 4
    val ev = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect().map(r => KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2))).toSeq
    val exact = ev.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    val n = ev.size
    val input = MemoryStream[KeyedVal]
    val q = EventStreams.heavyHittersStream(input.toDS(), k, shards)
      .writeStream.format("memory").queryName("mg_out").outputMode("update").start()
    try {
      val third = ev.length / 3
      input.addData(ev.take(third)); q.processAllAvailable()
      input.addData(ev.slice(third, 2 * third)); q.processAllAvailable()
      input.addData(ev.drop(2 * third)); q.processAllAvailable()
      val rows = spark.table("mg_out").as[MgOut].collect()
      // latest version per shard; shard key spaces are disjoint so the
      // union is the global summary
      val latest = rows.groupBy(_.shard).values.flatMap { sh =>
        val maxVer = sh.map(_.ver).max
        sh.filter(_.ver == maxVer)
      }.map(o => o.key -> o.est).toMap
      assert(latest.size <= shards * k)
      latest.foreach { case (key, e) =>
        assert(e <= exact(key), s"key $key overestimates") }
      exact.foreach { case (key, t) =>
        assert(t - latest.getOrElse(key, 0L) <= n / (k + 1),
          s"key $key est too low") }
      // the Zipf hot key holds ~half the rows -> guaranteed present
      val hot = exact.maxBy(_._2)._1
      assert(latest.contains(hot))
    } finally q.stop()
  }

  test("F21 streaming CMS: summed shard grids are bit-identical to the batch graft_cms grid") {
    import spark.implicits._
    import graft.streaming.EventStreams.{CmsOut, KeyedVal}
    implicit val sqlCtx = spark.sqlContext
    val depth = 4; val width = 256; val shards = 4
    val ev = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect().map(r => KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2))).toSeq
    val exact = ev.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    val input = MemoryStream[KeyedVal]
    val q = EventStreams.cmsStream(input.toDS(), depth, width, shards)
      .writeStream.format("memory").queryName("cms_out").outputMode("update").start()
    try {
      val third = ev.length / 3
      input.addData(ev.take(third)); q.processAllAvailable()
      input.addData(ev.slice(third, 2 * third)); q.processAllAvailable()
      input.addData(ev.drop(2 * third)); q.processAllAvailable()
      val rows = spark.table("cms_out").as[CmsOut].collect()
      // latest grid per shard; keys touch only their own shard, and CMS
      // merge is elementwise add, so the shard sum IS the global grid
      val summed = new Array[Long](depth * width)
      rows.groupBy(_.shard).values.foreach { sh =>
        val g = sh.maxBy(_.ver).grid
        var i = 0
        while (i < summed.length) { summed(i) += g(i); i += 1 }
      }
      val batchGrid = ev.toDF()
        .agg(expr(s"graft_cms(user_id, $depth, $width)")).collect()(0)
        .getSeq[Long](0).toArray
      assert(java.util.Arrays.equals(summed, batchGrid),
        "stream-summed grid diverges from the batch sketch")
      // and the one-sided estimate contract holds on the summed grid
      import graft.functions.expressions.CountMin
      exact.foreach { case (key, t) =>
        val est = (0 until depth)
          .map(d => summed(d * width + CountMin.bucket(key, d, width))).min
        assert(est >= t, s"key $key underestimates")
      }
    } finally q.stop()
  }

  test("F24 streaming KMV sketch equals the batch B77 estimate across batches") {
    import spark.implicits._
    import graft.streaming.EventStreams.{KmvArrival, KmvOut}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val arrivals = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_partkey")).collect()
      .map(r => KmvArrival(r.getString(0), r.getLong(1))).toSeq
    val input = MemoryStream[KmvArrival]
    val q = EventStreams.kmvStream(input.toDS(), 64)
      .writeStream.format("memory").queryName("kmv_out").outputMode("update").start()
    try {
      val third = arrivals.length / 3
      input.addData(arrivals.take(third)); q.processAllAvailable()
      input.addData(arrivals.slice(third, 2 * third)); q.processAllAvailable()
      // re-deliver the first slice too: the min-k SET must not move
      input.addData(arrivals.drop(2 * third) ++ arrivals.take(100))
      q.processAllAvailable()
      val rows = spark.table("kmv_out").as[KmvOut].collect()
      val latest = rows.groupBy(_.grp).map { case (g, os) =>
        g -> os.maxBy(_.ver).est
      }
      val batch = graft.operators.Relational.qKmvDistinct(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(latest == batch,
        s"stream KMV $latest diverges from batch $batch")
    } finally q.stop()
  }

  test("F48 sharded KMV sketches merge to the exact full-data min-k set; overlap readout in bounds") {
    import spark.implicits._
    import graft.streaming.EventStreams.{KmvArrival, KmvOut}
    implicit val sqlCtx = spark.sqlContext
    val k = 64
    val arrivals = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_partkey")).collect()
      .map(r => KmvArrival(r.getString(0), r.getLong(1))).toSeq
    // two disjoint shards, as if two sites each kept only a partial sketch
    val (sa, sb) = arrivals.partition(a => (a.value * 2654435761L % 1000003) % 2 == 0)
    def finalSketches(rows: Seq[KmvArrival], name: String): Map[String, (Array[Long], Array[Long])] = {
      val input = MemoryStream[KmvArrival]
      val q = EventStreams.kmvStream(input.toDS(), k)
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      try {
        val half = rows.length / 2
        input.addData(rows.take(half)); q.processAllAvailable()
        // second batch with a replayed prefix: the min-k SET must not move
        input.addData(rows.drop(half) ++ rows.take(50)); q.processAllAvailable()
        spark.table(name).as[KmvOut].collect().groupBy(_.grp).map {
          case (g, os) => val last = os.maxBy(_.ver); g -> ((last.hs, last.vs))
        }
      } finally q.stop()
    }
    val skA = finalSketches(sa, "kmv_shard_a")
    val skB = finalSketches(sb, "kmv_shard_b")
    // sequential reference: the true min-k (hash, value) set over ALL data
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = arrivals.groupBy(_.grp).map { case (g, as) =>
      val pairs = as.map(_.value).distinct
        .map(v => (graft.functions.TextKernels.md5Prefix52(md, s"kmv|$v"), v))
        .sorted.take(k)
      g -> ((pairs.map(_._1).toArray, pairs.map(_._2).toArray))
    }
    val none = (Array.empty[Long], Array.empty[Long])
    expected.foreach { case (g, (eh, ev)) =>
      val (ah, av) = skA.getOrElse(g, none)
      val (bh, bv) = skB.getOrElse(g, none)
      val (mh, mv) = EventStreams.kmvMerge(ah, av, bh, bv, k)
      // the mergeability identity, asserted EXACTLY (set-for-set):
      // min-k(A ∪ B) == min-k(min-k(A) ∪ min-k(B))
      assert(mh.toSeq == eh.toSeq && mv.toSeq == ev.toSeq,
        s"group $g: merged shard sketch diverges from full-data min-k set")
      assert(EventStreams.kmvEstimate(mh, k) ==
        EventStreams.kmvEstimate(eh, k))
    }
    // merged-sketch estimates equal the batch B77 estimates per group
    val batch = graft.operators.Relational.qKmvDistinct(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val mergedEst = expected.map { case (g, (eh, _)) =>
      g -> EventStreams.kmvEstimate(eh, k) }
    assert(mergedEst == batch,
      s"merged estimates $mergedEst diverge from batch B77 $batch")
    // B149-style inclusion–exclusion overlap from sketch ALGEBRA alone:
    // |A ∩ N| ≈ est(A) + est(N) − est(merge(A, N))
    val (ahA, avA) = expected("A"); val (ahN, avN) = expected("N")
    val (uh, uv) = EventStreams.kmvMerge(ahA, avA, ahN, avN, k)
    val overlap = EventStreams.kmvEstimate(ahA, k) +
      EventStreams.kmvEstimate(ahN, k) - EventStreams.kmvEstimate(uh, k)
    val setA = arrivals.filter(_.grp == "A").map(_.value).toSet
    val setN = arrivals.filter(_.grp == "N").map(_.value).toSet
    val exactBoth = setA.intersect(setN).size.toLong
    val bound = 5.0 / math.sqrt(k - 2.0) * (setA.size + setN.size)
    assert(uv.length == uh.length)
    assert(math.abs(overlap - exactBoth).toDouble <= bound,
      s"overlap $overlap vs exact $exactBoth exceeds bound $bound")
  }

  test("F25 streaming upsert compaction equals batch B82; winner replays emit nothing") {
    import spark.implicits._
    import graft.streaming.EventStreams.{UpsertEv, UpsertOut}
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // version = the same lexicographic (event-time, event_id) the batch
    // struct max_by key orders by — no packed scalar, no bounds
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")),
              col("event_id"), col("event_type"), col("value"))
      .collect()
      .map(r => UpsertEv(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    val input = MemoryStream[UpsertEv]
    val q = EventStreams.upsertCompactStream(input.toDS())
      .writeStream.format("memory").queryName("upsert_out").outputMode("update").start()
    try {
      val third = ev.length / 3
      input.addData(ev.take(third)); q.processAllAvailable()
      input.addData(ev.slice(third, 2 * third)); q.processAllAvailable()
      input.addData(ev.drop(2 * third)); q.processAllAvailable()
      val latest = spark.table("upsert_out").as[UpsertOut].collect()
        .groupBy(_.user_id).map { case (u, os) =>
          val o = os.maxBy(x => (x.ts_us, x.last_event_id))
          // n_versions grows monotonically: take the max emitted
          u -> (o.last_event_id, o.last_type, os.map(_.n_versions).max)
        }
      val batch = graft.operators.Relational.qUpsertCompact(spark, sfDir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(4))).toMap
      assert(latest == batch, "stream compaction diverges from batch")
      // replaying every current winner must emit NOTHING
      val before = spark.table("upsert_out").count()
      val winners = ev.groupBy(_.user_id).values
        .map(_.maxBy(e => (e.ts_us, e.event_id))).toSeq
      input.addData(winners); q.processAllAvailable()
      assert(spark.table("upsert_out").count() == before,
        "winner replays re-emitted state")
    } finally q.stop()
  }

  test("F16 streaming LM scoring equals batch q_lm_score with fit-once counts") {
    import spark.implicits._
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    // fit ONCE on the batch corpus; the static count frames then score
    // an unbounded stream via two stream-static joins + one Update-mode
    // per-doc aggregate — the C33 fit/score split exercised end-to-end
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val (uni, c2) = TextOps.lmFit(docs)
    val corpus = docs.collect().map(r => TDoc(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TDoc]
    val q = TextOps.lmScoreOn(input.toDF(), uni, c2).writeStream
      .format("memory").queryName("lm_out").outputMode("update").start()
    try {
      val half = corpus.length / 2
      input.addData(corpus.take(half)); q.processAllAvailable()
      input.addData(corpus.drop(half)); q.processAllAvailable()
      val got = spark.table("lm_out").collect().zipWithIndex
        .map { case (r, i) => r.getLong(0) -> (i, r.getLong(1), r.getDouble(2)) }
        .groupBy(_._1).view.mapValues(v => { val m = v.maxBy(_._2._1)._2; (m._2, m._3) })
        .toMap
      val expected = TextOps.qLmScore(spark, sfDir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == expected && got.nonEmpty)
    } finally q.stop()
  }

  test("F8 streaming PII curation equals the batch pipeline across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchIn = graft.operators.TextOps.piiInput(
      Tables.documents(spark, sfDir)).collect()
      .map(r => PiiDoc(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[PiiDoc]
    val q = graft.operators.TextOps.piiOn(input.toDF()).writeStream
      .format("memory").queryName("pii_out").outputMode("append").start()
    try {
      val half = batchIn.length / 2
      input.addData(batchIn.take(half)); q.processAllAvailable()
      input.addData(batchIn.drop(half)); q.processAllAvailable()
      val got = spark.table("pii_out").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
      val expected = graft.operators.TextOps.qPii(spark, sfDir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
      assert(got.size == expected.size && got == expected)
    } finally q.stop()
  }

  test("F11 streaming Bloom decontam flags the batch q_bloom gram set across batches") {
    import spark.implicits._
    import graft.operators.TextOps
    implicit val sqlCtx = spark.sqlContext
    // bitmask built batch-side from the eval slice, exactly as C18 does
    val evGrams = TextOps.shingleGramsOn(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")), n = 4)
      .filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
    val bitmask = TextOps.bloomBitmaskOf(evGrams)
    val corpus = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => TDoc(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TDoc]
    val q = EventStreams.bloomDecontamStream(input.toDF(), bitmask).writeStream
      .format("memory").queryName("b_out").outputMode("append").start()
    try {
      val half = corpus.length / 2
      input.addData(corpus.take(half)); q.processAllAvailable()
      input.addData(corpus.drop(half)); q.processAllAvailable()
      val got = spark.table("b_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // twin assertion: stream == the same expressions applied in batch
      val batchSet = EventStreams.bloomDecontamStream(
          Tables.documents(spark, sfDir).filter(col("doc_id") % 97 =!= 0)
            .select(col("doc_id"), col("text")), bitmask)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got.nonEmpty)
      assert(got == batchSet)
      // cross-link to the ORACLED q_bloom (hash-gated against DuckDB):
      // per-doc flagged counts agree wherever the corpus has a single
      // row per doc_id (q_bloom counts per gram ROW, so the corpus's
      // degenerate duplicate doc_ids double-count there by design)
      val dupDocs = Tables.documents(spark, sfDir).groupBy(col("doc_id"))
        .count().filter(col("count") > 1)
        .collect().map(_.getLong(0)).toSet
      val gotPerDoc = got.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        .filter { case (d, _) => !dupDocs(d) }
      val expected = TextOps.qBloom(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .filter { case (d, _) => !dupDocs(d) }.toMap
      assert(expected.nonEmpty)
      assert(gotPerDoc == expected)
    } finally q.stop()
  }

  test("F12 streaming Gopher quality gate equals the oracled batch flags across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .collect().map(r => TDoc(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TDoc]
    val q = graft.operators.TextOps.gopherOn(input.toDF()).writeStream
      .format("memory").queryName("g_out").outputMode("append").start()
    try {
      val half = docs.length / 2
      input.addData(docs.take(half)); q.processAllAvailable()
      input.addData(docs.drop(half)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))
      val got = spark.table("g_out").collect().map(key).sorted.toSeq
      val expected = graft.operators.TextOps.qGopher(spark, sfDir).collect().map(key).sorted.toSeq
      assert(expected.nonEmpty && got == expected)
    } finally q.stop()
  }

  test("F13 streaming chunker equals the oracled batch chunks across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .collect().map(r => TDoc(r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[TDoc]
    val q = graft.operators.TextOps.chunksOn(input.toDF()).writeStream
      .format("memory").queryName("c_out").outputMode("append").start()
    try {
      val half = docs.length / 2
      input.addData(docs.take(half)); q.processAllAvailable()
      input.addData(docs.drop(half)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val got = spark.table("c_out").collect().map(key).sorted.toSeq
      val expected = graft.operators.TextOps.qChunks(spark, sfDir).collect().map(key).sorted.toSeq
      assert(expected.nonEmpty && got == expected)
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered events across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val deduped = EventStreams.dedupStream(
      input.toDF().withColumn("ts", timestamp_micros(col("ts"))), Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("d_out")
      .outputMode("append").start()
    try {
      val evs = eventRows.take(300)
      input.addData(evs); q.processAllAvailable()
      input.addData(evs.take(150)); q.processAllAvailable() // exact re-delivery
      val got = spark.table("d_out").count()
      assert(got == 300, s"expected 300 unique events, got $got")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[REv]
    val joined = EventStreams.incidentJoinStream(
      input.toDF().withColumn("ts", timestamp_micros(col("ts"))))
    val q = joined.writeStream.format("memory").queryName("j_out")
      .outputMode("append").start()
    try {
      val evs = Tables.events(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts"),
                col("event_id"), col("event_type"), col("value"))
        .collect()
        .map(r => REv(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
        .sortBy(e => (e.ts, e.event_id)).toSeq
      val (h1, h2) = evs.splitAt(evs.length / 2)
      input.addData(h1); q.processAllAvailable()
      input.addData(h2); q.processAllAvailable()
      val got = spark.table("j_out")
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100)))
        .toMap
      val expected = graft.operators.Relational.qRangeJoin(spark, sfDir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), math.round(r.getDouble(2) * 100)))
        .toMap
      assert(got.size == expected.size)
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming as-of join equals the batch as-of across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.AsOfIn]
    val q = EventStreams.asOfStream(input.toDS()).writeStream
      .format("memory").queryName("a_out").outputMode("update").start()
    try {
      val orders = Tables.orders(spark, sfDir)
        .select(col("o_custkey"),
                unix_micros(col("o_orderdate").cast("timestamp")).as("ts"),
                col("o_orderkey"), col("o_totalprice"))
        .collect()
        .map(r => EventStreams.AsOfIn(r.getLong(0), r.getLong(1), 0, -1L,
                                      r.getLong(2), r.getDouble(3)))
      val events = Tables.events(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("event_id"))
        .collect()
        .map(r => EventStreams.AsOfIn(r.getLong(0), r.getLong(1), 1, r.getLong(2), -1L, 0.0))
      val all = (orders ++ events).sortBy(r => (r.ts, r.tag, r.event_id, r.o_orderkey)).toSeq
      val third = all.length / 3
      input.addData(all.take(third)); q.processAllAvailable()
      input.addData(all.slice(third, 2 * third)); q.processAllAvailable()
      input.addData(all.drop(2 * third)); q.processAllAvailable()
      def rows(rs: Array[org.apache.spark.sql.Row]) = rs.map { r =>
        (r.getLong(0), r.getLong(1),
         if (r.isNullAt(2)) None else Some(r.getLong(2)),
         if (r.isNullAt(3)) None else Some(math.round(r.getDouble(3) * 100)))
      }.sortBy(t => (t._1, t._2)).toSeq
      val got = rows(spark.table("a_out").collect())
      val expected = rows(graft.operators.Relational.qAsOf(spark, sfDir).collect())
      assert(expected.nonEmpty)
      assert(got == expected)
    } finally q.stop()
  }

  private def unix_micros_of(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000

  test("F52 maxBucketSize cap quarantines hot buckets with bounded pair fan-out") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 12 identical texts: every doc lands in the SAME bucket in all 4
    // bands — the degenerate hot bucket the cap exists for
    val clones = (0L until 12L).map(i =>
      EventStreams.LshDoc(i, "alpha beta gamma delta epsilon zeta eta theta"))
    val cap = 3
    val input = MemoryStream[EventStreams.LshDoc]
    val q = EventStreams.lshPairsStream(input.toDS(), maxBucketSize = Some(cap))
      .writeStream.format("memory").queryName("lsh_cap_out")
      .outputMode("update").start()
    try {
      input.addData(clones.take(6)); q.processAllAvailable()
      input.addData(clones.drop(6)); q.processAllAvailable()
      val cands = spark.table("lsh_cap_out").as[EventStreams.LshCand].collect()
      // each band's bucket admitted only the first `cap` members: pair
      // volume per band is C(cap, 2), docs beyond the cap emit nothing
      assert(cands.groupBy(_.band).forall(_._2.length == cap * (cap - 1) / 2))
      assert(cands.map(c => (c.a_id, c.b_id)).toSet ==
        Set((0L, 1L), (0L, 2L), (1L, 2L)))
    } finally q.stop()
  }

  test("F52 streaming LSH pairs equal batch qLshPairs under adversarial order and replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => EventStreams.LshDoc(r.getLong(0), r.getString(1)))
      .toSeq

    def streamCands(feed: Seq[Seq[EventStreams.LshDoc]], name: String): Set[(Long, Long)] = {
      val input = MemoryStream[EventStreams.LshDoc]
      val q = EventStreams.lshPairsStream(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        feed.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(name).as[EventStreams.LshCand].collect()
          .map(c => (c.a_id, c.b_id)).toSet
      } finally q.stop()
    }

    // adversarial: reverse-id order, uneven splits, a replayed slice
    val rev = docs.sortBy(-_.doc_id)
    val a = streamCands(Seq(rev.take(7), rev.slice(7, 11),
      rev.drop(11) ++ rev.take(5)), "lsh_rev")
    // canonical id order, different split
    val fwd = docs.sortBy(_.doc_id)
    val b = streamCands(Seq(fwd.take(fwd.length / 2),
      fwd.drop(fwd.length / 2)), "lsh_fwd")
    // order independence: the candidate SET is a function of the arrival set
    assert(a == b)
    assert(a.nonEmpty)

    // confirmed pairs through the shared verifier equal the batch C6 query
    val confirmed = graft.operators.TextOps.lshStreamConfirm(
        spark, sfDir, a.toSeq.toDF("a_id", "b_id"), Long.MaxValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 10000)))
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = graft.operators.TextOps.qLshPairs(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 10000)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(batch.nonEmpty)
    assert(confirmed == batch)
  }
}
