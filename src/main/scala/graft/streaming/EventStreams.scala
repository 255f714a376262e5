package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}

/** Structured Streaming operators over the events stream
  * (SURVEY.md §2 F1/F2) — the batch twins are Relational.qTumbling
  * (B11) and Relational.qSessionize (B10); StreamingSpec asserts
  * stream == batch on the same data.
  *
  * Scale posture: state is keyed by (window, type) / user_id — Spark
  * shards it across executors by key hash; watermarks bound state size
  * in production append mode.
  */
object EventStreams {

  /** F1: tumbling 1-hour aggregate. Works identically on a batch or
    * streaming DataFrame (`window(...)` ≡ B11's date_trunc bucketing).
    */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Production streaming form: watermark bounds state for append mode. */
  def tumblingStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    tumblingAgg(events.withWatermark("ts", watermark))

  /** F3: streaming exact dedup — drop re-deliveries of the same id
    * within the watermark horizon (state holds only ids inside the
    * horizon, so it is bounded; the batch twin is TextOps.qExactDedup's
    * hash-keyed dedup).
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates(idCols ++ Seq("ts"))

  /** F4: stream-stream interval join — every error event opens a 1-hour
    * incident window; subsequent events of the same user inside the
    * window join to it (streaming twin of Relational.qRangeJoin, B12).
    * Both sides carry watermarks and the join condition bounds event
    * time on both ends, so Spark derives finite state-eviction horizons:
    * an incident is dropped from state once the watermark passes
    * i_ts + 1 hour — state is O(open windows), not O(stream).
    */
  def incidentJoinStream(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val pts = events.withWatermark("ts", watermark)
    val inc = events
      .filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("user_id").as("i_user"),
              col("ts").as("i_ts"))
      .withWatermark("i_ts", watermark)
    pts.join(inc, expr(
        "user_id = i_user AND ts >= i_ts AND ts < i_ts + INTERVAL 1 HOUR"))
      .select(col("incident_id"), col("event_id"), col("user_id"), col("ts"), col("value"))
  }

  /** F5 input: orders (tag=0, state updates) and events (tag=1, probes)
    * merged into one keyed stream; `ts` in epoch micros.
    */
  final case class AsOfIn(user_id: Long, ts: Long, tag: Int, event_id: Long,
                          o_orderkey: Long, o_totalprice: Double)

  final case class AsOfOut(event_id: Long, user_id: Long,
                           o_orderkey: Option[Long], o_totalprice: Option[Double])

  /** The as-of state is ONE tuple per user: the best (latest orderdate,
    * then highest orderkey) order seen so far — O(1) state, the
    * streaming analogue of the batch dedup-then-carry-forward
    * (Windowed.asOfJoin / Relational.qAsOf).
    */
  final case class LatestOrder(ts: Long, orderkey: Long, totalprice: Double)

  /** F5: streaming as-of join — each event is enriched with the most
    * recent order (orderdate <= event ts, dedup to the highest orderkey
    * per date) of the same user. Orders sort before events at equal ts
    * (tag 0 < 1) because the as-of condition is inclusive. Requires
    * per-user event-time order across batches, like the sessionizer.
    */
  def asOfStream(in: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[AsOfIn], state: GroupState[LatestOrder]) => {
          val sorted = batch.toArray.sortBy(r => (r.ts, r.tag, r.event_id, r.o_orderkey))
          var latest = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfOut]
          sorted.foreach { r =>
            if (r.tag == 0) {
              if (latest == null || r.ts > latest.ts ||
                  (r.ts == latest.ts && r.o_orderkey > latest.orderkey))
                latest = LatestOrder(r.ts, r.o_orderkey, r.o_totalprice)
            } else {
              out += (if (latest == null) AsOfOut(r.event_id, uid, None, None)
                      else AsOfOut(r.event_id, uid, Some(latest.orderkey),
                                   Some(latest.totalprice)))
            }
          }
          if (latest != null) state.update(latest)
          out.iterator
        })
  }

  /** Event for the sessionizer: `ts` in epoch micros. */
  final case class Ev(user_id: Long, ts: Long, event_id: Long, value: Double)

  final case class SessionOut(
      user_id: Long,
      session_seq: Long,
      n_events: Long,
      session_start: Long, // epoch micros
      duration_us: Long,
      sum_value: Double)

  /** Carry-over state: the open session's AGGREGATE only — every emitted
    * field (count, sum, first/last ts) is associative, so state is O(1)
    * per user regardless of session length (buffering the raw events
    * would grow state/checkpoints without bound on chatty users).
    */
  final case class OpenSession(
      seq: Long, firstTs: Long, lastTs: Long, n: Long, sum: Double)

  /** F2: session windows (30-minute inactivity gap) via
    * flatMapGroupsWithState in Update mode. Closed sessions are final on
    * first emission; the open session is re-emitted (same session_seq)
    * whenever new events extend it — readers keep the last row per
    * (user_id, session_seq). Requires per-user event-time order across
    * batches (guaranteed under a watermark-disciplined source).
    */
  def sessionize(events: Dataset[Ev], gapUs: Long = 1800L * 1000000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[Ev], state: GroupState[OpenSession]) => {
          val sorted = batch.toArray.sortBy(e => (e.ts, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            var open = state.getOption.orNull
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            def emit(s: OpenSession): Unit =
              out += SessionOut(uid, s.seq, s.n, s.firstTs, s.lastTs - s.firstTs, s.sum)
            sorted.foreach { e =>
              if (open != null && e.ts - open.lastTs <= gapUs)
                open = open.copy(lastTs = e.ts, n = open.n + 1, sum = open.sum + e.value)
              else {
                val nextSeq = if (open == null) 1L else { emit(open); open.seq + 1 }
                open = OpenSession(nextSeq, e.ts, e.ts, 1L, e.value)
              }
            }
            emit(open) // the still-open session; re-emitted on later updates
            state.update(open)
            out.iterator
          }
        })
  }

  /** F22 (shared batch/stream form): sessionization via the BUILT-IN
    * `session_window` aggregate — the production state-store path
    * (merging session state, watermark finalization, Append-mode
    * exactly-once emission) as opposed to F2's explicit
    * flatMapGroupsWithState machine. Semantics note vs B10/F2:
    * `session_window` merges events STRICTLY closer than the gap
    * (B10's inactivity rule is inclusive ≤) and the window end is
    * last-event + gap, so its twin contract is the SAME aggregate run
    * in batch mode — what streaming adds is the state machinery, and
    * that is what the spec pins. State is O(open sessions); a session
    * is emitted exactly once, when the watermark proves it can no
    * longer grow.
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w").getField("start").as("session_start"),
              col("w").getField("end").as("session_end"),
              col("n_events"), col("sum_value"))

  /** F22: the streaming form — watermark bounds session state and
    * finalizes sessions for Append mode.
    */
  def sessionWindowStream(events: DataFrame, gap: String = "30 minutes",
                          watermark: String = "1 hour"): DataFrame =
    sessionWindowAgg(events.withWatermark("ts", watermark), gap)

  /** F7 output: one row per (user, rank) — the user's current top-N
    * events by value. Update-mode changelog: re-emitted whenever the
    * user's top set changes; readers keep the last row per (user, rn).
    */
  final case class TopNOut(user_id: Long, rn: Int, event_id: Long, value: Double)

  /** F7: streaming per-key top-N (batch twin B5 topNPerKey): each
    * user's N largest events by (value desc, event_id asc), maintained
    * incrementally via flatMapGroupsWithState. State is the BOUNDED
    * top-N array per user — O(N) per key regardless of stream length,
    * the streaming analogue of B5's "never a global sort" posture; a
    * batch that does not change a user's top set emits nothing.
    */
  def topNStream(events: Dataset[Ev], n: Int = 3): Dataset[TopNOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[Ev], state: GroupState[Array[TopNOut]]) => {
          val prev = state.getOption.getOrElse(Array.empty[TopNOut])
          // merge: previous top-N + new events, keep the N best
          val merged = (prev.map(t => (t.value, t.event_id)) ++
              batch.map(e => (e.value, e.event_id)))
            .distinct
            .sortBy { case (v, id) => (-v, id) }
            .take(n)
          val next = merged.zipWithIndex.map { case ((v, id), i) =>
            TopNOut(uid, i + 1, id, v)
          }
          if (next.sameElements(prev)) Iterator.empty
          else { state.update(next); next.iterator }
        })
  }

  /** F9: streaming vocabulary counts — the C23 primitive as a stateful
    * streaming aggregate: per-term running (df is approximated by tf
    * here; exact streaming df needs per-(term, doc) dedup state) in
    * Update mode. Built-in `groupBy(term).count()` — Spark shards the
    * count state by term hash; no custom state management needed.
    * Readers keep the last row per term.
    */
  def vocabStream(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"))
      .count()

  /** F10 input/state/output: first-occurrence timestamps per funnel
    * stage — O(1) state per user (three longs, Long.MaxValue = unseen).
    */
  final case class FEv(user_id: Long, ts: Long, event_type: String)
  final case class FunnelTs(tv: Long, tc: Long, tp: Long)
  final case class FunnelOut(user_id: Long, stage: Int)

  /** F10: streaming conversion funnel (batch twin B50): tracks each
    * user's FIRST view/click/purchase timestamps and emits the current
    * funnel depth (0–3, click counts only after a view, purchase only
    * after a qualifying click — the B50 ordering rule) whenever it
    * changes. Update-mode changelog; readers keep the last row per
    * user. State never grows with event volume.
    */
  def funnelStream(in: Dataset[FEv]): Dataset[FunnelOut] = {
    import in.sparkSession.implicits._
    val U = Long.MaxValue
    def depth(t: FunnelTs): Int =
      if (t.tv == U) 0
      else if (t.tc == U || t.tc <= t.tv) 1
      else if (t.tp == U || t.tp <= t.tc) 2
      else 3
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[FEv], state: GroupState[FunnelTs]) => {
          val prev = state.getOption.getOrElse(FunnelTs(U, U, U))
          val next = batch.foldLeft(prev) { (t, e) =>
            e.event_type match {
              case "view"     => t.copy(tv = math.min(t.tv, e.ts))
              case "click"    => t.copy(tc = math.min(t.tc, e.ts))
              case "purchase" => t.copy(tp = math.min(t.tp, e.ts))
              case _          => t
            }
          }
          if (next == prev && state.exists) Iterator.empty
          else { state.update(next); Iterator.single(FunnelOut(uid, depth(next))) }
        })
  }

  /** F11: streaming Bloom decontamination (batch twin C18 qBloom) —
    * the newest-data decontam shape: the eval-set Bloom bitmask is
    * built ONCE batch-side (TextOps.bloomBitmaskOf) and the C18
    * expressions attach UNCHANGED to the unbounded document stream:
    * pure-SQL shingling, per-gram membership test against the literal
    * bitmask. COMPLETELY STATELESS — no join, no aggregate, no state
    * store; append mode, one output row per flagged (doc, gram). At
    * 100 TB/day this is the cheapest possible streaming screen: the
    * corpus never shuffles, the filter rides in the task binary.
    */
  def bloomDecontamStream(docs: DataFrame, bitmask: String, n: Int = 4,
                          m: Int = 16384, k: Int = 2): DataFrame = {
    import graft.operators.TextOps
    TextOps.shingleGramsOn(docs, n)
      .filter(TextOps.bloomMaybeHit(col("g"), bitmask, m, k))
      .select(col("doc_id"), col("g"))
  }

  /** F6 input: a vector upsert — `ts` is the version (epoch micros). */
  final case class VecUpsert(vec_id: Long, v: Array[Double], ts: Long)

  /** F6 output: the index changelog — the vector's (possibly re-)
    * assigned IVF cell at its newest accepted version.
    */
  final case class CellAssign(vec_id: Long, cell: Int, ts: Long)

  /** F6 state: O(1) per vec_id — version + cell, never the vector. */
  final case class VecVersion(ts: Long, cell: Int)

  /** The replay-safe keyed fold: the one `flatMapGroupsWithState` body
    * of every per-key online operator below that keeps a high-water
    * mark. The operator gives its key, its mark (the arrival's position
    * in the source's per-key order), its initial state and its
    * per-arrival `step`, which returns the next state and at most one
    * row; an operator that reports from the final state also gives
    * `perBatch`, one row per batch that folded anything. This owns the
    * rest, once ([[foldBatch]] is the per-batch rule):
    *
    *  - each micro-batch is stably sorted by the mark;
    *  - an arrival folds only if its mark is greater than the greatest
    *    mark folded so far for its key, counting arrivals earlier in
    *    the same batch — a redelivery (an at-least-once replay of an
    *    earlier batch, or a retry inside this one) is dropped, and of
    *    two copies in one batch the first folds;
    *  - the rows are drained before the state is updated;
    *  - a batch that folds nothing leaves the state alone and emits
    *    nothing.
    *
    * The mark is kept beside the operator's state, so that state holds
    * only what its step reads. Across batches the source contract is
    * per-key monotone: a key's new arrivals carry greater marks than
    * any it delivered before, so the emitted rows equal one sequential
    * fold over the distinct arrivals in mark order, however the stream
    * is cut into batches. Update mode, no timeout.
    */
  def replayFold[V, K, M, S, O](in: Dataset[V])(key: V => K, mark: V => M, init: S)(
      step: (S, V) => (S, Option[O]),
      perBatch: (K, S) => Option[O] = (_: K, _: S) => None)(
      implicit ord: Ordering[M], kEnc: Encoder[K], sEnc: Encoder[(M, S)],
      oEnc: Encoder[O]): Dataset[O] =
    in.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (k: K, batch: Iterator[V], state: GroupState[(M, S)]) =>
          foldBatch(state.getOption, batch, mark, init, step) match {
            case Some((next, rows)) =>
              state.update(next)
              (rows ++ perBatch(k, next._2)).iterator
            case None => Iterator.empty
          })

  /** One micro-batch of [[replayFold]] for one key, without Spark:
    * `prev` is the stored (mark, state). Returns the next (mark, state)
    * and the rows in fold order, or None when no arrival folds.
    */
  def foldBatch[V, M, S, O](prev: Option[(M, S)], batch: Iterator[V], mark: V => M,
                            init: S, step: (S, V) => (S, Option[O]))(
      implicit ord: Ordering[M]): Option[((M, S), Vector[O])] = {
    // each mark computed once; the sort is stable, so of two copies of
    // one arrival the first folds
    val arrivals = batch.map(v => (mark(v), v)).toArray.sortBy(_._1)
    var cur = prev
    var folded = false
    val rows = Vector.newBuilder[O]
    var i = 0
    while (i < arrivals.length) {
      val (m, v) = arrivals(i)
      if (cur.isEmpty || ord.gt(m, cur.get._1)) {
        val (st, row) = step(if (cur.isEmpty) init else cur.get._2, v)
        cur = Some((m, st)); folded = true
        if (row.isDefined) rows += row.get
      }
      i += 1
    }
    if (folded) Some((cur.get, rows.result())) else None
  }

  /** F15 input: one keyed value in arrival-order position `event_id`. */
  final case class KeyedVal(user_id: Long, event_id: Long, v: Long)

  /** F15 output: the running per-key prefix sum at this event. */
  final case class RunningOut(user_id: Long, event_id: Long, v: Long, running: Long)

  /** F15: streaming per-key RUNNING sums — the stream twin of the B59/
    * B60 running aggregate: exact Long prefix sums keyed by user, O(1)
    * state per key (the total), Update-mode one-row-per-event
    * changelog; the mark is `event_id`. Across batches that respect
    * per-key order the emitted rows equal the batch window exactly.
    * Skew posture: state shards by key hash and per-event work is O(1),
    * so a hot key costs its row count spread over arrivals — there is
    * no per-key sort task at all (the stream beats BOTH batch layouts
    * by doing the scan incrementally).
    */
  def runningSumStream(in: Dataset[KeyedVal]): Dataset[RunningOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.user_id, _.event_id, 0L) { (total, e) =>
      (total + e.v, Some(RunningOut(e.user_id, e.event_id, e.v, total + e.v)))
    }
  }

  /** F17 output: one summary entry of shard `shard` at version `ver`. */
  final case class MgOut(shard: Int, ver: Long, key: Long, est: Long)

  /** F17 state: the shard's MG summary (≤k counters) + emission version. */
  final case class MgState(ver: Long, keys: Array[Long], counts: Array[Long])

  /** F17: streaming heavy hitters — the B62 Misra–Gries summary
    * maintained incrementally with the SAME kernel
    * ([[graft.functions.expressions.MisraGries.add]]): the key space
    * shards by hash (so no shard is a hot spot and state stays ≤ k
    * counters per shard), each arrival applies one O(1) amortized MG
    * step, and every batch re-emits the shard's current summary under
    * a bumped version (Update-mode changelog; readers take the max
    * version per shard and union shards — key spaces are disjoint, so
    * the union IS the global summary, ≤ shards·k counters). The B62
    * contract carries over per shard with N_s ≤ N:
    * true − N/(k+1) ≤ est ≤ true, presence above N/(k+1) — proved in
    * StreamingSpec across arbitrary batch splits of the Zipf fixture.
    */
  def heavyHittersStream(
      in: Dataset[KeyedVal], k: Int = 8, shards: Int = 4): Dataset[MgOut] = {
    import in.sparkSession.implicits._
    import graft.functions.expressions.MisraGries
    in.groupByKey(e => math.floorMod(e.user_id, shards.toLong).toInt)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (shard: Int, batch: Iterator[KeyedVal], state: GroupState[MgState]) => {
          val prev = state.getOption.getOrElse(
            MgState(0L, Array.empty[Long], Array.empty[Long]))
          var cur = scala.collection.mutable.LongMap.empty[Long]
          var i = 0
          while (i < prev.keys.length) { cur(prev.keys(i)) = prev.counts(i); i += 1 }
          batch.foreach(e => cur = MisraGries.add(cur, e.user_id, k))
          val ver = prev.ver + 1
          val keys = cur.keys.toArray
          java.util.Arrays.sort(keys)
          state.update(MgState(ver, keys, keys.map(cur.apply)))
          keys.iterator.map(kk => MgOut(shard, ver, kk, cur(kk)))
        })
  }

  final case class UpsertEv(user_id: Long, ts_us: Long, event_id: Long,
                            event_type: String, value: Double)
  final case class UpsertOut(user_id: Long, ts_us: Long, last_event_id: Long,
                             last_type: String, last_value: Double, n_versions: Long)

  /** F25: streaming changelog compaction (batch twin B82) — "latest
    * state per key" as O(1) flatMapGroupsWithState state: (highest
    * version seen, its payload, version count). The version order is
    * the SAME lexicographic (event-time, event_id) the batch query's
    * struct max_by key uses — exact at any time span or id domain
    * (r9 de-packed both sides together: a packed scalar key overflowed
    * past ~107-day spans and bled ties at event_id ≥ 10⁶) — so stream
    * and batch pick the identical winner under ANY arrival order; a
    * replay of the current winner (both fields equal) is dropped
    * outright — the F15 replay contract. Arrivals below the mark keep
    * the payload and count as superseded deliveries (first-delivery
    * semantics: an exactly-once n_versions is the source's delivery
    * contract, the winner needs none). Update-mode changelog: one row
    * per key per batch that touched it; latest-per-key IS the
    * compacted snapshot.
    */
  def upsertCompactStream(in: Dataset[UpsertEv]): Dataset[UpsertOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[UpsertEv], state: GroupState[UpsertOut]) => {
          var cur = state.getOption.getOrElse(
            UpsertOut(uid, Long.MinValue, Long.MinValue, "", 0.0, 0L))
          var touched = false
          batch.foreach { e =>
            val cmp =
              if (e.ts_us != cur.ts_us) java.lang.Long.compare(e.ts_us, cur.ts_us)
              else java.lang.Long.compare(e.event_id, cur.last_event_id)
            if (cmp > 0) {
              cur = UpsertOut(uid, e.ts_us, e.event_id, e.event_type, e.value,
                              cur.n_versions + 1)
              touched = true
            } else if (cmp < 0) {
              // older version: counts as a superseded row, keeps payload
              cur = cur.copy(n_versions = cur.n_versions + 1)
              touched = true
            } // cmp == 0: replay of the current winner — dropped
          }
          if (touched) { state.update(cur); Iterator.single(cur) }
          else Iterator.empty
        })
  }

  final case class KmvArrival(grp: String, value: Long)
  final case class KmvState(ver: Long, hashes: Array[Long], values: Array[Long])
  /** hs/vs carry the sketch itself (F48): shipping the O(k) min-k set
    * in the changelog is exactly what a production combiner consumes —
    * partial sketches union across executors/streams. */
  final case class KmvOut(grp: String, ver: Long, n_kept: Int, kth: Long,
                          est: Long, hs: Array[Long], vs: Array[Long])

  /** F48 merge kernel: union two min-k (hash, value) sets and re-take
    * the k smallest — the KMV MERGE operation. The identity that makes
    * the sketch mergeable (and therefore 100 TB-viable): min-k(A ∪ B)
    * = min-k(min-k(A) ∪ min-k(B)), because any element of min-k(A∪B)
    * is within the k smallest of its own side. So merged partial
    * sketches equal the sketch of the concatenated stream EXACTLY —
    * not approximately — which the F48 spec asserts set-for-set.
    */
  def kmvMerge(aH: Array[Long], aV: Array[Long], bH: Array[Long],
               bV: Array[Long], k: Int): (Array[Long], Array[Long]) = {
    val set = scala.collection.mutable.TreeSet.empty[(Long, Long)]
    var i = 0
    while (i < aH.length) { set += ((aH(i), aV(i))); i += 1 }
    i = 0
    while (i < bH.length) { set += ((bH(i), bV(i))); i += 1 }
    val arr = set.toArray.take(k)
    (arr.map(_._1), arr.map(_._2))
  }

  /** F48 estimate off a merged sketch — the B77/F24 formula verbatim. */
  def kmvEstimate(hs: Array[Long], k: Int): Long =
    if (hs.length < k) hs.length.toLong
    else (k - 1).toLong * (1L << 52) / hs.last

  /** F24: streaming KMV distinct-count sketch (batch twin B77) — the
    * min-k set is the textbook MERGEABLE sketch state: per group keep
    * the k smallest (52-bit md5 hash, value) pairs (the value rides
    * along only to dedup re-deliveries and disambiguate the
    * astronomically-unlikely 52-bit collision, exactly as the batch
    * window orders by (hv, value)); each arrival is one binary-search
    * + bounded insert, state is O(k) per group FOREVER, and the
    * estimate (k−1)·2⁵² div h₍k₎ — or the exact kept count while the
    * set is under k — is the batch formula verbatim. Update-mode
    * changelog re-emits the group's sketch each batch under a bumped
    * version; latest-per-group equals the batch B77 estimate in ANY
    * arrival order (set union is commutative).
    */
  def kmvStream(in: Dataset[KmvArrival], k: Int = 64): Dataset[KmvOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.grp)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (grp: String, batch: Iterator[KmvArrival], state: GroupState[KmvState]) => {
          val prev = state.getOption.getOrElse(
            KmvState(0L, Array.empty[Long], Array.empty[Long]))
          // (hash, value) pairs ordered by (hash, value); TreeSet keeps
          // the min-k property under inserts in O(log k)
          val set = scala.collection.mutable.TreeSet.empty[(Long, Long)]
          var i = 0
          while (i < prev.hashes.length) {
            set += ((prev.hashes(i), prev.values(i))); i += 1
          }
          val md = java.security.MessageDigest.getInstance("MD5")
          batch.foreach { a =>
            val h = graft.functions.TextKernels.md5Prefix52(md, s"kmv|${a.value}")
            set += ((h, a.value))
            if (set.size > k) set -= set.last
          }
          val arr = set.toArray
          val ver = prev.ver + 1
          state.update(KmvState(ver, arr.map(_._1), arr.map(_._2)))
          val est =
            if (arr.length < k) arr.length.toLong
            else (k - 1).toLong * (1L << 52) / arr.last._1
          Iterator.single(KmvOut(grp, ver, arr.length,
            if (arr.isEmpty) 0L else arr.last._1, est,
            arr.map(_._1), arr.map(_._2)))
        })
  }

  /** F19: streaming canonicalizing dedup (batch twin C36) — first-seen
    * per canonical content hash (the C36 normalization expression
    * attached unchanged) via dropDuplicates: state is one key per
    * distinct canonical form (bound it with a TTL column in
    * production, as F3 does with its watermark). Under id-ordered
    * arrivals the kept set equals C36's min-id keepers exactly.
    */
  def canonDedupStream(docs: DataFrame): DataFrame =
    docs.withColumn("h", md5(graft.operators.TextOps.canonicalText(col("text"))))
      .dropDuplicates("h")
      .select(col("doc_id"), col("h"))

  /** F20: streaming corpus segment-dedup stats (batch twin C37) — the
    * per-segment (occurrence count, first-instance key) pair that
    * drives the line-dedup keeper rule, maintained incrementally on an
    * unbounded ingest stream: segmentation is the SAME stateless
    * codegen expression as batch (TextOps.segmentsOn), and the stats
    * are ONE built-in Update-mode aggregate whose state is O(1) per
    * distinct segment (a count and a (doc_id, seg_idx) struct min —
    * no lists, no buffers). A segment instance is a keeper iff its
    * (doc_id, seg_idx) equals the emitted kinst, so the C37 decision
    * is answerable at any stream position and equals the batch rule on
    * the data seen so far.
    */
  def segmentStatsStream(docs: DataFrame): DataFrame =
    graft.operators.TextOps.segmentStatsOn(
      graft.operators.TextOps.segmentsOn(docs))

  /** F18 intermediate: one corpus doc with its stateless flags. */
  final case class CurDoc(
      h: String, doc_id: Long, keep_quality: Int, contaminated: Int, split: String)

  /** F18 output: the C31 curation verdict for one streamed document. */
  final case class CurOut(
      doc_id: Long, is_keeper: Int, keep_quality: Int, contaminated: Int,
      split: String, selected: Int)

  /** F18: the STREAMING end-to-end curation pipeline — the C31
    * composition (dedup keeper ∧ Gopher quality ∧ eval decontamination
    * ∧ split) attached to an unbounded document stream. Everything but
    * the keeper bit is stateless codegen: the Gopher verdict
    * (TextOps.gopherKeepCol — the same Column C31 multiplies in), the
    * contamination bit as arrays_overlap of the doc's distinct 4-grams
    * against the eval gram set (spec-scale exact form; at 100 TB the
    * F11 Bloom bitmask pre-screens and the C17 broadcast semi-join
    * confirms), and the C30 hash-range split. The keeper bit is the F3
    * dedup idiom: state = lowest doc_id seen per content hash, arrivals
    * in id order (monotone-source contract) make first-seen == the
    * batch MIN, so the Append-mode verdicts equal qCorpusPipeline
    * exactly. State is O(1) per distinct content hash.
    */
  def curationStream(docs: DataFrame, evalGrams: Seq[String]): Dataset[CurOut] = {
    import docs.sparkSession.implicits._
    import graft.functions.{TextFunctions => TF}
    val words = split(col("text"), " ", -1)
    val idxs = when(size(words) >= 4, sequence(lit(0), size(words) - 4))
      .otherwise(array().cast("array<int>"))
    val grams = array_distinct(transform(idxs, i =>
      concat_ws(" ", slice(words, i + 1, lit(4)))))
    val hspl = TF.hexPrefix52(concat(lit("split|"), col("doc_id"))) % 100
    val enriched = docs.filter(col("doc_id") % 97 =!= 0).select(
      md5(col("text")).as("h"), col("doc_id"),
      graft.operators.TextOps.gopherKeepCol.as("keep_quality"),
      arrays_overlap(grams, typedLit(evalGrams)).cast("int").as("contaminated"),
      when(hspl < 90, "train").when(hspl < 95, "val").otherwise("test").as("split")
    ).as[CurDoc]
    enriched.groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (_: String, batch: Iterator[CurDoc], state: GroupState[Long]) => {
          var keeper = state.getOption.getOrElse(Long.MaxValue)
          val out = batch.toArray.sortBy(_.doc_id).map { d =>
            val isK = if (d.doc_id < keeper) { keeper = d.doc_id; 1 } else 0
            CurOut(d.doc_id, isK, d.keep_quality, d.contaminated, d.split,
              isK * d.keep_quality * (1 - d.contaminated) *
                (if (d.split == "train") 1 else 0))
          }
          if (keeper != Long.MaxValue) state.update(keeper)
          out.iterator
        })
  }

  /** F14 input: a vector arriving on the embedding stream. */
  final case class VecArrival(vec_id: Long, v: Array[Double])

  /** F14 output: an Update-mode dup-mark changelog row — the newest
    * (dup_of, cosine) assignment for `vec_id`; the latest row per
    * vec_id IS the batch SemDeDup verdict over everything seen so far.
    */
  final case class DupMark(vec_id: Long, cell: Long, dup_of: Long, cosine: Double)

  /** F14 state: one CELL's arrivals (ids ascending, vectors parallel)
    * plus the dup_of each already-emitted id last reported — bounded by
    * the SemDeDup sizing rule itself (cells hold ~targetCellSize
    * vectors by construction of `semCellsFor`).
    */
  final case class SemCellState(
      ids: Array[Long],
      vecs: Array[Array[Double]],
      emitted: Map[Long, Long])

  /** F14: streaming SemDeDup — incremental within-cell duplicate
    * marking with the IDENTICAL quantizer and pair rule as the batch
    * D9 query: arrivals are keyed by their coarse cell
    * (`Similarity.semCentroids` + the `ivfCell` argmax rule), each
    * cell's state replays `Similarity.cellDupScan` over its vectors
    * (shared code — bit-identical arithmetic), and a changelog row is
    * emitted whenever a vector's dup_of assignment CHANGES: a new
    * arrival can be born a duplicate, and a late lower-id arrival can
    * re-assign an existing vector's dup_of (or newly mark it) — dupness
    * itself never retracts, so Update-mode latest-per-key equals the
    * batch verdict over the union of all batches, whatever the arrival
    * order (StreamingSpec feeds id-interleaved batches to prove it).
    *
    * Scale posture: state shards by cell hash; per-cell cost is the
    * same O(cell²) scan the batch pays, on ~32 vectors; re-delivered
    * vec_ids are dropped (first version wins, matching batch's one-row-
    * per-vector input contract).
    */
  def semDedupStream(in: Dataset[VecArrival],
                     cents: Array[Array[Double]],
                     tau: Double = 0.35): Dataset[DupMark] = {
    import in.sparkSession.implicits._
    import graft.operators.Similarity
    in.groupByKey(a => Similarity.ivfCell(cents, a.v))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (cell: Int, batch: Iterator[VecArrival], state: GroupState[SemCellState]) => {
          val prior = state.getOption.getOrElse(
            SemCellState(Array.empty, Array.empty, Map.empty))
          val known = prior.ids.toSet
          val fresh = batch.filter(a => !known.contains(a.vec_id))
            .map(a => a.vec_id -> a.v).toMap // re-delivery within the batch: first wins
          if (fresh.isEmpty) Iterator.empty
          else {
            val merged = (prior.ids.zip(prior.vecs) ++ fresh.toArray).sortBy(_._1)
            val ids = merged.map(_._1)
            val vecs = merged.map(_._2)
            val dups = Similarity.cellDupScan(ids, vecs, tau)
            val changed = dups.filter { case (id, dupOf, _) =>
              !prior.emitted.get(id).contains(dupOf)
            }
            state.update(SemCellState(ids, vecs,
              dups.map { case (id, dupOf, _) => id -> dupOf }.toMap))
            changed.iterator.map { case (id, dupOf, sim) =>
              DupMark(id, cell.toLong, dupOf, sim)
            }
          }
        })
  }

  /** F6: streaming IVF index maintenance — incoming vectors are
    * assigned to their coarse cell with the IDENTICAL deterministic
    * quantizer as the batch D6 query (`Similarity.ivfCentroids` /
    * `ivfCell`), and a LATER ts for an already-indexed vec_id
    * re-assigns it (upsert; stale versions are dropped). Output is an
    * Update-mode changelog: one row per key per batch when its newest
    * version was accepted — exactly what a downstream cell-partitioned
    * index needs to apply (vec_id → cell) moves incrementally.
    *
    * Scale posture: state is O(1) per vec_id (ts + cell — vectors are
    * NOT buffered), keyed state shards across executors by vec_id
    * hash, and the centroid matrix rides inside the closure (it is
    * KB-scale by construction). At 100 TB the changelog sink is the
    * same cell-partitioned layout D6 prunes at query time.
    */
  def ivfUpsertStream(in: Dataset[VecUpsert],
                      cents: Array[Array[Double]]): Dataset[CellAssign] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.vec_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (vid: Long, batch: Iterator[VecUpsert], state: GroupState[VecVersion]) => {
          // newest version in this batch wins; equal ts keeps the
          // earlier arrival (upserts at the same version are idempotent)
          var best: VecUpsert = null
          batch.foreach { u => if (best == null || u.ts > best.ts) best = u }
          val prior = state.getOption.orNull
          if (best == null || (prior != null && best.ts <= prior.ts)) Iterator.empty
          else {
            val cell = graft.operators.Similarity.ivfCell(cents, best.v)
            state.update(VecVersion(best.ts, cell))
            Iterator.single(CellAssign(vid, cell, best.ts))
          }
        })
  }

  /** F21 output: shard `shard`'s CMS grid at version `ver` (flat
    * row-major depth×width, the B71 layout).
    */
  final case class CmsOut(shard: Int, ver: Long, grid: Array[Long])

  /** F21 state: the shard's grid + emission version. */
  final case class CmsState(ver: Long, grid: Array[Long])

  /** F21: streaming Count-Min sketch (batch twin B71, SAME
    * [[graft.functions.expressions.CountMin.bucket]] kernel): the key
    * space shards by hash (F17's rule — no hot shard, fixed
    * depth·width·8-byte state per shard), each arrival increments its
    * row buckets in O(depth), and every batch re-emits the shard's
    * grid under a bumped version (Update-mode changelog). Because each
    * key updates only its own shard's grid and CMS merge is
    * elementwise ADD, the elementwise SUM of the latest grid per shard
    * IS — bit for bit — the batch `graft_cms` grid over the rows seen
    * so far; any SQL probe (the B71 `element_at`+`pmod(xxhash64)`
    * expression) then reads identical estimates from the summed grid.
    */
  def cmsStream(
      in: Dataset[KeyedVal],
      depth: Int = 4, width: Int = 256, shards: Int = 4): Dataset[CmsOut] = {
    import in.sparkSession.implicits._
    import graft.functions.expressions.CountMin
    in.groupByKey(e => math.floorMod(e.user_id, shards.toLong).toInt)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (shard: Int, batch: Iterator[KeyedVal], state: GroupState[CmsState]) => {
          val prev = state.getOption.getOrElse(
            CmsState(0L, new Array[Long](depth * width)))
          val grid = prev.grid.clone()
          batch.foreach { e =>
            var d = 0
            while (d < depth) {
              grid(d * width + CountMin.bucket(e.user_id, d, width)) += 1L
              d += 1
            }
          }
          val ver = prev.ver + 1
          state.update(CmsState(ver, grid))
          Iterator.single(CmsOut(shard, ver, grid))
        })
  }

  /** F26: streaming drift monitor — the B88 PSI shape attached to an
    * unbounded event stream: the arriving cohort's value-bucket
    * histogram is ONE built-in Update-mode count aggregate
    * (O(|buckets|) state total, ≤10 rows here), and the PSI against a
    * STATIC baseline histogram is closed-form arithmetic over the
    * latest per-bucket counts ([[psiE6]]) — production drift
    * monitoring re-scores per micro-batch without a second pass over
    * history. Buckets are fixed-width clamped (the B88 rule), so the
    * state size never grows with the stream.
    */
  def driftBucketStream(events: DataFrame): DataFrame =
    events.groupBy(
      least(lit(9L), greatest(lit(0L), floor(col("value") / 20.0).cast("long")))
        .as("bucket")).count()

  /** F28 state: two one-sided CUSUM accumulators plus their running
    * maxima. All exact integer cents. */
  final case class CusumState(sPos: Long, sNeg: Long, maxPos: Long, maxNeg: Long)
  final case class CusumOut(user_id: Long, event_id: Long, s_pos: Long,
                            s_neg: Long, max_pos: Long, max_neg: Long)

  /** The F28/B94 online meet as a pure kernel: Page's ONE-SIDED CUSUM
    * update against a fixed baseline μ₀ with slack k —
    * s⁺ ← max(0, s⁺ + (x − μ₀ − k)), s⁻ ← max(0, s⁻ + (μ₀ − x − k)).
    * Exact integer cents end to end (the batch B94 statistic needs the
    * full-history mean; the ONLINE form monitors against a fixed
    * baseline so state is O(1) — the standard production trade).
    */
  def cusumStep(sPos: Long, sNeg: Long, x: Long, mu0: Long, slack: Long): (Long, Long) =
    (math.max(0L, sPos + (x - mu0 - slack)),
     math.max(0L, sNeg + (mu0 - x - slack)))

  /** F28: streaming per-key CUSUM level-shift monitor (online twin of
    * B94): O(1) exact-integer state per key — two one-sided
    * accumulators and their running maxima, folded by [[replayFold]]
    * with `event_id` as the mark. Emits the post-event state per
    * arrival in Update mode; an alert is `max_pos` or `max_neg`
    * crossing the deployment's h threshold. State never grows with the
    * stream.
    */
  def cusumStream(in: Dataset[KeyedVal], mu0: Long, slack: Long): Dataset[CusumOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.user_id, _.event_id, CusumState(0L, 0L, 0L, 0L)) { (st, e) =>
      val (p, n) = cusumStep(st.sPos, st.sNeg, e.v, mu0, slack)
      val next = CusumState(p, n, math.max(st.maxPos, p), math.max(st.maxNeg, n))
      (next, Some(CusumOut(e.user_id, e.event_id, p, n, next.maxPos, next.maxNeg)))
    }
  }

  /** F29 state: the Holt recursion's two e6-quantized integers plus
    * the init phase (0 = empty, 1 = one observation seen, 2 = running).
    * `x1` is the first observation, held only through phase 1 for the
    * classical b₁ = x₂ − x₁ init. */
  final case class HoltState(phase: Int, x1: Long, lq: Long, bq: Long, n: Long)
  final case class HoltOut(user_id: Long, event_id: Long, n: Long,
                           level_e6: Long, trend_e6: Long, f1_e6: Long)

  /** F29: streaming per-key Holt double-exponential smoother (online
    * twin of B96, SAME [[graft.operators.Relational.holtStep]]
    * kernel): O(1) exact-integer state per key, folded by
    * [[replayFold]] with `event_id` as the mark — the recursion's
    * (level, trend) pair is e6-quantized every step exactly as the
    * batch query's, so the stream CANNOT drift from a batch replay of
    * the same arrivals (StreamingSpec pins stream == sequential fold
    * across batches incl. replay). Init follows B96's classical
    * convention (l₁ = x₁, b₁ = x₂ − x₁, with x₂ then processed through
    * the step). Emits the post-event state and 1-step forecast per
    * arrival in Update mode; state never grows with the stream.
    */
  def holtStream(in: Dataset[KeyedVal]): Dataset[HoltOut] = {
    import in.sparkSession.implicits._
    import graft.operators.Relational.holtStep
    replayFold(in)(_.user_id, _.event_id, HoltState(0, 0L, 0L, 0L, 0L)) { (st, e) =>
      val next = st.phase match {
        case 0 => HoltState(1, e.v, e.v * 1000000L, 0L, 1L)
        case 1 =>
          val lq0 = st.x1 * 1000000L
          val (nl, nb) = holtStep(lq0, e.v * 1000000L - lq0, e.v)
          HoltState(2, 0L, nl, nb, 2L)
        case _ =>
          val (nl, nb) = holtStep(st.lq, st.bq, e.v)
          HoltState(2, 0L, nl, nb, st.n + 1)
      }
      (next, Some(HoltOut(e.user_id, e.event_id, next.n, next.lq, next.bq,
        next.lq + next.bq)))
    }
  }

  /** F34 state: the init buffer (≤14 observations — bounded, so still
    * O(1)) then the B111 integral state: (level, trend, 7-slot
    * seasonal queue), all exact integers. */
  final case class HwState(buf: Seq[Long], lq: Long, bq: Long,
                           seas: Seq[Long], n: Long)
  final case class HwOut(user_id: Long, event_id: Long, n: Long,
                         level_e6: Long, trend_e6: Long, f1_e6: Long)

  /** F34: streaming per-key Holt–Winters additive smoother (online
    * twin of B111, SAME [[graft.operators.Relational.hwInit]] /
    * [[graft.operators.Relational.hwStep]] kernels), folded by
    * [[replayFold]] with `event_id` as the mark: the first 14
    * arrivals per key buffer for the classical two-week init; on the
    * 14th, init runs and arrivals 8–14 replay through the step exactly
    * as the batch recursion processes them, emitting the first output
    * (n = 14); every later arrival is one integer-exact step. Because
    * the kernel is float-FREE (each update one floor-division by 10),
    * stream and batch CANNOT drift — StreamingSpec pins stream ==
    * sequential fold across batches incl. replay. State is O(1) per
    * key (≤14-slot buffer, then 9 longs); forecast f1 = l + b + s₋₆.
    */
  def holtWintersStream(in: Dataset[KeyedVal]): Dataset[HwOut] = {
    import in.sparkSession.implicits._
    import graft.operators.Relational.{hwInit, hwStep}
    replayFold(in)(_.user_id, _.event_id, HwState(Nil, 0L, 0L, Nil, 0L)) { (st, e) =>
      if (st.seas.isEmpty) {
        val buf = st.buf :+ e.v
        if (buf.length < 14) (HwState(buf, 0L, 0L, Nil, buf.length.toLong), None)
        else {
          val (l0, b0, s0) = hwInit(buf.toArray)
          var lq = l0; var bq = b0
          val q = scala.collection.mutable.Queue(s0.toSeq: _*)
          buf.drop(7).foreach { x =>
            val (nl, nb, ns) = hwStep(lq, bq, q.dequeue(), x * 1000000L)
            lq = nl; bq = nb; q.enqueue(ns)
          }
          (HwState(Nil, lq, bq, q.toSeq, 14L),
           Some(HwOut(e.user_id, e.event_id, 14L, lq, bq, lq + bq + q.head)))
        }
      } else {
        val q = scala.collection.mutable.Queue(st.seas: _*)
        val (nl, nb, ns) = hwStep(st.lq, st.bq, q.dequeue(), e.v * 1000000L)
        q.enqueue(ns)
        (HwState(Nil, nl, nb, q.toSeq, st.n + 1),
         Some(HwOut(e.user_id, e.event_id, st.n + 1, nl, nb, nl + nb + q.head)))
      }
    }
  }

  /** F35 state: the last two event types of the OPEN session plus the
    * last event time — O(1) per user. */
  final case class PathState(t1: String, t2: String, lastTs: Long)
  final case class PathOut(user_id: Long, event_id: Long, t1: String,
                           t2: String, t3: String)

  /** F35: streaming within-session path emission (online twin of
    * B112): each arrival that completes a consecutive event-type
    * TRIGRAM inside the open session (30-min gap — the B10 rule)
    * emits it immediately; a gap reset clears the pair state, so
    * trigrams never span sessions, exactly as the batch query's
    * per-(user, session) windows. O(1) state per key (two strings +
    * one long), folded by [[replayFold]] with `(ts_us, event_id)` as
    * the mark. Downstream, the B112 aggregate (count per trigram, ppm
    * shares) is one groupBy over this stream's output. StreamingSpec
    * pins stream == sequential fold across batches incl. replay.
    */
  def eventPathsStream(in: Dataset[AttrEvent]): Dataset[PathOut] = {
    val gapUs = 1800L * 1000000L
    import in.sparkSession.implicits._
    replayFold(in)(_.user_id, e => (e.ts_us, e.event_id),
                   PathState(null, null, Long.MinValue)) { (st, e) =>
      val sameSession = st.lastTs != Long.MinValue && e.ts_us - st.lastTs <= gapUs
      val row =
        if (sameSession && st.t1 != null && st.t2 != null)
          Some(PathOut(e.user_id, e.event_id, st.t1, st.t2, e.event_type))
        else None
      (PathState(if (sameSession) st.t2 else null, e.event_type, e.ts_us), row)
    }
  }

  /** F36 state: the open session's aggregate — seq (0 before the
    * first session), last time, count, entry/exit types; O(1) per
    * user. */
  final case class SessPathState(seq: Long, lastTs: Long, n: Long,
                                 entry: String, exit: String)
  final case class SessPathOut(user_id: Long, session_seq: Long,
                               entry_type: String, exit_type: String,
                               n_events: Long)

  /** F36: streaming session entry/exit tracking (online twin of
    * B115's per-session frame): the F2 sessionizer pattern carrying
    * entry/exit types — closed sessions are final on first emission,
    * the open session re-emits (same session_seq) once per batch that
    * extends it; readers keep the last row per (user_id, session_seq)
    * and the B115 bounce rollup is one groupBy over that compacted
    * stream. O(1) state per key, folded by [[replayFold]] with
    * `(ts_us, event_id)` as the mark. StreamingSpec pins the compacted
    * stream == a sequential batch fold across batches incl. replay.
    */
  def sessionPathsStream(in: Dataset[AttrEvent]): Dataset[SessPathOut] = {
    val gapUs = 1800L * 1000000L
    import in.sparkSession.implicits._
    def row(uid: Long, s: SessPathState) = SessPathOut(uid, s.seq, s.entry, s.exit, s.n)
    replayFold(in)(_.user_id, e => (e.ts_us, e.event_id),
                   SessPathState(0L, 0L, 0L, null, null))(
      (open, e) =>
        if (open.seq > 0L && e.ts_us - open.lastTs <= gapUs)
          (open.copy(lastTs = e.ts_us, n = open.n + 1, exit = e.event_type), None)
        else
          (SessPathState(open.seq + 1, e.ts_us, 1L, e.event_type, e.event_type),
           if (open.seq > 0L) Some(row(e.user_id, open)) else None),
      (uid, open) => Some(row(uid, open)))
  }

  /** F37 shapes: demand arrival (size in cents) and the two Croston
    * states — O(1) per key. */
  final case class CrostonEvent(user_id: Long, event_id: Long, ts_us: Long,
                                z: Long)
  final case class CrostonState(zq: Long, pq: Long, n: Long, lastTsUs: Long)
  final case class CrostonOut(user_id: Long, event_id: Long, n: Long,
                              z_e6: Long, p_e6: Long, forecast_e6: Long)

  /** F37: streaming per-key Croston smoother (online twin of B117,
    * SAME [[graft.operators.Relational.crostonStep]] kernel): each
    * demand arrival advances the size/interval recursions from O(1)
    * exact-integer state — gap = whole days since the previous demand,
    * floored at 1, exactly the batch convention — and emits the
    * post-event state + integral demand-rate forecast. Float-free
    * kernel ⇒ stream and batch cannot drift; folded by [[replayFold]]
    * with `(ts_us, event_id)` as the mark. StreamingSpec pins stream ==
    * sequential fold.
    */
  def crostonStream(in: Dataset[CrostonEvent]): Dataset[CrostonOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.user_id, e => (e.ts_us, e.event_id),
                   CrostonState(0L, 0L, 0L, Long.MinValue)) { (st, e) =>
      val next =
        if (st.n == 0L) CrostonState(e.z * 1000000L, 1000000L, 1L, e.ts_us)
        else {
          val gap = math.max(1L, Math.floorDiv(e.ts_us - st.lastTsUs, 86400000000L))
          val (nz, np) = graft.operators.Relational.crostonStep(st.zq, st.pq, e.z, gap)
          CrostonState(nz, np, st.n + 1, e.ts_us)
        }
      (next, Some(CrostonOut(e.user_id, e.event_id, next.n, next.zq, next.pq,
        Math.floorDiv(next.zq * 1000000L, next.pq))))
    }
  }

  /** F38 shapes: one quantized component observation; per-DIMENSION
    * state (cohort counts + exact sums) — O(1) per key, 64 keys
    * total. */
  final case class DimEvent(d: Long, vec_id: Long, ev: Boolean, q: Long)
  final case class DimState(n0: Long, s0: Long, n1: Long, s1: Long)
  final case class DimDriftOut(d: Long, n0: Long, n1: Long, m0_e6: Long,
                               m1_e6: Long, drift_e6: Long)

  /** F38: streaming embedding-centroid drift, keyed BY DIMENSION
    * (online twin of D25): each arriving e6-quantized component folds
    * into its dimension's exact cohort sums — the state is 4 longs
    * per dimension, 64 keys sharded across executors (keying by the
    * DIMENSION, not a global key, is what keeps the monitor parallel
    * — a single-key design would serialize the whole stream), and
    * each batch re-emits the post-batch means (sign-split integral,
    * the D25 formula) and drift per dimension. Folded by
    * [[replayFold]] with `vec_id` as the mark; state never grows with
    * the stream. StreamingSpec pins the final per-dim frame == a
    * sequential fold == the batch D25 derivation.
    */
  def embedDriftStream(in: Dataset[DimEvent]): Dataset[DimDriftOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.d, _.vec_id, DimState(0L, 0L, 0L, 0L))(
      (st, e) =>
        (if (e.ev) st.copy(n0 = st.n0 + 1, s0 = st.s0 + e.q)
         else st.copy(n1 = st.n1 + 1, s1 = st.s1 + e.q), None),
      (d, st) => {
        // toward-zero integral mean == the batch abs-div CASE
        def m(sm: Long, n: Long): Long = if (n == 0L) 0L else sm / n
        val m0 = m(st.s0, st.n0); val m1 = m(st.s1, st.n1)
        Some(DimDriftOut(d, st.n0, st.n1, m0, m1, math.abs(m1 - m0)))
      })
  }

  /** F39 shapes: one order arrival; per-customer state = the CURRENT
    * day's burst aggregate only (count, cents, min/max cents) — O(1),
    * day rollover resets. */
  final case class OrderEvent(ck: Long, order_key: Long, day_ed: Long,
                              cents: Long)
  final case class BurstState(day: Long, n: Long, cents: Long,
                              minC: Long, maxC: Long)
  final case class BurstOut(ck: Long, order_key: Long, day_ed: Long,
                            n_today: Long, total_cents: Long,
                            spread_cents: Long)

  /** F39: streaming same-day burst detector (online twin of B125's
    * audit): each order arrival folds into its customer's CURRENT-day
    * aggregate — a new day simply replaces the state (the previous
    * day's burst is final the moment a later day arrives, no timer
    * needed under day-ordered arrival) — and every arrival that makes
    * today's count ≥ 2 emits the burst's running count, combined
    * cents, and max−min spread (spread 0 = the resubmission
    * signature, flagged the MOMENT the duplicate lands rather than in
    * tomorrow's batch audit). O(1) state per customer, folded by
    * [[replayFold]] with the lexicographic `(day_ed, order_key)` as
    * the mark — orderkeys are NOT day-monotone, so a bare key mark
    * would drop genuine later-day arrivals. StreamingSpec pins stream
    * == sequential fold incl. replay.
    */
  def sameDayBurstStream(in: Dataset[OrderEvent]): Dataset[BurstOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.ck, e => (e.day_ed, e.order_key),
                   BurstState(Long.MinValue, 0L, 0L, 0L, 0L)) { (st, e) =>
      val next =
        if (e.day_ed != st.day) BurstState(e.day_ed, 1L, e.cents, e.cents, e.cents)
        else BurstState(st.day, st.n + 1, st.cents + e.cents,
          math.min(st.minC, e.cents), math.max(st.maxC, e.cents))
      (next,
       if (next.n >= 2) Some(BurstOut(e.ck, e.order_key, next.day, next.n,
         next.cents, next.maxC - next.minC))
       else None)
    }
  }

  /** F40 shapes: one classified document arrival; per-SOURCE state =
    * the language count map (bounded by the language domain, ≤ a
    * handful of keys — O(langs), not O(stream)). */
  final case class DocLangEvent(source: String, doc_id: Long, pred: String)
  final case class PurityOut(source: String, n_docs: Long,
                             major_lang: String, n_major: Long,
                             purity_ppm: Long)

  /** F40: streaming per-source language-purity monitor (online twin of
    * C48): classified documents fold into their source's bounded
    * language-count map, and each batch re-emits the source's current
    * majority language (count DESC, lang tie-break — the C48 rule)
    * and EXACT integral-ppm purity. The feed-routing decision ("this
    * source started streaming the wrong language") fires while the
    * feed is live instead of in tomorrow's batch audit. State is
    * O(|langs|) per source, folded by [[replayFold]] with `doc_id` as
    * the mark. StreamingSpec pins the final per-source frame == the
    * batch C48 derivation.
    */
  def sourcePurityStream(in: Dataset[DocLangEvent]): Dataset[PurityOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.source, _.doc_id, Map.empty[String, Long])(
      (counts, e) => (counts.updated(e.pred, counts.getOrElse(e.pred, 0L) + 1L), None),
      (src, counts) => {
        val n = counts.values.sum
        // (count DESC, lang ASC) — the C48 deterministic rank
        val (lang, c) = counts.toSeq.sortBy { case (l, cnt) => (-cnt, l) }.head
        Some(PurityOut(src, n, lang, c, c * 1000000L / n))
      })
  }

  /** F41 shapes: one error arrival; per-user state = the OPEN error
    * session's aggregate (seq, count, first/last µs) — O(1). */
  final case class ErrEvent(user_id: Long, event_id: Long, ts_us: Long)
  final case class ErrBurstState(seq: Long, n: Long, firstUs: Long, lastUs: Long)
  final case class ErrBurstOut(user_id: Long, event_id: Long,
                               burst_seq: Long, n_errors: Long,
                               span_us: Long)

  /** F41: streaming error-burst detector (online twin of B134): error
    * arrivals sessionize per user with the 1-hour gap in O(1) state,
    * and every arrival that makes the open session's count ≥ 2 emits
    * the burst's running size and span — the retry-storm page fires
    * on the SECOND error, not in tomorrow's batch rollup. Gap
    * rollover replaces the state (the F36 no-timer rule). Folded by
    * [[replayFold]] with `(ts_us, event_id)` as the mark.
    * StreamingSpec pins stream == sequential fold incl. replay.
    */
  def errorBurstStream(in: Dataset[ErrEvent]): Dataset[ErrBurstOut] = {
    val gapUs = 3600L * 1000000L
    import in.sparkSession.implicits._
    replayFold(in)(_.user_id, e => (e.ts_us, e.event_id),
                   ErrBurstState(0L, 0L, 0L, Long.MinValue)) { (st, e) =>
      val next =
        if (st.n == 0L || e.ts_us - st.lastUs > gapUs)
          ErrBurstState(st.seq + 1, 1L, e.ts_us, e.ts_us)
        else st.copy(n = st.n + 1, lastUs = e.ts_us)
      (next,
       if (next.n >= 2L) Some(ErrBurstOut(e.user_id, e.event_id, next.seq, next.n,
         next.lastUs - next.firstUs))
       else None)
    }
  }

  /** F30 event/state/output shapes: O(1) exact state per user — the
    * last touch's (ts, type) and the first touch's type. */
  final case class AttrEvent(user_id: Long, event_id: Long, ts_us: Long,
                             event_type: String)
  final case class AttrState(ltTs: Long, ltType: String, ftType: String)
  final case class AttrOut(user_id: Long, event_id: Long, last_type: String,
                           first_type: String, gap_us: Long)

  /** F30: streaming touch attribution (online twin of B104): each
    * purchase arrival is credited IMMEDIATELY from O(1) per-user state
    * — last-touch (7-day lookback, 'none' outside it) and first-touch
    * — instead of B104's full-history window; click/view arrivals
    * update the state, everything else only advances the mark
    * (`event_id`, folded by [[replayFold]]). gap_us = −1 marks the
    * 'none' bucket so downstream sums can exclude it exactly. State
    * never grows with the stream; StreamingSpec pins stream ==
    * sequential fold AND the per-model aggregate == the oracled batch
    * B104 counts.
    */
  def attributionStream(in: Dataset[AttrEvent]): Dataset[AttrOut] = {
    val lookbackUs = 7L * 24 * 3600 * 1000000L
    import in.sparkSession.implicits._
    replayFold(in)(_.user_id, _.event_id, AttrState(Long.MinValue, null, null)) { (st, e) =>
      val row =
        if (e.event_type == "purchase") {
          val gap = if (st.ltType == null) -1L else e.ts_us - st.ltTs
          val lt = if (st.ltType == null || gap > lookbackUs) "none" else st.ltType
          val ft = if (st.ftType == null) "none" else st.ftType
          Some(AttrOut(e.user_id, e.event_id, lt, ft, if (lt == "none") -1L else gap))
        } else None
      val next =
        if (e.event_type == "click" || e.event_type == "view")
          AttrState(e.ts_us, e.event_type,
            if (st.ftType == null) e.event_type else st.ftType)
        else st
      (next, row)
    }
  }

  /** F32: streaming domain classification (batch twin A46, the F16
    * fit-artifact posture): the multinomial-NB weights are a STATIC
    * broadcast model fit once batch-side ([[graft.operators.TextOps
    * .nbFit]]), and each arriving document scores STATELESSLY inside
    * its micro-batch — tokenize, exact e6-integer class scores, argmax
    * — no state store at all (the ideal streaming shape: curation
    * models are fit artifacts, scoring attaches to any stream
    * unchanged).
    */
  def nbClassifyStream(docs: DataFrame,
                       model: graft.operators.TextOps.NbModel): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("predicted", StringType, nullable = false)))
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    docs.select(col("doc_id"), col("text"))
      .mapPartitions { it =>
        val m = bc.value
        it.map { r =>
          Row(r.getLong(0), m.predict(r.getString(1).split(' ').iterator))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** F42 input/output: a document with its token weight (tokens + 1
    * EOS); the output assigns its token interval and chunk span. */
  final case class PackIn(doc_id: Long, w: Long)
  final case class PackOut(doc_id: Long, start: Long, endx: Long, span: Long)

  /** F42: streaming sequence packer (batch twin C50): ONE O(1) state
    * cell — the cumulative token count — assigns each arriving
    * document its token interval [start, start + w) and its span over
    * B=512-token training sequences, exactly the batch census
    * arithmetic. Folded by [[replayFold]] with `doc_id` as the mark
    * (cross-batch doc_id order is the stream contract, like the
    * sessionizer). At scale one packer per partition/shard is the
    * production shape — each shard packs its own sub-stream; the
    * single-key form here is the semantics contract the spec replays
    * against the batch prefix sum.
    */
  def seqPackStream(in: Dataset[PackIn], b: Long = 512L): Dataset[PackOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_ => 0L, _.doc_id, 0L) { (start, d) =>
      val end = start + d.w
      (end, Some(PackOut(d.doc_id, start, end, (end - 1) / b - start / b + 1)))
    }
  }

  /** F45 input/output: one event with its experiment cohort and
    * conversion flag; the output is the post-arrival counter state
    * plus exact integral ppm conversion rates per cohort. */
  final case class AbIn(event_id: Long, cohort: Int, purchase: Boolean)
  final case class AbOut(event_id: Long, n1: Long, x1: Long,
                         n2: Long, x2: Long, p1_ppm: Long, p2_ppm: Long)

  /** F45: streaming A/B conversion monitor (online twin of B145's
    * two-proportion z-test — the live experiment dashboard): FOUR
    * O(1) counter cells (n/x per cohort), folded by [[replayFold]]
    * with `event_id` as the mark; every arrival emits the exact
    * post-arrival counts and the ppm conversion rates (x·10⁶ div n —
    * nonnegative, so / equals the batch div), from which the z
    * statistic is a closed form downstream (the spec pins final
    * counters == the oracled batch counters, so the published z
    * follows bit-identically). State never grows with the stream.
    */
  def abMonitorStream(in: Dataset[AbIn]): Dataset[AbOut] = {
    import in.sparkSession.implicits._
    def ppm(x: Long, n: Long): Long = if (n == 0) 0L else x * 1000000L / n
    replayFold(in)(_ => 0L, _.event_id, (0L, 0L, 0L, 0L)) {
      case ((n1, x1, n2, x2), e) =>
        val hit = if (e.purchase) 1L else 0L
        val next @ (m1, y1, m2, y2) =
          if (e.cohort == 0) (n1 + 1, x1 + hit, n2, x2) else (n1, x1, n2 + 1, x2 + hit)
        (next, Some(AbOut(e.event_id, m1, y1, m2, y2, ppm(y1, m1), ppm(y2, m2))))
    }
  }

  /** F50 input/output: one observation with its cohort and its
    * domain-bounded value (quantity 1..50); output is the post-batch
    * dominance census under version `ver` = the arrivals folded so
    * far (n_a + n_b), which grows with every emission. */
  final case class CdIn(event_id: Long, cohort: Int, v: Int)
  final case class CdState(ca: Array[Long], cb: Array[Long])
  final case class CdOut(ver: Long, n_a: Long, n_b: Long,
                         n_gt: Long, n_lt: Long)

  /** F50: streaming dominance monitor (online twin of B155's Cliff's
    * delta — the live effect-size readout next to F45/F49's test
    * statistics): state is the two 50-cell value histograms (the SAME
    * domain-bound that makes the batch query join-free makes the
    * stream state O(|domain|) FOREVER — never O(stream)), and each
    * batch re-emits the exact dominance counts n_gt = Σ_v cA(v)·cumB(<v)
    * and the symmetric term via one O(|domain|) cumulative pass, from
    * which δ is the batch's shared one-float-step closed form. Folded
    * by [[replayFold]] with `event_id` as the mark. Histograms are
    * mergeable by cell-wise sum — the F48 combiner posture applies
    * verbatim.
    */
  def dominanceStream(in: Dataset[CdIn], vMax: Int = 50): Dataset[CdOut] = {
    import in.sparkSession.implicits._
    def bump(c: Array[Long], v: Int): Array[Long] = { val a = c.clone(); a(v) += 1; a }
    replayFold(in)(_ => 0L, _.event_id,
                   CdState(new Array[Long](vMax + 1), new Array[Long](vMax + 1)))(
      (st, e) =>
        (if (e.cohort == 0) st.copy(ca = bump(st.ca, e.v))
         else st.copy(cb = bump(st.cb, e.v)), None),
      (_, st) => {
        val ca = st.ca; val cb = st.cb
        var na = 0L; var nb = 0L; var gt = 0L; var lt = 0L; var cumB = 0L
        var v = 0
        while (v <= vMax) {
          gt += ca(v) * cumB
          cumB += cb(v)
          na += ca(v); nb += cb(v); v += 1
        }
        // lt = Σ_v cA(v) · (nb − cumB(≤v)): second pass with totals known
        var cumBle = 0L; v = 0
        while (v <= vMax) {
          cumBle += cb(v)
          lt += ca(v) * (nb - cumBle)
          v += 1
        }
        Some(CdOut(na + nb, na, nb, gt, lt))
      })
  }

  /** F49 input/output: one arrival with its ordered-arm score and
    * success flag; output is the post-arrival sufficient-statistic
    * state for the Cochran–Armitage trend z. */
  final case class CaIn(event_id: Long, k: Long, succ: Boolean)
  final case class CaOut(event_id: Long, n: Long, x: Long,
                         sx: Long, sn: Long, sn2: Long)

  /** F49: streaming ordered-arm trend monitor (online twin of B154's
    * Cochran–Armitage test — the live dose-response dashboard for
    * ordered experiment arms): FIVE O(1) counter cells — n, x,
    * Σscore, Σscore·success, Σscore² — folded by [[replayFold]] with
    * `event_id` as the mark; every arrival emits the exact
    * post-arrival sums, and the trend z is the SAME one-float-step
    * closed form the batch query renders
    * ([[graft.operators.Relational.caZSql]]), so stream and batch
    * agree bit-identically once the integer state does. State never
    * grows with the stream.
    */
  def caMonitorStream(in: Dataset[CaIn]): Dataset[CaOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_ => 0L, _.event_id, (0L, 0L, 0L, 0L, 0L)) {
      case ((n, x, sx, sn, sn2), e) =>
        val (dx, dsx) = if (e.succ) (1L, e.k) else (0L, 0L)
        val o = CaOut(e.event_id, n + 1, x + dx, sx + dsx, sn + e.k, sn2 + e.k * e.k)
        ((o.n, o.x, o.sx, o.sn, o.sn2), Some(o))
    }
  }

  /** F46 input/output: one observation for a keyed moment
    * accumulator (group key, per-key arrival sequence, integer
    * value); the output is the post-arrival exact power-sum state. */
  final case class MomIn(flag: String, seq: Long, x: Long)
  final case class MomOut(flag: String, seq: Long, n: Long, s1: Long,
                          s2: Long, s3: Long, s4: Long)

  /** F46: streaming power-sum accumulator (online twin of B142's
    * Jarque–Bera moments — the general "any moment statistic,
    * incrementally" kernel): per group key FIVE O(1) state cells
    * (n, Σx, Σx², Σx³, Σx⁴ — all exact integers), folded by
    * [[replayFold]] with the per-key `seq` as the mark;
    * skewness/kurtosis/JB are closed forms over the emitted state via
    * the SAME shared formula text the batch query uses, so stream and
    * batch publish bit-identical doubles once the sums agree (the spec
    * pins that). This is the canonical fit-statistic streaming shape:
    * the state is the sufficient statistic, never the data.
    */
  def momentsStream(in: Dataset[MomIn]): Dataset[MomOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.flag, _.seq, (0L, 0L, 0L, 0L, 0L)) {
      case ((n, s1, s2, s3, s4), m) =>
        val x2 = m.x * m.x
        val o = MomOut(m.flag, m.seq, n + 1, s1 + m.x, s2 + x2, s3 + x2 * m.x, s4 + x2 * x2)
        ((o.n, o.s1, o.s2, o.s3, o.s4), Some(o))
    }
  }

  /** F47 input/output: one sampleable record (key, exact cents); the
    * output is the post-batch sample with a monotone version stamp. */
  final case class SampIn(key: Long, cents: Long)
  final case class SampOut(version: Long, rank: Long, key: Long,
                           cents: Long)

  /** F47: streaming fixed-size uniform sampler (online twin of
    * B147's bottom-k-by-hash sample): state is the current bottom-k
    * set ordered by (md5-prefix hash, key) — O(k), never grows with
    * the stream — and the emitted sample after each batch carries a
    * monotone version. The DEFINING property (why bottom-k is THE
    * streaming sampler, vs reservoir sampling whose membership is
    * RNG-order-dependent): the final sample is a pure FUNCTION OF
    * THE SET of arrivals — delivery order, batch boundaries, and
    * at-least-once redelivery all cannot change it (re-inserting a
    * present key is a no-op by construction), so no watermark is
    * needed at all. The spec delivers shuffled + replayed batches
    * and pins final-sample == the oracled batch query row-for-row.
    */
  def bottomkSampleStream(in: Dataset[SampIn], k: Int = 100): Dataset[SampOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_ => 0L)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (_: Long, batch: Iterator[SampIn],
         state: GroupState[(Long, List[(Long, Long, Long)])]) => {
          val md = java.security.MessageDigest.getInstance("MD5")
          var (ver, samp) = state.getOption.getOrElse(
            (0L, List.empty[(Long, Long, Long)]))
          batch.foreach { e =>
            ver += 1
            if (!samp.exists(_._2 == e.key)) {
              val h = graft.functions.TextKernels.md5Prefix52(md, "samp|" + e.key)
              samp = ((h, e.key, e.cents) :: samp)
                .sortBy(t => (t._1, t._2)).take(k)
            }
          }
          state.update((ver, samp))
          samp.zipWithIndex.iterator.map { case ((_, key, cents), i) =>
            SampOut(ver, (i + 1).toLong, key, cents)
          }
        })
  }

  /** F44 input/output: one order event (customer, order key, calendar
    * month index, exact cents); the output stamps the customer's
    * cohort month and the order's age-in-months. */
  final case class CohortIn(ck: Long, order_key: Long, m: Long, cents: Long)
  final case class CohortOut(ck: Long, order_key: Long, cohort_m: Long,
                             age_months: Long, cents: Long)

  /** F44: streaming cohort assignment (online twin of B139's LTV
    * matrix): ONE O(1) state cell per customer — the cohort month
    * (frozen at first arrival), folded by [[replayFold]] with the
    * lexicographic `(m, order_key)` as the mark. Each arriving order is
    * stamped with its customer's cohort and age; the LTV matrix is then
    * a downstream windowed aggregate of the stamped stream (the spec
    * aggregates the emissions and matches the ORACLED batch cells
    * exactly: n_orders, rev_cents, and distinct customers per cohort).
    * At scale: state is one long per customer key, the standard
    * keyed-state shape (F30 attribution), never a global structure.
    */
  def cohortLtvStream(in: Dataset[CohortIn]): Dataset[CohortOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.ck, e => (e.m, e.order_key), Long.MaxValue) { (first, e) =>
      val cohort = if (first == Long.MaxValue) e.m else first
      (cohort, Some(CohortOut(e.ck, e.order_key, cohort, e.m - cohort, e.cents)))
    }
  }

  /** F43 input/output: one daily aggregate point (epoch-day, exact
    * cents); the output carries the Page–Hinkley statistic and the
    * alarm flag at threshold λ. */
  final case class PhIn(day_ed: Long, x: Long)
  final case class PhOut(day_ed: Long, mean_i: Long, mt: Long, ph: Long,
                         alarm: Boolean)

  /** F43: streaming Page–Hinkley drift detector (batch twin B140):
    * FOUR O(1) state cells — point count i, cumulative sum cx,
    * running deviation sum m_t, and its running minimum — reproduce
    * the batch recursion exactly: x̄_i = cx div i (exact integral,
    * including the current point — the B140/B85 rule), m_t += x−x̄_i,
    * PH_t = m_t − min m_j, alarm when PH_t > λ (the batch query
    * calibrates λ = 10·global-mean; online, λ is the caller's
    * parameter — a global mean does not exist mid-stream). Folded by
    * [[replayFold]] with `day_ed` as the mark (daily aggregates arrive
    * in day order by construction). At scale: the input is the
    * ≤|days| daily-aggregate stream (a windowed upstream agg), not the
    * raw fact — one detector key holds four longs.
    */
  def pageHinkleyStream(in: Dataset[PhIn], lambda: Long): Dataset[PhOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_ => 0L, _.day_ed, (0L, 0L, 0L, Long.MaxValue)) {
      case ((i0, cx0, mt0, mmin0), p) =>
        val i = i0 + 1; val cx = cx0 + p.x
        val mean = cx / i // cx ≥ 0: / equals the batch div here
        val mt = mt0 + p.x - mean
        val mmin = math.min(mmin0, mt)
        val ph = mt - mmin
        ((i, cx, mt, mmin), Some(PhOut(p.day_ed, mean, mt, ph, ph > lambda)))
    }
  }

  /** F33 state/output: O(1) per key — balance, running max, clamp
    * count, arrivals. */
  final case class BalState(bal: Long, mx: Long, clamps: Long, n: Long)
  final case class BalOut(user_id: Long, event_id: Long, bal: Long,
                          mx: Long, clamps: Long, n: Long)

  /** F33: streaming clamped balance (online twin of B108's inventory
    * replay): bal ← max(0, bal + Δ) per arrival from O(1) exact-integer
    * state — the non-linear recursion no streaming window expresses,
    * incrementalized the only way it can be (a per-key fold,
    * [[replayFold]], with `event_id` as the mark). Emits the post-event
    * state per arrival in Update mode; state never grows with the
    * stream.
    */
  def clampedBalanceStream(in: Dataset[KeyedVal]): Dataset[BalOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.user_id, _.event_id, BalState(0L, 0L, 0L, 0L)) { (st, e) =>
      val raw = st.bal + e.v
      val bal = if (raw < 0) 0L else raw
      val next = BalState(bal, math.max(st.mx, bal),
        st.clamps + (if (raw < 0) 1L else 0L), st.n + 1)
      (next, Some(BalOut(e.user_id, e.event_id, next.bal, next.mx, next.clamps, next.n)))
    }
  }

  /** F31 output: one (predecessor type → type) pair per arrival. */
  final case class TransOut(user_id: Long, event_id: Long,
                            from_type: String, to_type: String)

  /** F31: streaming journey transitions (online twin of B105): each
    * arrival pairs with its per-user PREDECESSOR type, the O(1) state
    * (the batch query's lag window, incrementalized; first event per
    * user emits nothing, exactly like lag's null row), folded by
    * [[replayFold]] with `event_id` as the mark. Downstream the pairs
    * feed the same ≤\|types\|² count aggregate as the batch matrix —
    * StreamingSpec pins stream pairs == batch lag pairs exactly.
    */
  def transitionStream(in: Dataset[AttrEvent]): Dataset[TransOut] = {
    import in.sparkSession.implicits._
    replayFold(in)(_.user_id, _.event_id, null: String) { (prev, e) =>
      (e.event_type, Option(prev).map(TransOut(e.user_id, e.event_id, _, e.event_type)))
    }
  }

  /** F27: streaming first-digit audit (batch twin B89) — the Benford
    * fraud/fabrication screen attached to an unbounded stream: the
    * first digit of the exact cent amount (integer→string head, no
    * float log on the data path — the B89 rule) feeds ONE built-in
    * Update-mode count aggregate with O(9) state, and the audit
    * statistic re-scores per micro-batch from the latest nine counts
    * via [[benfordMadE6]] — no second pass over history, state never
    * grows with the stream.
    */
  def benfordDigitStream(events: DataFrame): DataFrame =
    events
      .select(round(col("value") * 100, 0).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).count()

  /** The B89 audit statistic as a pure kernel over a digit histogram
    * (the F27 meet): mean absolute deviation (Nigrini's MAD screen)
    * between observed shares (exact integral-division PPM) and the
    * e6-rounded Benford reference log10(1+1/d) — the reference never
    * touches data, so it is identical cross-engine by construction.
    */
  def benfordMadE6(hist: Map[Long, Long]): Long = {
    val refs = graft.operators.Relational.benford1Table.toMap
    val n = (1L to 9L).map(hist.getOrElse(_, 0L)).sum
    if (n == 0L) 0L
    else (1L to 9L).map { d =>
      val obs = hist.getOrElse(d, 0L) * 1000000L / n
      math.abs(obs - refs(d))
    }.sum / 9
  }

  /** F52 input/output: a document arrival; an emitted LSH candidate
    * pair (a_id < b_id) in the band where the two docs first met. */
  final case class LshDoc(doc_id: Long, text: String)
  final case class LshCand(band: Int, a_id: Long, b_id: Long)

  /** F52: streaming MinHash-LSH near-duplicate candidate detection —
    * the LSH pillar of the dedup family made CONTINUOUS (next to F14's
    * embedding SemDeDup and F19's exact canonical dedup): each arriving
    * document computes its 4×2 band keys STATELESSLY via the SHARED
    * C5/C6 kernel ([[graft.functions.TextKernels.lshBandKeys]] — same
    * shingles, same md5 permutations, same "#" band key, so stream and
    * batch candidates cannot diverge by construction), and each
    * (band, bkey) bucket holds its member doc-id set as keyed state —
    * a new member emits one candidate pair per existing member THE
    * MOMENT IT LANDS (the online crawl-dedup shape: pairs surface
    * while the crawl is live, not in tomorrow's batch). Set semantics
    * make it replay-safe with no watermark: a re-delivered doc is
    * already a member and emits nothing, and the cumulative pair SET
    * is a pure function of the arrival set — delivery order only
    * permutes which side was "already present". At 100 TB the state
    * is the LSH index itself (O(docs·bands) entries sharded by bucket
    * key — the same size as the batch index); degenerate hot buckets
    * are bounded by `maxBucketSize` (the C6 cap-and-quarantine posture,
    * IMPLEMENTED here: a bucket at the cap admits no new members and
    * fans out no further pairs — O(cap) state and O(cap) pairs per
    * bucket, whatever the stream does). The capped pair set depends on
    * admission order (a stream cannot retract already-emitted pairs
    * the way the batch cap drops a whole over-cap bucket), so the
    * GATE runs uncapped — there the cumulative pair set is a pure
    * function of the arrival set; production feeds pass the cap.
    */
  def lshPairsStream(in: Dataset[LshDoc],
                     maxBucketSize: Option[Int] = None): Dataset[LshCand] = {
    import in.sparkSession.implicits._
    val banded = in.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { d =>
        graft.functions.TextKernels.lshBandKeys(md, d.text)
          .map { case (b, k) => (b, k, d.doc_id) }
      }
    }
    banded.groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (key: (Int, String), batch: Iterator[(Int, String, Long)],
         state: GroupState[Seq[Long]]) => {
          var members = state.getOption.getOrElse(Seq.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[LshCand]
          batch.toArray.map(_._3).distinct.sorted.foreach { id =>
            val atCap = maxBucketSize.exists(members.size >= _)
            if (!atCap && !members.contains(id)) {
              members.foreach { m =>
                out += (if (m < id) LshCand(key._1, m, id)
                        else LshCand(key._1, id, m))
              }
              members = members :+ id
            }
          }
          state.update(members)
          out.iterator
        })
  }

  /** The B88 PSI statistic as a pure kernel over two bucket histograms
    * (the F26 meet): per-bucket (p_a−p_b)·ln(p_a/p_b) terms e6-rounded
    * BEFORE the exact integer sum (the C33 rule); buckets empty on
    * either side are excluded.
    */
  def psiE6(base: Map[Long, Long], cur: Map[Long, Long]): Long = {
    val na = base.values.sum.toDouble
    val nb = cur.values.sum.toDouble
    (base.keySet ++ cur.keySet).toSeq.sorted.map { k =>
      val a = base.getOrElse(k, 0L).toDouble
      val b = cur.getOrElse(k, 0L).toDouble
      if (a == 0 || b == 0) 0L
      else math.round((a / na - b / nb) * math.log((a * nb) / (b * na)) * 1000000.0)
    }.sum
  }
}
