package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.StreamScope
import graft.core.StreamScope.lastWins
import graft.functions.{TextFunctions => TF}
import graft.sources.Tables._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{CmsOut, KeyedVal, KmvArrival, KmvOut,
  MgOut, MomIn, MomOut, RunningOut, SampIn, SampOut}

/** Streaming operators promoted from spec-only coverage to DRIVER-GATE
  * queries (SURVEY §2 F17 / F21 / F24 — "run the stream to completion,
  * publish final state, DuckDB-oracle the batch twin", G6's posture for
  * stateful operators). Each gate feeds a deterministic fixture through
  * the REAL streaming operator via [[graft.core.StreamScope.gate]] — a
  * genuine incremental execution with state persisted across batches,
  * not a batch query in costume — reads the final state off the
  * changelog ([[graft.core.StreamScope.lastWins]], what a production
  * reader of the changelog topic does), and publishes values a DuckDB
  * oracle recomputes with no knowledge of the stream. Batch-split
  * sensitivity is covered by StreamingSpec (arbitrary splits + replay);
  * a gate pins one canonical split so the published frame is bit-stable.
  *
  * Scale posture: the MemoryStream feed is the SIMULATED ingest — a
  * production deployment reads Kafka with the same operators; every
  * arrival set is count-bounded (the caps below are hash-stable bound
  * rules: inactive at gate scales, frozen beyond), so a gate's cost
  * never grows with the corpus.
  */
object StreamingGates {

  /** Split arrivals into `n` micro-batches of `length / n` each (the
    * last takes the remainder), with `replay` re-delivered at the end
    * of batch `at` (the last by default).
    */
  private def batches[T](xs: Seq[T], n: Int, replay: Seq[T] = Nil,
                         at: Int = -1): Seq[Seq[T]] = {
    val cut = xs.length / n
    val bs = (0 until n).map { i =>
      if (i == n - 1) xs.drop(i * cut) else xs.slice(i * cut, (i + 1) * cut)
    }
    val j = if (at < 0) n - 1 else at
    bs.updated(j, bs(j) ++ replay)
  }

  /** The F17/F21 gate fixture: 50k rows of the B57-B62 Zipf formula —
    * small enough to stream from the driver, same md5 derivation the
    * oracle rebuilds row-by-row.
    */
  private val StreamZipfRows = 50000L

  private def zipfArrivals(s: SparkSession): Seq[KeyedVal] =
    graft.sources.Synthetic.zipfEventsPinned(s, StreamZipfRows)
      .collect()
      .map(r => KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2)))
      .toSeq

  /** F17 (query-backed): STREAMING HEAVY HITTERS — the B62 Misra-Gries
    * summary maintained incrementally (same MisraGries.add kernel),
    * key space sharded by hash, three micro-batches over the 50k Zipf
    * stream, max-version-per-shard union as the global summary. The
    * published frame is the B62 contract on the top-5 TRUE keys:
    * found (presence above N/(k+1) is a THEOREM, not luck) and
    * bounds_ok (true − N/(k+1) ≤ est ≤ true — order- and split-
    * independent, which is why the gate can pin them). The oracle
    * recomputes the true counts from the md5 formula and pins the
    * flags at 1 — a state bug that loses or inflates a counter across
    * batches breaks the hash.
    */
  def qStreamHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 64
    val shards = 4
    val ev = zipfArrivals(s)
    val n = ev.size.toLong
    val rows = StreamScope.gate(s, "gate_mg_out", "update", batches(ev, 3))(
      EventStreams.heavyHittersStream(_, k, shards)).as[MgOut].collect().toSeq
    val summary = lastWins(rows)(_.shard, _.ver).map(o => o.key -> o.est).toMap
    val bound = n / (k + 1)
    val exact = ev.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    val top5 = exact.toSeq.sortBy { case (u, c) => (-c, u) }.take(5)
    top5.map { case (u, t) =>
      val est = summary.getOrElse(u, 0L)
      (u, t,
        (if (summary.contains(u)) 1 else 0),
        (if (est <= t && est >= t - bound) 1 else 0))
    }.toDF("user_id", "true_cnt", "found", "bounds_ok")
      .select(col("user_id"), col("true_cnt"),
        col("found").cast("int").as("found"),
        col("bounds_ok").cast("int").as("bounds_ok"))
  }

  /** F21 (query-backed): STREAMING COUNT-MIN — the B71 grid maintained
    * incrementally (same CountMin.bucket kernel), sharded by hash,
    * three micro-batches; the elementwise SUM of the latest per-shard
    * grids must be BIT-IDENTICAL to the batch `graft_cms` grid over
    * the same rows (each key touches only its own shard and CMS merge
    * is elementwise add) — the engine REQUIRES that equality before
    * publishing, then emits the B71 probe on the summed grid: top-5
    * true keys with over_ok (CMS's one-sided est ≥ true guarantee)
    * and bound_ok (est ≤ true + 4N/width — deterministic on the fixed
    * fixture). Oracle: true counts from the md5 formula, flags pinned.
    */
  def qStreamCms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val depth = 4
    val width = 2048
    val shards = 4
    val ev = zipfArrivals(s)
    val n = ev.size.toLong
    val rows = StreamScope.gate(s, "gate_cms_out", "update", batches(ev, 3))(
      EventStreams.cmsStream(_, depth, width, shards)).as[CmsOut].collect().toSeq
    val summed = new Array[Long](depth * width)
    lastWins(rows)(_.shard, _.ver).foreach { o =>
      var i = 0
      while (i < summed.length) { summed(i) += o.grid(i); i += 1 }
    }
    // the kernel-sharing identity, enforced loudly: stream state summed
    // over shards == the batch sketch, bit for bit
    val batchGrid = graft.sources.Synthetic.zipfEventsPinned(s, StreamZipfRows)
      .agg(expr(s"graft_cms(user_id, $depth, $width)")).collect()(0)
      .getSeq[Long](0).toArray
    require(java.util.Arrays.equals(summed, batchGrid),
      "stream-summed CMS grid diverges from the batch graft_cms grid")
    import graft.functions.expressions.CountMin
    val exact = ev.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    val top5 = exact.toSeq.sortBy { case (u, c) => (-c, u) }.take(5)
    val slack = 4L * n / width
    top5.map { case (u, t) =>
      val est = (0 until depth)
        .map(d => summed(d * width + CountMin.bucket(u, d, width))).min
      (u, t, (if (est >= t) 1 else 0), (if (est <= t + slack) 1 else 0))
    }.toDF("user_id", "true_cnt", "over_ok", "bound_ok")
      .select(col("user_id"), col("true_cnt"),
        col("over_ok").cast("int").as("over_ok"),
        col("bound_ok").cast("int").as("bound_ok"))
  }

  /** The fact-fed arrival cap (F24/F46/F47 gates): a COUNT bound (not
    * a corpus fraction) — the ingest simulation is a MemoryStream, so
    * its cost must not grow with the corpus. Sized to the F17/F21
    * fixture class (~32k lineitem arrivals / ~8k orders, vs their
    * 50k): the at-least-once replay contract, the per-group state
    * machines, and the exact batch-twin equalities are all exercised
    * identically at any feed size, while the gates stay in the same
    * cost band as the other stream gates. Orderkey DENSITY is what
    * the cap meters (~4 lineitems per orderkey, keys 1..n_orders):
    * key < 8000 admits ~32k lineitem rows at BOTH sf0.01 (keys
    * 1..15k) and sf0.1 (keys 1..150k), and replica-0 keys only beyond
    * (frozen — ScaleData shifts replica keys by ≥10⁶). Measured: the
    * 1M cap streamed 600k sf0.1 rows at 13s/run; 100k keys = 400k
    * rows at 6.0s; the contracts — streamed state == the batch twin
    * on the capped arrivals, same constant on BOTH engine and oracle
    * sides — are feed-size-independent.
    */
  private val StreamFactMaxKey = 8000L

  /** F24 (query-backed): STREAMING KMV DISTINCT — the B77 bottom-k
    * sketch as flatMapGroupsWithState state, three micro-batches PLUS
    * a re-delivered slice (the min-k SET must absorb replays — set
    * semantics, the at-least-once contract), latest version per group.
    * Because min-k is a pure function of the value SET, the streamed
    * estimate must equal the batch B77 computation EXACTLY — so the
    * published frame is the full B77 shape (n_exact, kmv_est, err_bp)
    * and the oracle recomputes every value from parquet, blind to the
    * stream. The arrival set is capped at l_orderkey < 10⁶ on BOTH
    * sides (inactive at gate scales).
    */
  def qStreamKmv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 64
    // 8-way SHARD-PREFIXED group keys (the F48 one-job layout, which
    // took the merge gate 6.3s → 4.2s): the stateful operator
    // parallelizes over 8·|groups| state keys instead of the 3 bare
    // returnflag groups, and the min-k identity —
    // min-k(∪ᵢ Aᵢ) = min-k(∪ᵢ min-k(Aᵢ)) — makes the shard-merged
    // sketch EQUAL the unsharded one, so the published frame and the
    // oracle are unchanged.
    val nShards = 8
    val arrivals = lineitem(s, dir)
      .filter(col("l_orderkey") < StreamFactMaxKey)
      .select(col("l_returnflag"), col("l_partkey")).collect()
      .map(r => KmvArrival(s"${r.getLong(1) % nShards}|${r.getString(0)}",
        r.getLong(1))).toSeq
    // re-deliver the first 100 arrivals with the final batch: the
    // sketch set must not move
    val rows = StreamScope.gate(s, "gate_kmv_out", "update",
        batches(arrivals, 3, replay = arrivals.take(100)))(
      EventStreams.kmvStream(_, k)).as[KmvOut].collect().toSeq
    val latest = lastWins(rows)(_.grp, _.ver)
      .groupBy(o => o.grp.substring(o.grp.indexOf('|') + 1))
      .map { case (grp, shards) =>
        val (mh, _) = shards
          .foldLeft((Array.empty[Long], Array.empty[Long])) {
            case ((hs, vs), o) =>
              EventStreams.kmvMerge(hs, vs, o.hs, o.vs, k)
          }
        grp -> EventStreams.kmvEstimate(mh, k)
      }
    val exact = lineitem(s, dir)
      .filter(col("l_orderkey") < StreamFactMaxKey)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.toSeq.sortBy(_._1).map { case (g, nEx) =>
      val est = latest.getOrElse(g, 0L)
      (g, nEx, est, math.abs(est - nEx) * 10000L / nEx)
    }.toDF("l_returnflag", "n_exact", "kmv_est", "err_bp")
  }

  /** F15 (query-backed): STREAMING RUNNING SUMS — the B59/B60 per-key
    * prefix-sum window incrementalized (same runningSumStream kernel
    * the spec drives): the 50k Zipf stream in event-id order, three
    * micro-batches PLUS a re-delivered slice (the high-water-mark
    * contract: a replayed offset must NOT double-count), one changelog
    * row per applied event. The published frame is the final state on
    * the top-5 keys by total: event count and exact running total —
    * both recomputed by the oracle from the md5 formulas alone
    * (a double-counted replay or a lost batch breaks the hash).
    */
  def qStreamRunningSums(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the monotone-source contract: arrivals in event_id order
    val ev = zipfArrivals(s).sortBy(_.event_id)
    // re-deliver the first 100 events with the final batch: at or
    // below each key's high-water mark, they must be dropped
    val rows = StreamScope.gate(s, "gate_run_out", "update",
        batches(ev, 3, replay = ev.take(100)))(
      EventStreams.runningSumStream).as[RunningOut].collect().toSeq
    val byUser = rows.groupBy(_.user_id)
    val finals = byUser.map { case (u, rs) =>
      (u, rs.size.toLong, rs.maxBy(_.event_id).running)
    }.toSeq
    finals.sortBy { case (u, _, tot) => (-tot, u) }.take(5)
      .toDF("user_id", "n_events", "total_v")
  }

  /** F47 (query-backed): STREAMING BOTTOM-K UNIFORM SAMPLE — the B147
    * fixed-size sampler as stream state (same bottomkSampleStream
    * kernel, same "samp|" md5-prefix hash): the capped orders feed in
    * a DELIBERATELY shuffled order (by cents, not key — the defining
    * property is that the final sample is a pure function of the
    * arrival SET), three micro-batches plus a re-delivered slice
    * (re-inserting a present key is a set no-op). Publishes the final
    * version's full sample (rank, key, cents) — row-for-row equal to
    * the batch B147 query on the same capped set, which is exactly
    * what the oracle recomputes.
    */
  def qStreamBottomk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val arrivals = orders(s, dir)
      .filter(col("o_orderkey") < StreamFactMaxKey)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long"))
      .collect()
      .map(r => SampIn(r.getLong(0), r.getLong(1)))
      .sortBy(e => (e.cents, e.key)) // fixed NON-key order: order-free proof
      .toSeq
    val rows = StreamScope.gate(s, "gate_samp_out", "update",
        batches(arrivals, 3, replay = arrivals.take(100)))(
      EventStreams.bottomkSampleStream(_, k = 100)).as[SampOut].collect().toSeq
    // one global sample: its latest version is the whole snapshot
    lastWins(rows)(_ => (), _.version).sortBy(_.rank)
      .map(o => (o.rank, o.key, o.cents))
      .toDF("rank", "o_orderkey", "cents")
  }

  /** F46 (query-backed): STREAMING POWER-SUM MOMENTS — the B142
    * Jarque–Bera sufficient statistics maintained incrementally (same
    * momentsStream kernel): capped lineitem arrivals in per-key
    * sequence order (seq = orderkey·10 + linenumber), three
    * micro-batches plus a re-delivered slice (below the sequence
    * watermark ⇒ dropped), O(1) exact-integer state per returnflag.
    * The final state IS the batch twin's moment row, so the published
    * frame is the full B142 shape — n/Σx/Σx²/Σx³/Σx⁴ exact, skew/
    * kurtosis/JB through the SAME shared formula text — and the
    * oracle recomputes every value from parquet, blind to the stream.
    */
  def qStreamMoments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // seq must be UNIQUE per key ((l_orderkey, l_linenumber) is not —
    // the fixture has duplicate line numbers, and a duplicate straddling
    // a batch boundary would be watermark-dropped): deterministic total
    // sort, then a dense driver-side sequence; remaining sort ties are
    // fully identical arrivals, so the assignment is value-deterministic
    val arrivals = lineitem(s, dir)
      .filter(col("l_orderkey") < StreamFactMaxKey)
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long"),
        col("l_quantity").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity)
      .zipWithIndex
      .map { case ((flag, _, _, x), i) => MomIn(flag, i.toLong, x) }
      .toSeq
    val finals = StreamScope.gate(s, "gate_mom_out", "update",
        batches(arrivals, 3, replay = arrivals.take(100)))(
      EventStreams.momentsStream).as[MomOut].collect().toSeq
      .groupBy(_.flag).values.map(_.maxBy(_.seq)).toSeq
    import graft.operators.{Relational => R}
    finals.sortBy(_.flag)
      .map(o => (o.flag, o.n, o.s1, o.s2, o.s3, o.s4))
      .toDF("flag", "n", "s1", "s2", "s3", "s4")
      .withColumn("m2", expr(R.jbM2Sql))
      .withColumn("m3", expr(R.jbM3Sql))
      .withColumn("m4", expr(R.jbM4Sql))
      .withColumn("skew", expr(R.jbSkewSql))
      .withColumn("kurt", expr(R.jbKurtSql))
      .select(col("flag"), col("n"), col("s1"), col("s2"), col("s3"),
        col("s4"), graft.functions.dec6(col("skew")).as("skew"),
        graft.functions.dec6(col("kurt")).as("kurt"),
        graft.functions.dec4(expr(R.jbStatSql)).as("jb_stat"))
  }

  /** F48 (query-backed): STREAMING KMV MERGE — the distributed face of
    * F24 (the reason the sketch earns its place at 100 TB): the capped
    * arrival set splits into TWO DISJOINT shards (partkey parity —
    * sites, executors, Kafka partitions), each building its own
    * partial sketch from its shard's arrivals only (shard-prefixed
    * group keys in one job — production's sharded-state layout; the
    * F48 spec additionally proves the two-physical-streams form), and
    * the latest per-shard sketches merge via kmvMerge with O(k)
    * traffic.
    * The min-k identity — min-k(A∪B) = min-k(min-k(A) ∪ min-k(B)) —
    * makes the merged sketch equal the FULL-data sketch EXACTLY, so
    * the published estimates must match the same B77 DuckDB replica
    * F24 uses, while the per-shard kept counts pin that both shards
    * really ran (the oracle re-derives them from the parity split).
    */
  def qStreamKmvMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 64
    val arrivals = lineitem(s, dir)
      .filter(col("l_orderkey") < StreamFactMaxKey)
      .select(col("l_returnflag"), col("l_partkey")).collect()
      .map(r => KmvArrival(r.getString(0), r.getLong(1))).toSeq
    val (sh0, sh1) = arrivals.partition(_.value % 2 == 0)

    // ONE streaming job with SHARD-PREFIXED group keys — production's
    // actual layout (one job, state sharded across executors by key;
    // each (shard, group) sketch is built from ITS shard's arrivals
    // only, so the partial sketches are exactly as independent as two
    // physical jobs would make them — the F48 spec additionally proves
    // the two-physical-streams form). Shard 0 re-delivers a slice: the
    // min-k SET absorbs the replay; shard 1 proves the replay-free path.
    def tag(shard: Int, evs: Seq[KmvArrival]): Seq[KmvArrival] =
      evs.map(e => KmvArrival(s"$shard|${e.grp}", e.value))
    val t0 = tag(0, sh0)
    val t1 = tag(1, sh1)
    val (tA, tB) = (t0.length / 3, t1.length / 3)
    val feed = Seq(
      t0.take(tA) ++ t1.take(tB),
      t0.slice(tA, 2 * tA) ++ t1.slice(tB, 2 * tB),
      t0.drop(2 * tA) ++ t1.drop(2 * tB) ++ t0.take(100))
    val rows = StreamScope.gate(s, "gate_kmvm_out", "update", feed)(
      EventStreams.kmvStream(_, k)).as[KmvOut].collect().toSeq
    val latest = lastWins(rows)(_.grp, _.ver).map(o => o.grp -> o).toMap
    val a = latest.collect { case (g, o) if g.startsWith("0|") =>
      g.drop(2) -> o }
    val b = latest.collect { case (g, o) if g.startsWith("1|") =>
      g.drop(2) -> o }

    val exact = lineitem(s, dir)
      .filter(col("l_orderkey") < StreamFactMaxKey)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.toSeq.sortBy(_._1).map { case (g, nEx) =>
      val sa = a.get(g)
      val sb = b.get(g)
      val (mh, _) = EventStreams.kmvMerge(
        sa.map(_.hs).getOrElse(Array.empty), sa.map(_.vs).getOrElse(Array.empty),
        sb.map(_.hs).getOrElse(Array.empty), sb.map(_.vs).getOrElse(Array.empty), k)
      val est = EventStreams.kmvEstimate(mh, k)
      (g, nEx, est, math.abs(est - nEx) * 10000L / nEx,
        sa.map(_.n_kept.toLong).getOrElse(0L),
        sb.map(_.n_kept.toLong).getOrElse(0L))
    }.toDF("l_returnflag", "n_exact", "kmv_est", "err_bp",
      "n_kept_even", "n_kept_odd")
  }

  /** F43 (query-backed): STREAMING PAGE–HINKLEY drift detection — the
    * B140 sequential changepoint monitor actually run SEQUENTIALLY
    * (four O(1) state cells: count, cumulative sum, m_t, min m_j):
    * the ≤|days| daily-revenue aggregate streams in day order (the
    * documented production shape — a windowed upstream agg, never the
    * raw fact, so the arrival count is corpus-INDEPENDENT), three
    * micro-batches plus a re-delivered slice (below the day watermark
    * ⇒ dropped), λ = 10·global-mean supplied as the batch-calibrated
    * fit artifact. The emitted per-day series must reproduce the
    * batch recursion exactly, so the published frame is the B140
    * HEADLINE row itself — and the oracle is the B140 oracle,
    * verbatim.
    */
  def qStreamPageHinkley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Relational.dailyRevenue(s, dir).collect()
      .map { r =>
        // o_orderdate has shipped in several physical temporal types
        val day = r.get(0) match {
          case t: java.sql.Timestamp =>
            t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
          case l: java.time.LocalDateTime => l.toLocalDate
          case i: java.time.Instant =>
            i.atZone(java.time.ZoneOffset.UTC).toLocalDate
          case d: java.sql.Date => d.toLocalDate
          case d: java.time.LocalDate => d
        }
        (day.toEpochDay, r.getLong(1))
      }
      .sortBy(_._1)
    val n = daily.length.toLong
    val gmean = daily.map(_._2).sum / n // λ calibration, the B140 rule
    val lambda = 10L * gmean
    val arrivals = daily.map { case (d, x) => EventStreams.PhIn(d, x) }.toSeq
    val series = StreamScope.gate(s, "gate_ph_out", "update",
        batches(arrivals, 3, replay = arrivals.take(50)))(
      EventStreams.pageHinkleyStream(_, lambda))
      .as[EventStreams.PhOut].collect().toSeq
    require(series.length == daily.length,
      s"stream emitted ${series.length} rows for ${daily.length} days " +
        "(a replayed day double-counted or a day was lost)")
    def dayStr(ed: Long): String =
      java.time.LocalDate.ofEpochDay(ed).toString
    val maxPh = series.map(_.ph).max
    val alarms = series.filter(_.alarm)
    Seq((n, gmean, maxPh,
      dayStr(series.filter(_.ph == maxPh).map(_.day_ed).min),
      alarms.length.toLong,
      alarms.map(_.day_ed).minOption.map(dayStr),
      series.map(_.mt).min))
      .toDF("n_days", "gmean_cents", "max_ph", "peak_day",
        "n_alarm_days", "first_alarm_day", "min_m")
  }

  /** The F45 arrival cap: a COUNT bound on event_id — ~30k arrivals at
    * every gate scale (event ids are dense from 0), replica-0 ids only
    * beyond (frozen).
    */
  private val AbEventMaxId = 30000L

  /** F45 (query-backed): STREAMING A/B CONVERSION MONITOR — the B145
    * two-proportion z-test run as the live experiment dashboard it is
    * in production: four O(1) counter cells (n/x per cohort) advance
    * per arrival (cohort = user parity, the B145 assignment), three
    * micro-batches plus a re-delivered slice (below the event-id
    * watermark ⇒ dropped — a double-counted conversion is exactly the
    * bug this contract catches). The final counters ARE the batch
    * census on the capped arrivals, so the published frame is the
    * full B145 shape — counts, exact integral ppm rates, pooled z via
    * the SAME shared formula text — recomputed by the oracle from
    * parquet, blind to the stream.
    */
  def qStreamTwoProportion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val arrivals = events(s, dir)
      .filter(col("event_id") < AbEventMaxId)
      .select(col("event_id"), (col("user_id") % 2).cast("int"),
        (col("event_type") === "purchase"))
      .collect()
      .map(r => EventStreams.AbIn(r.getLong(0),
        if (r.getInt(1) == 0) 0 else 1, r.getBoolean(2)))
      .sortBy(_.event_id)
      .toSeq
    val fin = StreamScope.gate(s, "gate_ab_out", "update",
        batches(arrivals, 3, replay = arrivals.take(100)))(
      EventStreams.abMonitorStream)
      .as[EventStreams.AbOut].collect().maxBy(_.event_id)
    Seq((fin.n1, fin.x1, fin.n2, fin.x2, fin.p1_ppm, fin.p2_ppm))
      .toDF("n1", "x1", "n2", "x2", "p1_ppm", "p2_ppm")
      .select(col("n1"), col("x1"), col("n2"), col("x2"),
        col("p1_ppm"), col("p2_ppm"),
        graft.functions.dec6(expr(Relational.twoPropZSql)).as("z_stat"))
  }

  /** F49 (query-backed): STREAMING ORDERED-ARM TREND MONITOR — B154's
    * Cochran–Armitage dose-response test live: five O(1) counter
    * cells (n, x, Σscore, Σscore·succ, Σscore²) advance per capped
    * order arrival (arm = priority rank, success = fulfilled), three
    * micro-batches plus a re-delivered slice (event-id watermark ⇒
    * dropped). The final state IS the batch sufficient-statistic row
    * on the capped arrivals; the trend z is the SAME one-float-step
    * shared text, so the oracle recomputes every value from parquet.
    */
  def qStreamCochranArmitage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val arrivals = orders(s, dir)
      .filter(col("o_orderkey") < StreamFactMaxKey)
      .select(col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).cast("long"),
        (col("o_orderstatus") === "F"))
      .collect()
      .map(r => EventStreams.CaIn(r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_.event_id)
      .toSeq
    val fin = StreamScope.gate(s, "gate_ca_out", "update",
        batches(arrivals, 3, replay = arrivals.take(100)))(
      EventStreams.caMonitorStream)
      .as[EventStreams.CaOut].collect().maxBy(_.event_id)
    Seq((fin.n, fin.x, fin.sx, fin.sn, fin.sn2))
      .toDF("n", "x", "sx", "sn", "sn2")
      .select(col("n"), col("x"), col("sx"), col("sn"), col("sn2"),
        graft.functions.dec6(expr(Relational.caZSql)).as("z_stat"))
  }

  /** F50 (query-backed): STREAMING DOMINANCE MONITOR — B155's Cliff's
    * delta effect size live: state is the two ≤51-cell quantity
    * histograms (the domain bound that makes the batch query
    * join-free makes the stream state O(|domain|) FOREVER), each
    * batch re-emitting the exact dominance census via the O(|domain|)
    * cumulative pass; capped lineitem arrivals in the B155 shipdate
    * window, cohorts by shipdate year, dense driver-side event ids
    * (the F46 uniqueness lesson), a re-delivered slice dropped at the
    * watermark. Latest census + the shared δ text == the B155 replica
    * on the capped rows, which the oracle recomputes blind.
    */
  def qStreamCliffsDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val arrivals = lineitem(s, dir)
      .filter(col("l_orderkey") < StreamFactMaxKey &&
        col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1999-01-01"))
      .select(col("l_orderkey"), col("l_linenumber").cast("long"),
        when(col("l_shipdate") < lit("1998-01-01"), 0).otherwise(1),
        col("l_quantity").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .sortBy(identity)
      .zipWithIndex
      .map { case ((_, _, cohort, v), i) =>
        EventStreams.CdIn(i.toLong, cohort, v)
      }
      .toSeq
    val fin = StreamScope.gate(s, "gate_cd_out", "update",
        batches(arrivals, 3, replay = arrivals.take(100)))(
      EventStreams.dominanceStream(_, vMax = 50))
      .as[EventStreams.CdOut].collect().maxBy(_.ver)
    Seq((fin.n_a, fin.n_b, fin.n_gt, fin.n_lt))
      .toDF("na", "nb", "gt", "lt")
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("gt").as("n_gt"), col("lt").as("n_lt"),
        graft.functions.dec6(expr(Relational.cliffsSql)).as("delta"))
  }

  /** The F52 document cap: a COUNT bound on doc_id — the full corpus at
    * sf0.01 (500 docs), 2000 docs at sf0.1, frozen beyond (replica-0
    * ids only — ScaleData shifts replica doc_ids by ≥10⁵).
    */
  private val LshDocMaxId = 2000L

  /** F52 (query-backed): STREAMING MinHash-LSH NEAR-DUP DETECTION —
    * the LSH dedup pillar run as a live detector (same banding kernel
    * as C5/C6 via TextKernels.lshBandKeys): capped documents stream in
    * three micro-batches PLUS a re-delivered slice (bucket membership
    * is a SET — a replayed doc emits nothing, and the cumulative pair
    * set is a pure function of the arrival set), each (band, bkey)
    * bucket accumulating its member ids as keyed state and emitting
    * candidate pairs the moment a new member lands. The stream's
    * distinct candidate set then passes the SAME exact-Jaccard ≥ 0.5
    * verifier as the batch C6 query, so the published frame must equal
    * the batch LSH pipeline row-for-row — which is exactly what the
    * oracle recomputes from parquet, blind to the stream.
    */
  def qStreamLshPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsArr = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => EventStreams.LshDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
      .toSeq
    val cand = StreamScope.gate(s, "gate_lsh_out", "update",
        batches(docsArr, 3, replay = docsArr.take(100)))(
      EventStreams.lshPairsStream(_))
      .as[EventStreams.LshCand].collect()
      .map(c => (c.a_id, c.b_id)).distinct.toSeq
    TextOps.lshStreamConfirm(s, dir,
      cand.toDF("a_id", "b_id"), LshDocMaxId)
  }

  /** F14 (query-backed): STREAMING SemDeDup — the embedding pillar of
    * the live-dedup triple (next to F19's exact canonical dedup and
    * F52's LSH) run as a driver gate: arrivals key by coarse cell
    * (same semCentroids quantizer + argmax rule as batch D9), per-cell
    * state holds the cell's vectors, and the Update-mode changelog
    * re-emits a vector's dup_of whenever a late lower-id arrival
    * re-assigns it. Fed ODD ids then EVEN (the adversarial order: every
    * even arrival is a late lower-id vector) plus a re-delivered slice;
    * latest-per-vec_id must equal batch D9 on the same arrivals — the
    * shared cellDupScan kernel makes the cosines bit-identical — so the
    * oracle is the D9 DuckDB replica itself, capped to the arrival set
    * (vec_id < 10,000: every gate-scale vector, frozen at 10×+ where
    * ScaleData replicas start at 10,000).
    */
  def qStreamSemDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tau = 0.35
    val cents = Similarity.semCentroids(16)
    val vecs = embeddings(s, dir)
      .filter(col("vec_id") < SemStreamMaxVec)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect()
      .map(r => EventStreams.VecArrival(r.getLong(0),
        r.getSeq[Double](1).toArray))
      .sortBy(_.vec_id)
    val (odd, even) = vecs.partition(_.vec_id % 2 == 1)
    val rows = StreamScope.gate(s, "gate_sem_out", "update",
        Seq(odd.toSeq, even.toSeq ++ odd.take(50)))( // replay slice: ignored
      EventStreams.semDedupStream(_, cents, tau))
      .as[EventStreams.DupMark].collect().toSeq
    lastWins(rows.zipWithIndex)(_._1.vec_id, _._2).map(_._1)
      .map(m => (m.vec_id, m.cell, m.dup_of, m.cosine))
      .toDF("vec_id", "cell", "dup_of", "sim")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        graft.functions.dec4(col("sim")).as("cosine"))
  }

  /** F18 (query-backed): STREAMING END-TO-END CURATION — the C31
    * composite (dedup keeper ∧ Gopher quality ∧ eval decontamination ∧
    * deterministic split) attached to the ingest stream: the eval-gram
    * set is the batch-side fit artifact (built from the capped corpus'
    * %97 eval slice, exactly as C31 does), keeper state is F3's
    * first-seen content hash (O(1) per hash; id-ordered arrivals make
    * first-seen == the batch MIN keeper), everything else scores
    * statelessly in Append mode. Two ordered micro-batches; the
    * verdict set must equal the batch C31 pipeline on the same capped
    * docs, so the oracle is the C31 DuckDB replica with the cap
    * applied at both documents scans.
    */
  def qStreamCurate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsAll = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
    val evalGrams = TextOps.shingleGramsOn(
        docsAll.filter(col("doc_id") % 97 === 0), n = 4)
      .select(col("g")).distinct().collect().map(_.getString(0)).toSeq
    val corpus = docsAll.collect()
      .map(r => EventStreams.LshDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id) // monotone-source contract: first-seen == MIN keeper
    val out = StreamScope.gate(s, "gate_cur_out", "append", batches(corpus.toSeq, 2))(
        in => EventStreams.curationStream(in.toDF(), evalGrams))
      .as[EventStreams.CurOut].collect().toSeq
    out.map(o => (o.doc_id, o.is_keeper, o.keep_quality, o.contaminated,
        o.split, o.selected))
      .toDF("doc_id", "is_keeper", "keep_quality", "contaminated",
        "split", "selected")
  }

  /** F22 (query-backed): sessionization via the BUILT-IN
    * `session_window` aggregate — the production state-store path
    * (merging session state, watermark finalization, Append-mode
    * exactly-once emission), vs F2's explicit flatMapGroupsWithState
    * machine: two event-time-ordered micro-batches split sessions
    * mid-stream, then two sentinel batches advance the watermark so
    * every real session FLUSHES out of the state store (Append emits
    * on finalization only — a session still in state would be a
    * missing row). The oracle is the strict-< gaps-and-islands replica
    * in exact micros (new session when gap ≥ 30 min; end = last event
    * + gap), value sums dec2 per the B11 convention. Arrivals capped
    * at event_id < 25,000 (count-bounded feed, the stream-gate rule).
    */
  def qStreamSession(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = events(s, dir)
      .filter(col("event_id") < SessionEvMaxId)
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        col("event_id"), col("value"))
      .collect()
      .map(r => EventStreams.Ev(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(e => (e.ts, e.event_id))
      .toSeq
    val sentinelUid = 999999999L
    val sentinelTs = evs.map(_.ts).max + 7L * 24 * 3600 * 1000000L
    // two sentinel batches: the first advances max event time, the
    // second runs with the advanced watermark and flushes every real
    // session out of the state store
    val feed = batches(evs, 2) ++ Seq(
      Seq(EventStreams.Ev(sentinelUid, sentinelTs, 1L, 0.0)),
      Seq(EventStreams.Ev(sentinelUid, sentinelTs + 1000000L, 2L, 0.0)))
    val rows = StreamScope.gate(s, "gate_sw_out", "append", feed)(in =>
        EventStreams.sessionWindowStream(
          in.toDF().withColumn("ts", timestamp_micros(col("ts")))))
      .filter(col("user_id") =!= sentinelUid)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start"),
        unix_micros(col("session_end")).as("session_end"),
        col("n_events"), col("sum_value"))
      .collect().toSeq
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toDF("user_id", "session_start", "session_end", "n_events", "sv")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), graft.functions.dec2(col("sv")).as("sum_value"))
  }

  /** F8 arrival shape: the C20 PII-injected document (doc_id, t). */
  final case class PiiArrival(doc_id: Long, t: String)

  /** F23 arrival shape: one raster cell (v = None at NoData cells). */
  final case class CellArrival(x: Long, y: Long, v: Option[Long])

  /** F8 (query-backed): STREAMING PII CURATION — the C20 detection +
    * redaction expressions attached UNCHANGED to the document stream
    * (the ideal stateless streaming shape: curation expressions are
    * pure per-row codegen, so the stream is append mode with no state
    * store at all). Capped arrivals, two micro-batches; the Append
    * verdicts must equal the batch C20 pipeline on the same capped
    * docs, so the oracle is the C20 DuckDB replica (regex census +
    * redacted-text md5) with the cap at its one documents scan — a
    * regex drift, a redaction-order bug, or a row lost between batches
    * breaks the hash.
    */
  def qStreamPii(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsArr = TextOps.piiInput(
        documents(s, dir).filter(col("doc_id") < LshDocMaxId))
      .collect()
      .map(r => PiiArrival(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    val rows = StreamScope.gate(s, "gate_pii_out", "append", batches(docsArr.toSeq, 2))(
        in => TextOps.piiOn(in.toDF()))
      .collect().toSeq
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .toDF("doc_id", "n_email", "n_phone", "n_ip", "redacted_md5")
  }

  /** F12 (query-backed): STREAMING GOPHER QUALITY GATE — the C15
    * per-rule flag expressions (gopherOn) attached unchanged to the
    * document stream (stateless append mode, like F8). Capped
    * arrivals, two micro-batches; Append flags equal the batch C15
    * verdicts, oracle = the C15 replica with the cap at its documents
    * scan.
    */
  def qStreamGopher(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsArr = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => EventStreams.LshDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    val rows = StreamScope.gate(s, "gate_gopher_out", "append", batches(docsArr.toSeq, 2))(
        in => TextOps.gopherOn(in.toDF()))
      .collect().toSeq
    rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
      .toDF("doc_id", "n_words", "f_wordcount", "f_wordlen", "f_alpha",
        "f_stop", "keep")
  }

  /** F23 (query-backed): STREAMING ZONAL STATISTICS — the raster
    * pillar's streaming entry (batch twin A29): every zonal statistic
    * is associative, so `Estimation.zonalStats` attaches UNCHANGED as
    * one built-in Update-mode aggregate; the fixture grid's cells
    * arrive in two interleaved-stripe batches (every zone is updated
    * across the batch boundary), and the latest changelog row per zone
    * is the final census — which must equal the batch A29 gate
    * exactly, so the oracle is the A29 md5-formula replica verbatim
    * (the grid is corpus-independent; no cap needed).
    */
  def qStreamZonal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = graft.sources.Synthetic.rasterGrid(s, 120L, 80L)
      .collect()
      .map(r => CellArrival(r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val (h1, h2) = cells.partition(_.x % 2 == 0) // interleaved stripes
    val rows = StreamScope.gate(s, "gate_zonal_out", "update", Seq(h1.toSeq, h2.toSeq))(
        in => Estimation.zonalStats(in.toDF()))
      .collect().toSeq
    lastWins(rows.zipWithIndex)(_._1.getLong(0), _._2).map(_._1)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toDF("zone", "n_cells", "n_valid", "vsum", "vmin", "vmax",
        "zonal_mean")
  }

  /** F13 (query-backed): STREAMING CHUNKER — the C28 context-window
    * packer (32-word windows, stride 24) attached UNCHANGED to the
    * capped document stream: pure stateless codegen (split + sequence
    * + slice + posexplode), Append mode, no state store. Two
    * micro-batches; the emitted (chunk_idx, n_tokens, chunk md5) rows
    * must equal the batch C28 replica with the cap at the scan — a
    * boundary-off-by-one in the window math or a row lost between
    * batches breaks the hash.
    */
  def qStreamChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsArr = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => EventStreams.LshDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    val rows = StreamScope.gate(s, "gate_chunks_out", "append", batches(docsArr.toSeq, 2))(
        in => TextOps.chunksOn(in.toDF()))
      .collect().toSeq
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toDF("doc_id", "chunk_idx", "n_tokens", "chunk_md5")
  }

  /** F9 (query-backed): STREAMING VOCABULARY COUNTS — the C23
    * primitive as Spark's BUILT-IN stateful streaming aggregate
    * (`groupBy(term).count()` in Update mode — count state sharded by
    * term hash, no custom state code at all: the simplest possible
    * stateful-streaming shape, gated so the built-in path has a
    * driver-verified row next to the flatMapGroupsWithState machines).
    * Two micro-batches over the capped docs; the reader keeps the
    * LATEST changelog row per term and publishes the top-30 by
    * (tf DESC, term) — which must equal the batch term counts on the
    * same capped corpus (oracle recomputed from the documents scan; a
    * count state lost or double-applied across the batch boundary
    * breaks the hash).
    */
  def qStreamVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsArr = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => EventStreams.LshDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    val rows = StreamScope.gate(s, "gate_vocab_out", "update", batches(docsArr.toSeq, 2))(
        in => EventStreams.vocabStream(in.toDF()))
      .collect().toSeq
    lastWins(rows.zipWithIndex)(_._1.getString(0), _._2).map(_._1)
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, n) => (-n, t) }
      .take(30)
      .toDF("term", "tf")
  }

  /** F3/F4 arrival shape: one event row with its type and value. */
  final case class FullEv(event_id: Long, user_id: Long, ts: Long,
                          event_type: String, value: Double)

  /** Capped, event-time-ordered event arrivals for the streaming join
    * gates (count bound, the stream-gate rule; `cap` defaults to F22's
    * SessionEvMaxId).
    */
  private def orderedEventArrivals(s: SparkSession, dir: String,
                                   cap: Long = SessionEvMaxId): Seq[FullEv] =
    events(s, dir)
      .filter(col("event_id") < cap)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts"),
        col("event_type"), col("value"))
      .collect()
      .map(r => FullEv(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts, e.event_id))
      .toSeq

  /** Split an event-time-ordered feed at a STRICT timestamp boundary at
    * or after the midpoint — batches then respect the per-key
    * event-time-order contract even when timestamps tie.
    */
  private def splitAtTsBoundary[T](evs: Seq[T])(ts: T => Long): (Seq[T], Seq[T]) = {
    val mid = evs.length / 2
    val cut = (mid until evs.length - 1)
      .find(i => ts(evs(i)) < ts(evs(i + 1)))
      .map(_ + 1).getOrElse(evs.length)
    evs.splitAt(cut)
  }

  /** F3 (query-backed): WATERMARK-BOUNDED STREAMING EXACT DEDUP — the
    * production at-least-once front door (batch twin C1's keyed dedup):
    * `dropDuplicates` over (event_id, ts) under an event-time watermark,
    * so state holds only ids inside the horizon. The capped feed is
    * delivered in two ordered micro-batches and then a THIRD batch
    * re-delivers a slice of each (the at-least-once contract) — every
    * re-delivery must be suppressed by dedup state, so the Append
    * output is exactly one row per event and the published per-type
    * census (count, distinct users, exact value cents) equals the plain
    * batch census a DuckDB scan computes with no duplicates fed at all.
    */
  def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h1, h2) = splitAtTsBoundary(orderedEventArrivals(s, dir))(_.ts)
    val feed = Seq(h1,
      // second batch arrives WITH duplicates of the first (cross-batch
      // re-delivery: must hit batch-1's state store entries)
      h2 ++ h1.take(500),
      // third batch: re-deliver slices of both batches
      h1.slice(100, 200) ++ h2.take(300))
    val rows = StreamScope.gate(s, "gate_dedup_out", "append", feed)(in =>
        EventStreams.dedupStream(
          in.toDF().withColumn("ts", timestamp_micros(col("ts"))),
          Seq("event_id"), watermark = "30 days"))
      .collect().toSeq
    rows.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("user_id"),
        math.round(r.getAs[Double]("value") * 100)))
      .groupBy(_._1).toSeq
      .map { case (t, rs) =>
        (t, rs.size.toLong, rs.map(_._2).distinct.size.toLong,
          rs.map(_._3).sum)
      }
      .toDF("event_type", "n_events", "n_users", "value_cents")
  }

  /** F4's arrival cap: half of F22's — the stream-stream join's cost is
    * two keyed state stores per side per micro-batch plus the
    * watermark-eviction no-data batches, all exercised identically at
    * any feed size; 12k events keeps the gate in the stream-gate cost
    * band while incidents still span the batch boundary by the
    * thousands.
    */
  private val IntervalEvMaxId = 12000L

  /** F4 (query-backed): STREAM-STREAM INTERVAL JOIN — dual watermarks,
    * event-time bounds on both ends (state evicts at i_ts + 1h), the
    * production incident-window shape (batch twin B12). The capped feed
    * arrives in two ordered micro-batches; incidents opened in batch 1
    * must join events arriving in batch 2 out of the state store. The
    * published frame is B12's exactly — per incident: joined-event
    * count and dec2 value sum — and the oracle is the B12 replica with
    * the cap at both scans.
    */
  def qStreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (h1, h2) = splitAtTsBoundary(
      orderedEventArrivals(s, dir, cap = IntervalEvMaxId))(_.ts)
    val joined = StreamScope.gate(s, "gate_ij_out", "append", Seq(h1, h2),
        // 2 shuffle partitions, not the stream-gate default 8: the join
        // pays FOUR state-store commits per partition per micro-batch
        // (two keyed stores per side), so partition count is the
        // dominant fixed cost at this feed size (measured quiet:
        // 8 → 6.8s, 4 → 4.7s, 2 → 4.1s)
        "spark.sql.shuffle.partitions" -> "2",
        // INNER stream-stream joins emit at match time — the no-data
        // watermark batches only evict state early (the next data batch
        // evicts identically), so the gate skips them: 4 micro-batches → 2
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")(in =>
        EventStreams.incidentJoinStream(
          in.toDF().withColumn("ts", timestamp_micros(col("ts")))))
      .collect().toSeq
    joined.map(r => (r.getAs[Long]("incident_id"), r.getAs[Double]("value")))
      .groupBy(_._1).toSeq
      .map { case (inc, rs) => (inc, rs.size.toLong, rs.map(_._2).sum) }
      .toDF("incident_id", "n_events", "sv")
      .select(col("incident_id"), col("n_events"),
        graft.functions.dec2(col("sv")).as("sum_value"))
  }

  /** F5 (query-backed): STREAMING AS-OF JOIN — each event enriched with
    * the most recent order (orderdate ≤ event ts, ties to the highest
    * orderkey) of the same user, via O(1)-per-user
    * flatMapGroupsWithState (batch twin B9, whose custom-exec siblings
    * are B9b/B9c). Orders (tag 0) and events (tag 1) merge into one
    * event-time-ordered keyed stream, split into two micro-batches at a
    * strict ts boundary — enrichments in batch 2 must come from order
    * state persisted in batch 1. A third batch re-delivers a slice of
    * ORDER rows (idempotent for the monotone max-state; probes are
    * never replayed, so the Update changelog has exactly one row per
    * event). The published frame is B9's; the oracle is the DuckDB
    * ASOF LEFT JOIN replica with the caps applied at both scans.
    */
  def qStreamAsOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ords = orders(s, dir)
      .filter(col("o_orderkey") < StreamFactMaxKey)
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts"),
        col("o_orderkey"), col("o_totalprice"))
      .collect()
      .map(r => EventStreams.AsOfIn(r.getLong(0), r.getLong(1), 0, -1L,
        r.getLong(2), r.getDouble(3)))
    val probes = events(s, dir)
      .filter(col("event_id") < SessionEvMaxId)
      .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("event_id"))
      .collect()
      .map(r => EventStreams.AsOfIn(r.getLong(0), r.getLong(1), 1,
        r.getLong(2), -1L, 0.0))
    val all = (ords ++ probes)
      .sortBy(r => (r.ts, r.tag, r.event_id, r.o_orderkey)).toSeq
    val (h1, h2) = splitAtTsBoundary(all)(_.ts)
    // replay a slice of ORDER rows only: monotone state ignores stale
    // re-deliveries, so the changelog stays one-row-per-event
    val rows = StreamScope.gate(s, "gate_asof_out", "update",
        Seq(h1, h2, h1.filter(_.tag == 0).take(200)))(
      EventStreams.asOfStream)
      .collect().toSeq
    rows.map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None: Option[Long] else Some(r.getLong(2)),
        if (r.isNullAt(3)) None: Option[Double] else Some(r.getDouble(3))))
      .toDF("event_id", "user_id", "o_orderkey", "tp")
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        graft.functions.dec2(col("tp")).as("o_totalprice"))
  }

  /** F7 (query-backed): STREAMING PER-KEY TOP-N — bounded O(N)-per-key
    * state via flatMapGroupsWithState (batch twin B5's topNPerKey
    * posture: never a global sort), Update-mode changelog re-emitted
    * only when a user's top set changes. Two micro-batches plus a
    * replayed slice (the merge is set-distinct on (value, event_id) —
    * re-deliveries are idempotent); the latest changelog row per
    * (user, rank) must equal the batch per-user top-3 by
    * (value DESC, event_id), recomputed by the oracle from the capped
    * events scan.
    */
  def qStreamTopN(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = orderedEventArrivals(s, dir)
      .map(e => EventStreams.Ev(e.user_id, e.ts, e.event_id, e.value))
    val (h1, h2) = splitAtTsBoundary(evs)(_.ts)
    val rows = StreamScope.gate(s, "gate_topn_out", "update",
        Seq(h1, h2 ++ h1.take(300)))( // replay: set-distinct merge
      EventStreams.topNStream(_, n = 3))
      .as[EventStreams.TopNOut].collect().toSeq
    lastWins(rows.zipWithIndex)(o => (o._1.user_id, o._1.rn), _._2).map(_._1)
      .map(o => (o.user_id, o.rn.toLong, o.event_id, o.value))
      .toDF("user_id", "rn", "event_id", "v")
      .select(col("user_id"), col("rn"), col("event_id"),
        graft.functions.dec2(col("v")).as("value"))
  }

  /** F10 (query-backed): STREAMING CONVERSION FUNNEL — each user's
    * first view/click/purchase timestamps as O(1) state, Update-mode
    * depth changelog (batch twin B50, same ordering rule: click counts
    * only after a view, purchase only after a qualifying click). Two
    * micro-batches plus a replayed slice (first-occurrence min-fold is
    * idempotent); the latest depth per user, bucketed, must equal the
    * batch B50 funnel census — the oracle is the B50 replica with the
    * cap at its events scan.
    */
  def qStreamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val evs = orderedEventArrivals(s, dir)
      .map(e => EventStreams.FEv(e.user_id, e.ts, e.event_type))
    val (h1, h2) = splitAtTsBoundary(evs)(_.ts)
    val rows = StreamScope.gate(s, "gate_funnel_out", "update",
        Seq(h1, h2 ++ h1.take(400)))( // replay: min-fold idempotent
      EventStreams.funnelStream)
      .as[EventStreams.FunnelOut].collect().toSeq
    val latest = lastWins(rows.zipWithIndex)(_._1.user_id, _._2).map(_._1)
    val n = latest.size.toLong
    Seq((n,
        latest.count(_.stage >= 1).toLong,
        latest.count(_.stage >= 2).toLong,
        latest.count(_.stage >= 3).toLong))
      .toDF("n_users", "n_view", "n_view_click", "n_full_funnel")
  }

  /** F11 (query-backed): STREAMING BLOOM DECONTAMINATION — the C18
    * eval-set bitmask is built ONCE batch-side from the capped corpus'
    * %97 eval slice, then the C18 membership expressions attach
    * UNCHANGED to the training-document stream: completely stateless,
    * Append mode, no state store (the cheapest possible streaming
    * screen — the filter rides in the task binary). Two micro-batches;
    * the per-doc (maybe-hit, true-hit) census over the flagged rows
    * must equal the batch C18 gate on the same capped docs (Bloom has
    * no false negatives, so every true eval gram is in the flagged
    * set), oracle = the C18 replica with the cap at its documents scan.
    */
  def qStreamBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsAll = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
    val evGrams = TextOps.shingleGramsOn(
        docsAll.filter(col("doc_id") % 97 === 0), n = 4)
      .select(col("g")).distinct()
    val bitmask = TextOps.bloomBitmaskOf(evGrams)
    val evSet = evGrams.collect().map(_.getString(0)).toSet
    val docsArr = docsAll.filter(col("doc_id") % 97 =!= 0).collect()
      .map(r => EventStreams.LshDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    val flagged = StreamScope.gate(s, "gate_bloom_out", "append", batches(docsArr.toSeq, 2))(
        in => EventStreams.bloomDecontamStream(in.toDF(), bitmask))
      .collect().toSeq
    flagged.map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).toSeq
      .map { case (d, gs) =>
        (d, gs.size.toLong, gs.count(g => evSet(g._2)).toLong)
      }
      .toDF("doc_id", "n_maybe", "n_true")
  }

  /** F19 (query-backed): STREAMING CANONICALIZING DEDUP — the C36
    * normalization expression attached unchanged + first-seen-per-
    * canonical-hash state (dropDuplicates). Two id-ordered micro-
    * batches plus a replayed slice (state suppresses re-deliveries);
    * under id-ordered arrivals the kept set equals C36's min-id
    * keepers exactly, so the oracle is the min-id-per-canonical-form
    * group with the cap at the documents scan.
    */
  def qStreamCanonDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsArr = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => EventStreams.LshDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id) // monotone-source contract: first-seen == MIN keeper
      .toSeq
    val keepers = StreamScope.gate(s, "gate_canon_out", "append",
        batches(docsArr, 2, replay = docsArr.take(200)))(
        in => EventStreams.canonDedupStream(in.toDF()))
      .collect().toSeq
    keepers.map(r => (r.getLong(0), r.getString(1)))
      .toDF("keeper_id", "canon_md5")
  }

  /** F14's count-bounded arrival cap: every gate-scale vector passes
    * (max vec_id 1,999 at sf0.1), frozen at 10×+ (ScaleData replica
    * vec_ids start at 10,000).
    */
  private val SemStreamMaxVec = 10000L

  /** F22's count-bounded arrival cap (~25k arrivals at sf0.1; inactive
    * at sf0.01's 10k events). Session-window state is per-open-session
    * (fine-grained keys), so its per-batch state-store cost runs above
    * the sketch gates' — half the Zipf feed class keeps the gate inside
    * the 4s budget while the watermark/merge/flush machinery is
    * exercised identically.
    */
  private val SessionEvMaxId = 25000L

  /** The 50k-row Zipf fixture rebuilt row-by-row from the md5 formulas
    * (the B57-B62 oracle convention at the stream gate's row count).
    */
  private lazy val streamZipfFixtureSql: String = {
    val hu = TF.hexPrefix52Sql("md5('zu|'||i)")
    s"""(SELECT CAST(LEAST(4503599627370496 // ($hu + 1), 1000) AS BIGINT) AS user_id
      |  FROM (SELECT unnest(range($StreamZipfRows)) AS i))""".stripMargin
  }

  private def zipfTop5FlagsSql(f1: String, f2: String): String =
    s"""WITH e AS $streamZipfFixtureSql,
      |t AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM e
      |  GROUP BY 1 ORDER BY true_cnt DESC, user_id LIMIT 5)
      |SELECT user_id, true_cnt, 1 AS $f1, 1 AS $f2
      |FROM t ORDER BY user_id""".stripMargin

  /** Cap-injection with the require-exactly-one discipline: a reworded
    * batch oracle must fail loudly here, not silently lose the cap.
    */
  private def replaceOnce(sql: String, from: String, to: String): String = {
    require(sql.sliding(from.length).count(_ == from) == 1,
      s"oracle must contain exactly one '$from'")
    sql.replace(from, to)
  }

  /** F28 gate parameters: the online CUSUM baseline μ₀ and slack k on
    * the Zipf fixture's uniform-ish v ∈ [0, 100000) — centered near the
    * mean so both one-sided accumulators stay active, wide enough slack
    * that the clamps at 0 actually fire (the nonlinearity under test).
    */
  private val CusumMu0 = 50000L
  private val CusumSlack = 5000L

  /** F28 (query-backed): STREAMING PER-KEY CUSUM — Page's one-sided
    * level-shift monitor maintained incrementally (same cusumStep
    * kernel as the spec's fold, O(1) exact-integer state per key),
    * three micro-batches over the 50k Zipf stream plus a replayed
    * slice (the event-id watermark drops re-deliveries). Publishes the
    * per-key FINAL state (s⁺/s⁻ and their running maxima) — and the
    * oracle recomputes it with NO recursion via the reflection closed
    * form: with Sₜ the running sum of (x − μ₀ − k), the clamped
    * recursion s⁺ ← max(0, s⁺ + a) telescopes to
    * s⁺ₜ = Sₜ − min(0, min_{j≤t} Sⱼ), so two chained window passes
    * (running sum, then running min) reproduce every intermediate
    * value and the maxima exactly. A counter lost across batches, a
    * replay advancing state, or a clamp mis-ordered breaks the hash.
    */
  def qStreamCusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the monotone-source contract: arrivals in event_id order
    val ev = zipfArrivals(s).sortBy(_.event_id)
    // replay below the high-water mark must not advance any state
    val rows = StreamScope.gate(s, "gate_cusum_out", "update",
        batches(ev, 3, replay = ev.take(100), at = 1))(
      EventStreams.cusumStream(_, CusumMu0, CusumSlack))
      .as[EventStreams.CusumOut].collect().toSeq
    rows.groupBy(_.user_id).toSeq.map { case (u, rs) =>
      val fin = rs.maxBy(_.event_id)
      (u, rs.size.toLong, fin.s_pos, fin.s_neg, fin.max_pos, fin.max_neg)
    }.toDF("user_id", "n_events", "s_pos", "s_neg", "max_pos", "max_neg")
  }

  /** The F29/F34 gate feed: the B96/B111 daily-revenue series (the
    * ≤|days| calendar domain — bounded at any scale factor, which is
    * why the whole series can drive a MemoryStream), day-ordered with
    * the day index as the event id.
    */
  private def dailySeriesArrivals(s: SparkSession, dir: String): Seq[KeyedVal] =
    // order kept: zipWithIndex numbers the days in calendar order
    Relational.dailyRevenue(s, dir).orderBy(col("day"))
      .select(col("x").cast("long"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => KeyedVal(0L, i.toLong, r.getLong(0)) }
      .toSeq

  /** F29 (query-backed): STREAMING HOLT SMOOTHER — the B96 double-
    * exponential recursion maintained incrementally over the daily-
    * revenue series (SAME holtStep kernel and l₁=x₁ / b₁=x₂−x₁ init,
    * so stream and batch CANNOT diverge), three micro-batches plus a
    * replayed slice (event-id watermark). Publishes the B96 frame
    * from the final changelog row; the oracle is the batch q_holt
    * recursive-CTE oracle VERBATIM — two implementations (stateful
    * stream vs bounded-partition fold), one DuckDB-checked contract.
    */
  def qStreamHolt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = dailySeriesArrivals(s, dir)
    // replay below the high-water mark must not advance the recursion
    val fin = StreamScope.gate(s, "gate_holt_out", "update",
        batches(ev, 3, replay = ev.take(50), at = 1))(
      EventStreams.holtStream)
      .as[EventStreams.HoltOut].collect().maxBy(_.event_id)
    Seq((fin.n, fin.level_e6, fin.trend_e6, fin.level_e6 + fin.trend_e6,
        fin.level_e6 + 7L * fin.trend_e6, fin.level_e6 + 30L * fin.trend_e6))
      .toDF("n_days", "level_e6", "trend_e6", "f1_e6", "f7_e6", "f30_e6")
  }

  /** F34 (query-backed): STREAMING HOLT–WINTERS — the B111 additive
    * seasonal recursion maintained incrementally over the same daily
    * series (SAME hwInit/hwStep float-free integral kernels: ≤14-slot
    * init buffer, then 9 longs of state), three micro-batches plus a
    * replayed slice. Publishes (n_days, level, trend, next-step
    * forecast) from the final changelog row; the oracle is the batch
    * q_holt_winters recursive CTE with its final projection reduced to
    * the state the stream's changelog carries (the seasonal envelope
    * needs the full queue, which HwOut deliberately omits — O(1)
    * emission width).
    */
  def qStreamHoltWinters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = dailySeriesArrivals(s, dir)
    val fin = StreamScope.gate(s, "gate_hw_out", "update",
        batches(ev, 3, replay = ev.take(50), at = 1))(
      EventStreams.holtWintersStream)
      .as[EventStreams.HwOut].collect().maxBy(_.event_id)
    Seq((fin.n, fin.level_e6, fin.trend_e6, fin.f1_e6))
      .toDF("n_days", "level_e6", "trend_e6", "f1_e6")
  }

  /** F27 (query-backed): STREAMING FIRST-DIGIT AUDIT — the B89 Benford
    * census as ONE built-in Update-mode count aggregate (O(9) state,
    * never grows) over the capped order stream, two micro-batches,
    * latest count per digit from the changelog (last wins). The
    * published frame is B89's on the capped scan plus the Nigrini MAD
    * from the shared benfordMadE6 kernel; the oracle recomputes the
    * histogram, the exact integral-ppm shares, and the MAD (over all
    * nine digits, absent ones as zero — the kernel's convention) from
    * the capped orders scan.
    */
  def qStreamBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vals = orders(s, dir)
      .filter(col("o_orderkey") < StreamFactMaxKey)
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1)
    val hist = StreamScope.gate(s, "gate_benford_out", "update", batches(vals.toSeq, 2))(
        in => EventStreams.benfordDigitStream(in.toDF("id", "value")))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).max } // counts only grow
    val mad = EventStreams.benfordMadE6(hist)
    val n = hist.values.sum
    val refs = Relational.benford1Table.toMap
    hist.toSeq.sortBy(_._1)
      .map { case (d, nd) => (d, nd, refs(d)) }
      .toDF("digit", "n_d", "p_ben_e6")
      .select(col("digit"), col("n_d"),
        expr(s"(n_d * 1000000) div $n").as("p_obs_ppm"),
        col("p_ben_e6"),
        lit(mad).as("mad_e6"))
  }

  /** The F30/F31/F35/F36 journey feed: the capped events scan as typed
    * arrivals in event-id order (ts-monotone per user on this fixture,
    * so the kernels' event-id watermark and the batch twins'
    * (ts, event_id) windows agree — the F30 StreamingSpec pins it).
    */
  private def attrArrivals(s: SparkSession, dir: String): Seq[EventStreams.AttrEvent] =
    events(s, dir)
      .filter(col("event_id") < SessionEvMaxId)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "event_type")
      .collect()
      .map(r => EventStreams.AttrEvent(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
      .sortBy(_.event_id)
      .toSeq

  /** F30 (query-backed): STREAMING TOUCH ATTRIBUTION — each purchase
    * credited the moment it lands from O(1) per-user state (last-touch
    * with the 7-day lookback + first-touch), instead of the batch B104
    * full-history window. Two micro-batches plus a replayed slice (the
    * event-id watermark must not re-credit a purchase). The per-model
    * aggregate over the credited purchases is published in B104's
    * frame; the oracle is the B104 replica with the cap at its events
    * scan — a double-credit, lost state, or lookback-boundary error
    * breaks counts or the exact gap sums.
    */
  def qStreamAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = attrArrivals(s, dir)
    val got = StreamScope.gate(s, "gate_attr_out", "update",
        batches(ev, 2, replay = ev.take(300)))( // replay: watermark drops
      EventStreams.attributionStream)
      .as[EventStreams.AttrOut].collect().toSeq
    val lastAgg = got.groupBy(_.last_type).toSeq.map { case (t, xs) =>
      ("last", t, xs.size.toLong, xs.filter(_.gap_us >= 0).map(_.gap_us).sum)
    }
    val firstAgg = got.groupBy(_.first_type).toSeq.map { case (t, xs) =>
      ("first", t, xs.size.toLong, 0L)
    }
    (lastAgg ++ firstAgg)
      .toDF("model", "touch_type", "n_purchases", "sum_gap_us")
  }

  /** F31 (query-backed): STREAMING JOURNEY TRANSITIONS — the B105 lag
    * window incrementalized to O(1) per-user state (previous type +
    * event-id watermark); each arrival emits its (prev → current)
    * pair immediately. Two micro-batches plus a replayed slice (a
    * re-delivered event must not emit a duplicate pair). The pair
    * census with per-from totals and exact integral-ppm row shares is
    * B105's frame; the oracle is the B105 replica with the cap at its
    * events scan.
    */
  def qStreamTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = attrArrivals(s, dir)
    val got = StreamScope.gate(s, "gate_trans_out", "update",
        batches(ev, 2, replay = ev.take(300)))( // replay: no dup pairs
      EventStreams.transitionStream)
      .as[EventStreams.TransOut].collect().toSeq
    val counts = got.groupBy(t => (t.from_type, t.to_type)).toSeq
      .map { case ((f, t), xs) => (f, t, xs.size.toLong) }
    val fromTot = counts.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._3).sum }
    counts.map { case (f, t, n) =>
      (f, t, n, fromTot(f), n * 1000000L / fromTot(f))
    }.toDF("from_type", "to_type", "n", "n_from", "p_ppm")
  }

  /** F35 (query-backed): STREAMING WITHIN-SESSION PATHS — each arrival
    * completing a consecutive event-type trigram inside the open
    * 30-min-gap session emits it immediately from O(1) state (two
    * strings + two longs; gap reset clears the pair so trigrams never
    * span sessions — exactly the batch B112 per-(user, session)
    * window). Two micro-batches plus a replayed slice. The trigram
    * census (top-20 by count with exact ppm shares) is B112's frame;
    * the oracle is the B112 replica with the cap at its events scan.
    */
  def qStreamEventPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = attrArrivals(s, dir)
    val got = StreamScope.gate(s, "gate_paths_out", "update",
        batches(ev, 2, replay = ev.take(300)))( // replay: no dup trigrams
      EventStreams.eventPathsStream)
      .as[EventStreams.PathOut].collect().toSeq
    val counts = got.groupBy(p => (p.t1, p.t2, p.t3)).toSeq
      .map { case ((t1, t2, t3), xs) => (t1, t2, t3, xs.size.toLong) }
    val nt = counts.map(_._4).sum
    counts.sortBy { case (t1, t2, t3, n) => (-n, t1, t2, t3) }.take(20)
      .map { case (t1, t2, t3, n) => (t1, t2, t3, n, n * 1000000L / nt) }
      .toDF("t1", "t2", "t3", "n", "share_ppm")
  }

  /** The F33/F37 ledger feed: the capped lineitem scan as per-part
    * arrivals with a PACKED event id encoding the batch twins'
    * (shipdate, orderkey, linenumber) processing order — ed·2¹⁸ +
    * ok·2⁴ + ln (ok < 8000 < 2¹⁴, ln ≤ 7 < 2⁴), so the kernels'
    * event-id watermark realizes exactly the B108/B117 fold order.
    * Returns (partkey, packed_id, epoch_day, payload).
    */
  private def ledgerArrivals(s: SparkSession, dir: String,
                             payload: org.apache.spark.sql.Column): Seq[(Long, Long, Long, Long)] =
    lineitem(s, dir)
      .filter(col("l_orderkey") < StreamFactMaxKey)
      .select(col("l_partkey"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01")).cast("long")
          .as("ed"),
        col("l_orderkey"), col("l_linenumber").cast("long"), payload.as("pay"))
      .collect()
      .map { r =>
        val packed = (r.getLong(1) << 18) | (r.getLong(2) << 4) | r.getLong(3)
        (r.getLong(0), packed, r.getLong(1), r.getLong(4))
      }
      .sortBy(_._2)
      .toSeq

  /** F33 (query-backed): STREAMING CLAMPED BALANCE — the B108
    * inventory replay bal ← max(0, bal + Δ) incrementalized to O(1)
    * exact-integer state per part (the non-linear recursion no
    * streaming window expresses). Two micro-batches plus a replayed
    * slice (packed-event-id watermark). The per-part final state
    * (balance, running max, clamp count) is B108's frame; the oracle
    * is the B108 recursive-CTE replica with the cap at its scan — a
    * clamp mis-ordered across the batch boundary breaks every
    * downstream value.
    */
  def qStreamClampedBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = ledgerArrivals(s, dir,
        col("l_quantity").cast("long") *
          when(col("l_returnflag") === "R", -1L).otherwise(1L))
      .map { case (pk, id, _, delta) => KeyedVal(pk, id, delta) }
    val latest = StreamScope.gate(s, "gate_bal_out", "update",
        batches(ev, 2, replay = ev.take(200)))( // replay: watermark drops
      EventStreams.clampedBalanceStream)
      .as[EventStreams.BalOut].collect()
      .groupBy(_.user_id)
      .map { case (_, rs) => rs.maxBy(_.event_id) }
      .toSeq
    latest.map(o => (o.user_id, o.n, o.bal, o.mx, o.clamps))
      .toDF("partkey", "n_events", "final_bal", "max_bal", "n_clamps")
  }

  /** F37 (query-backed): STREAMING CROSTON SMOOTHER — the B117
    * intermittent-demand recursion incrementalized per part (SAME
    * crostonStep integral kernel; gap = whole days since the previous
    * demand, floored at 1 — the epoch-day ts makes the stream's
    * floorDiv reproduce the batch's date_diff exactly). Two
    * micro-batches plus a replayed slice. The per-part final state
    * (n, size, interval, integral forecast) is B117's frame; the
    * oracle is the B117 recursive-CTE replica with the cap at its
    * scan.
    */
  def qStreamCroston(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = ledgerArrivals(s, dir, col("l_quantity").cast("long"))
      .map { case (pk, id, ed, z) =>
        EventStreams.CrostonEvent(pk, id, ed * 86400000000L, z)
      }
    val latest = StreamScope.gate(s, "gate_croston_out", "update",
        batches(ev, 2, replay = ev.take(200)))( // replay: watermark drops
      EventStreams.crostonStream)
      .as[EventStreams.CrostonOut].collect()
      .groupBy(_.user_id)
      .map { case (_, rs) => rs.maxBy(_.event_id) }
      .toSeq
    latest.map(o => (o.user_id, o.n, o.z_e6, o.p_e6, o.forecast_e6))
      .toDF("partkey", "n_demands", "z_e6", "p_e6", "forecast_e6")
  }

  /** F39's wider fact cap: same-day same-customer order pairs are rare
    * (the audit's point), so the burst census needs a bigger slice
    * than the 8k default to stay non-degenerate at sf0.01; fixed
    * constant — inactive above sf0.1, frozen beyond (the hash-stable
    * bound rule).
    */
  private val BurstOrderMaxKey = 60000L

  /** F39 (query-backed): STREAMING SAME-DAY BURST DETECTOR — each
    * order folds into its customer's CURRENT-day aggregate (a later
    * day replaces the state, no timers), every arrival making today's
    * count ≥ 2 emits the running burst immediately; replay-safe via
    * the LEXICOGRAPHIC (day, order-key) watermark (orderkeys are not
    * day-monotone). Two (day, key)-ordered micro-batches plus a
    * replayed slice. The changelog compacted to the latest row per
    * (customer, day) is the B125 census minus first_orderkey (the
    * state holds it; the O(1) emission deliberately omits it); the
    * oracle recomputes the top-20 burst frame from the capped orders
    * scan.
    */
  def qStreamSameDayBursts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = orders(s, dir)
      .filter(col("o_orderkey") < BurstOrderMaxKey)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01")).cast("long"),
        round(col("o_totalprice") * 100, 0).cast("long"))
      .collect()
      .map(r => EventStreams.OrderEvent(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
      .sortBy(e => (e.day_ed, e.order_key)) // the lexicographic watermark order
      .toSeq
    val latest = StreamScope.gate(s, "gate_burst_out", "update",
        batches(ev, 2, replay = ev.take(200)))( // replay: watermark drops
      EventStreams.sameDayBurstStream)
      .as[EventStreams.BurstOut].collect()
      .groupBy(o => (o.ck, o.day_ed))
      .map { case (_, rs) => rs.maxBy(_.n_today) }
      .toSeq
    latest.sortBy(o => (-o.n_today, o.ck, o.day_ed)).take(20)
      .map(o => (o.ck, o.day_ed, o.n_today, o.total_cents, o.order_key,
        o.spread_cents))
      .toDF("ck", "day_ed", "n_orders", "total_cents", "last_orderkey",
        "spread_cents")
  }

  /** F41 (query-backed): STREAMING ERROR-BURST DETECTOR — error
    * arrivals sessionize per user with the 1-hour gap in O(1) state,
    * the burst's running size/span emitted the moment the SECOND
    * error lands (gap rollover replaces state — no timers). Two
    * micro-batches plus a replayed slice. The changelog compacted to
    * the latest row per (user, burst) rolls up to the global burst
    * census — counts, affected users, worst burst, and the EXACT
    * summed spans (B134's day-bucketed frame needs the burst START,
    * which the O(1) emission deliberately omits); the oracle is the
    * B134 sessionization replica on the capped error scan with the
    * same global rollup.
    */
  def qStreamErrorBursts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
      .filter(col("event_id") < SessionEvMaxId && col("event_type") === "error")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .collect()
      .map(r => EventStreams.ErrEvent(r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.event_id)
      .toSeq
    val latest = StreamScope.gate(s, "gate_errburst_out", "update",
        batches(ev, 2, replay = ev.take(100)))( // replay: watermark drops
      EventStreams.errorBurstStream)
      .as[EventStreams.ErrBurstOut].collect()
      .groupBy(o => (o.user_id, o.burst_seq))
      .map { case (_, rs) => rs.maxBy(_.n_errors) }
      .toSeq
    val nb = latest.size.toLong
    val nu = latest.map(_.user_id).distinct.size.toLong
    Seq((nb, nu,
        latest.map(_.n_errors).sum,
        if (latest.isEmpty) 0L else latest.map(_.n_errors).max,
        latest.map(_.span_us).sum))
      .toDF("n_bursts", "n_users", "n_errors_in_bursts", "worst_burst",
        "sum_span_us")
  }

  /** F40 (query-backed): STREAMING SOURCE-PURITY MONITOR — classified
    * documents (the shared C4 predictor, applied batch-side exactly as
    * a production classifier stage upstream of the monitor) fold into
    * a bounded per-source language-count map (O(|langs|) state, never
    * O(stream)); each batch re-emits the majority language under the
    * C48 (count DESC, lang) rank and exact integral-ppm purity. Two
    * micro-batches plus a replayed slice. The final changelog row per
    * source is the C48 frame minus the gold-agreement column (the
    * stream sees predictions, not gold labels); the oracle is the C48
    * replica with the cap at its scan and that column dropped.
    */
  def qStreamSourcePurity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = TextOps.qLangId(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .join(documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
      .selectExpr("source", "doc_id", "pred_lang")
      .collect()
      .map(r => EventStreams.DocLangEvent(r.getString(0), r.getLong(1),
        r.getString(2)))
      .sortBy(_.doc_id)
      .toSeq
    val latest = StreamScope.gate(s, "gate_purity_out", "update",
        batches(ev, 2, replay = ev.take(100)))( // replay: watermark drops
      EventStreams.sourcePurityStream)
      .as[EventStreams.PurityOut].collect()
      .groupBy(_.source)
      .map { case (_, os) => os.maxBy(_.n_docs) } // n_docs only grows
      .toSeq
    latest.map(o => (o.source, o.n_docs, o.major_lang, o.n_major, o.purity_ppm))
      .toDF("source", "n_docs", "major_lang", "n_major", "purity_ppm")
  }

  /** F32 (query-backed): STREAMING DOMAIN CLASSIFICATION — the A46
    * multinomial-NB weights fit ONCE batch-side on the capped corpus
    * (nbFitFrom, the F16 fit-artifact posture) and broadcast as a
    * static model; arriving documents score STATELESSLY in their
    * micro-batch (exact e6-integer class scores, argmax) — no state
    * store at all. Two micro-batches, Append mode. The per-doc
    * predictions aggregate to the A46 confusion frame; the oracle is
    * the A46 replica with the cap at BOTH its document scans — two
    * independent implementations (broadcast kernel vs DataFrame), one
    * DuckDB-checked contract.
    */
  def qStreamDomainCls(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val capped = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"), col("source"))
    val model = TextOps.nbFitFrom(capped)
    val docsArr = capped.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val srcOf = docsArr.map(d => d._1 -> d._3).toMap
    val preds = StreamScope.gate(s, "gate_nb_out", "append",
        batches(docsArr.map(d => (d._1, d._2)).toSeq, 2))(
        in => EventStreams.nbClassifyStream(in.toDF("doc_id", "text"), model))
      .collect()
      .map(r => (srcOf(r.getLong(0)), r.getString(1)))
    preds.groupBy(identity).toSeq
      .map { case ((a, p), xs) => (a, p, xs.size.toLong) }
      .toDF("actual", "predicted", "n")
  }

  /** F20 (query-backed): STREAMING SEGMENT-DEDUP STATS — the C37
    * corpus line-dedup decision table maintained by Spark's BUILT-IN
    * stateful streaming aggregate (count + struct-MIN keeper instance
    * per distinct 10-word segment — O(1) state per segment, the same
    * segmentsOn/segmentStatsOn kernels as batch). Two micro-batches.
    * The final changelog row per segment (count, keeper doc/idx) is
    * exactly the table the C37 keeper rule reads; the oracle rebuilds
    * it from the capped documents scan with the packed-min spelling
    * (equal to the struct MIN at any in-cap id).
    */
  def qStreamSegmentStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsArr = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val latest = StreamScope.gate(s, "gate_seg_out", "update", batches(docsArr.toSeq, 2))(
        in => EventStreams.segmentStatsStream(in.toDF("doc_id", "text")))
      .collect()
      .groupBy(_.getString(0))
      .map { case (_, os) =>
        val r = os.maxBy(_.getLong(1)) // n_occ only grows
        val k = r.getStruct(2)
        (r.getString(0), r.getLong(1), k.getLong(0), k.getLong(1))
      }
      .toSeq
    latest.toDF("seg", "n_occ", "keeper_doc", "keeper_idx")
      .select(md5(col("seg")).as("seg_md5"), col("n_occ"),
        col("keeper_doc"), col("keeper_idx"))
  }

  /** F42 (query-backed): STREAMING SEQUENCE PACKER — each arriving
    * document takes its token interval [start, start+w) and 512-token
    * chunk span from ONE O(1) state cell (cumulative tokens + doc-id
    * watermark; a redelivered doc is dropped, its interval already
    * emitted). Two doc-id-ordered micro-batches plus a replayed
    * slice. The per-doc intervals aggregate to the C50 one-row census
    * (docs, tokens, sequences, spanning docs, max span, last fill);
    * the oracle is the C50 replica with the cap at its scan.
    */
  def qStreamSeqPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 512L
    val docsArr = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) + 1 AS LONG) AS w")
      .collect()
      .map(r => EventStreams.PackIn(r.getLong(0), r.getLong(1)))
      .sortBy(_.doc_id)
      .toSeq
    val packs = StreamScope.gate(s, "gate_pack_out", "update",
        batches(docsArr, 2, replay = docsArr.take(50)))( // replay: dropped
      EventStreams.seqPackStream(_, B))
      .as[EventStreams.PackOut].collect().toSeq
    val total = packs.map(p => p.endx - p.start).sum
    Seq((packs.size.toLong, total, (total + B - 1) / B,
        packs.count(_.span > 1).toLong, packs.map(_.span).max,
        if (total % B == 0) 1000000L else (total % B) * 1000000L / B))
      .toDF("n_docs", "total_tokens", "n_seqs", "n_spanning", "max_span",
        "last_fill_ppm")
  }

  /** F25 (query-backed): STREAMING CHANGELOG COMPACTION — latest-
    * state-per-key as O(1) state (high-water (event-time, event_id)
    * version + payload + delivery count), the B82 upsert/compact twin.
    * The capped events arrive in a DELIBERATELY shuffled order (by
    * value, not version — the defining property is that the compacted
    * snapshot is a pure function of the arrival SET), two
    * micro-batches plus a re-delivered slice of current WINNERS (the
    * only replay the first-delivery n_versions contract permits; the
    * kernel drops exact winner replays outright). The latest changelog
    * row per key IS the compacted snapshot — B82's frame, oracle = the
    * B82 replica with the cap at its scan.
    */
  def qStreamUpsertCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
      .filter(col("event_id") < SessionEvMaxId)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .collect()
      .map(r => EventStreams.UpsertEv(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.value, e.event_id)) // fixed NON-version order: set proof
      .toSeq
    val winners = ev.groupBy(_.user_id).values
      .map(_.maxBy(e => (e.ts_us, e.event_id))).toSeq
      .sortBy(_.user_id).take(200)
    val rows = StreamScope.gate(s, "gate_upsert_out", "update",
        batches(ev, 2, replay = winners))( // winner replays: dropped
      EventStreams.upsertCompactStream)
      .as[EventStreams.UpsertOut].collect().toSeq
    lastWins(rows.zipWithIndex)(_._1.user_id, _._2).map(_._1)
      .map(o => (o.user_id, o.last_event_id, o.last_type, o.last_value,
        o.n_versions))
      .toDF("user_id", "last_event_id", "last_type", "lv", "n_versions")
      .select(col("user_id"), col("last_event_id"), col("last_type"),
        graft.functions.dec2(col("lv")).as("last_value"), col("n_versions"))
  }

  /** F26 (query-backed): STREAMING DRIFT MONITOR — the B88 PSI shape
    * on an unbounded stream: the current cohort's clamped value-bucket
    * histogram as ONE built-in Update-mode count aggregate (O(10)
    * state, never grows), re-scored per micro-batch against a STATIC
    * baseline histogram via the shared psiE6 kernel (per-term rounded
    * integers, so the sum is order-free). Two micro-batches over the
    * odd-id cohort; baseline = the even-id cohort batch-side. The
    * published frame is the per-bucket census plus the PSI; the oracle
    * recomputes both histograms and the identical float formula text
    * from the capped events scan.
    */
  def qStreamPsi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val capped = events(s, dir)
      .filter(col("event_id") < SessionEvMaxId)
      .select(col("event_id"), col("value"))
    val baseHist = EventStreams.driftBucketStream(
        capped.filter(col("event_id") % 2 === 0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cur = capped.filter(col("event_id") % 2 === 1)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1)
    val curHist = StreamScope.gate(s, "gate_psi_out", "update", batches(cur.toSeq, 2))(
        in => EventStreams.driftBucketStream(in.toDF("event_id", "value")))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (b, rs) => b -> rs.map(_.getLong(1)).max } // counts only grow
    val psi = EventStreams.psiE6(baseHist, curHist)
    (baseHist.keySet ++ curHist.keySet).toSeq.sorted
      .map(b => (b, baseHist.getOrElse(b, 0L), curHist.getOrElse(b, 0L), psi))
      .toDF("bucket", "n_base", "n_cur", "psi_e6")
  }

  /** F38 (query-backed): STREAMING EMBEDDING DRIFT, keyed BY DIMENSION
    * — each arriving e6-quantized component folds into its dimension's
    * exact cohort sums (4 longs per dim, 64 keys sharded across
    * executors: keying by dimension, not a global key, is what keeps
    * the monitor parallel). Two micro-batches plus a replayed slice
    * (vec-id watermark). The final changelog row per dimension is the
    * per-dim cohort census with toward-zero integral means and drift —
    * the frame the D25 rollup reads; the oracle recomputes it from the
    * capped embeddings scan with the abs-div CASE spelling.
    */
  def qStreamEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = embeddings(s, dir)
      .filter(col("vec_id") < SemStreamMaxVec)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .collect()
      .flatMap { r =>
        val vid = r.getLong(0)
        r.getSeq[Double](1).zipWithIndex.map { case (x, d) =>
          EventStreams.DimEvent(d.toLong, vid, vid % 2 == 0,
            math.floor(x * 1000000.0).toLong)
        }
      }
      .sortBy(_.vec_id)
      .toSeq
    val rows = StreamScope.gate(s, "gate_dim_out", "update",
        batches(ev, 2, replay = ev.take(1000)))( // replay: watermark drops
      EventStreams.embedDriftStream)
      .as[EventStreams.DimDriftOut].collect().toSeq
    lastWins(rows.zipWithIndex)(_._1.d, _._2).map(_._1)
      .map(o => (o.d, o.n0, o.n1, o.m0_e6, o.m1_e6, o.drift_e6))
      .toDF("d", "n0", "n1", "m0_e6", "m1_e6", "drift_e6")
  }

  /** F44 (query-backed): STREAMING COHORT ASSIGNMENT — each order is
    * stamped at arrival with its customer's cohort month (frozen at
    * first arrival, O(1) state: two longs per customer) and age; the
    * B139 LTV matrix is then a downstream aggregate of the stamped
    * stream. Two (month, order-key)-ordered micro-batches plus a
    * replayed slice (the lexicographic watermark drops it). The
    * stamps aggregate to the FULL B139 frame — cohort sizes from
    * distinct stamped customers, cumulative revenue by age, exact
    * integral per-customer LTV; the oracle is the B139 replica with
    * the cap at its scan.
    */
  def qStreamCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = orders(s, dir)
      .filter(col("o_orderkey") < StreamFactMaxKey)
      .select(col("o_custkey"), col("o_orderkey"),
        (year(col("o_orderdate")).cast("long") * 12L +
          month(col("o_orderdate")).cast("long") - 1L).as("m"),
        round(col("o_totalprice") * 100, 0).cast("long"))
      .collect()
      .map(r => EventStreams.CohortIn(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
      .sortBy(e => (e.m, e.order_key)) // the lexicographic watermark order
      .toSeq
    val stamps = StreamScope.gate(s, "gate_cohort_out", "update",
        batches(ev, 2, replay = ev.take(200)))( // replay: watermark drops
      EventStreams.cohortLtvStream)
      .as[EventStreams.CohortOut].collect().toSeq
    val sizes = stamps.groupBy(_.cohort_m)
      .map { case (m, xs) => m -> xs.map(_.ck).distinct.size.toLong }
    val cells = stamps.groupBy(o => (o.cohort_m, o.age_months)).toSeq
      .map { case ((m, age), xs) =>
        (m, age, xs.size.toLong, xs.map(_.cents).sum)
      }
      .sortBy { case (m, age, _, _) => (m, age) }
    val cums = cells.groupBy(_._1).values.flatMap { byCohort =>
      var cum = 0L
      byCohort.sortBy(_._2).map { case (m, age, n, rev) =>
        cum += rev
        val nc = sizes(m)
        ((m / 12L) * 100L + (m % 12L) + 1L, age, nc, n, rev, cum, cum / nc)
      }
    }.toSeq
    cums.toDF("cohort_ym", "age_months", "n_customers", "n_orders",
        "rev_cents", "cum_rev_cents", "ltv_per_cust_cents")
  }

  /** F6 (query-backed): STREAMING IVF INDEX UPSERTS — incoming vectors
    * assign to their coarse cell with the IDENTICAL deterministic
    * quantizer as batch D6 (ivfCentroids/ivfCell), O(1) state per
    * vec_id (version + cell, never the vector), stale versions
    * dropped. The gate runs a three-wave upsert: initial inserts
    * (ts=100), then for every 7th vec a REAL upsert with its REVERSED
    * vector (ts=200 — a deterministic transform both engines can
    * score), a stale replay of every 5th original (ts=50 — must be
    * dropped), and equal-version re-deliveries (dropped). The final
    * index (latest cell per vec) rolls up to a per-cell census with
    * id checksums; the oracle scores the same latest-version corpus
    * (reversed where upserted) through the shared quantizer CTE.
    */
  def qStreamIvfUpserts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = Similarity.ivfCentroids()
    val vecs = embeddings(s, dir)
      .filter(col("vec_id") < SemStreamMaxVec)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val feed = Seq(
      vecs.map { case (id, v) => EventStreams.VecUpsert(id, v, ts = 100L) }.toSeq,
      vecs.filter(_._1 % 7 == 0).map { case (id, v) =>
        EventStreams.VecUpsert(id, v.reverse, ts = 200L) }.toSeq ++
      vecs.filter(_._1 % 5 == 0).map { case (id, v) =>
        EventStreams.VecUpsert(id, v, ts = 50L) } ++      // stale: dropped
      vecs.take(100).map { case (id, v) =>
        EventStreams.VecUpsert(id, v, ts = 100L) })       // equal: dropped
    val index = StreamScope.gate(s, "gate_ivf_out", "update", feed)(
      EventStreams.ivfUpsertStream(_, cents))
      .as[EventStreams.CellAssign].collect()
      .groupBy(_.vec_id)
      .map { case (id, as) => id -> as.maxBy(_.ts).cell }
      .toSeq
    index.groupBy(_._2).toSeq
      .map { case (cell, xs) =>
        val ids = xs.map(_._1)
        (cell.toLong, ids.size.toLong, ids.sum, ids.map(i => i * i).sum)
      }
      .toDF("cell", "n_vecs", "id_sum", "id_sq_sum")
  }

  /** F16 (query-backed): STREAMING LM QUALITY SCORING — lmFit's count
    * frames are static fit artifacts (fit once on the capped corpus);
    * the stream scores via two stream-static joins + ONE Update-mode
    * per-doc aggregate, each bigram term rounded to 6dp DECIMAL before
    * the sum so the score is exact decimal arithmetic at any partial-
    * aggregate schedule. Two micro-batches; latest changelog row per
    * doc is the C33 frame; the oracle is the C33 replica with the cap
    * at its scan.
    */
  def qStreamLmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val capped = documents(s, dir)
      .filter(col("doc_id") < LshDocMaxId)
      .select(col("doc_id"), col("text"))
    // r16: PIN the static fit frames — a stream-static join re-executes
    // its static side every micro-batch, so the capped-corpus unigram
    // explode and the interpreted HOF bigram explode each ran once per
    // batch; the pinned counts compute once and the batches read blocks
    // (same frames, same changelog).
    val (uni0, c20) = TextOps.lmFit(capped)
    val uni = graft.core.Materialize.pin(uni0)
    val c2 = graft.core.Materialize.pin(c20)
    val docsArr = capped.collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val rows =
      try StreamScope.gate(s, "gate_lm_out", "update", batches(docsArr.toSeq, 2))(
          in => TextOps.lmScoreOn(in.toDF("doc_id", "text"), uni, c2))
        .collect()
      finally {
        graft.core.Materialize.release(uni)
        graft.core.Materialize.release(c2)
      }
    val latest = rows
      .groupBy(_.getLong(0))
      .map { case (_, os) =>
        val r = os.maxBy(_.getLong(1)) // n_bigrams only grows
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }
      .toSeq
    latest.toDF("doc_id", "n_bigrams", "avg_logprob")
  }

  /** F36 (query-backed): STREAMING SESSION ENTRY/EXIT — the F2
    * sessionizer pattern carrying entry/exit types: closed sessions
    * final on first emission, the open session re-emitting (same
    * session_seq) as arrivals extend it; a reader keeps the last row
    * per (user, session_seq) — exactly what the gate does to the
    * changelog before the B115 bounce rollup. Two micro-batches plus
    * a replayed slice. The (entry, exit) cell census with bounce ppm
    * of entry is B115's frame; the oracle is the B115 replica with
    * the cap at its events scan.
    */
  def qStreamSessionPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = attrArrivals(s, dir)
    val latest = StreamScope.gate(s, "gate_spaths_out", "update",
        batches(ev, 2, replay = ev.take(300)))( // replay: state suppresses
      EventStreams.sessionPathsStream)
      .as[EventStreams.SessPathOut].collect()
      .groupBy(o => (o.user_id, o.session_seq))
      .map { case (_, os) => os.maxBy(_.n_events) } // n_events only grows
      .toSeq
    val cells = latest.groupBy(p => (p.entry_type, p.exit_type)).toSeq
      .map { case ((en, ex), xs) =>
        (en, ex, xs.size.toLong, xs.count(_.n_events == 1L).toLong)
      }
    val byEntry = cells.groupBy(_._1).map { case (en, xs) => en -> xs.map(_._3).sum }
    cells.map { case (en, ex, ns, nb) =>
      (en, ex, ns, nb, nb * 1000000L / byEntry(en))
    }.toDF("entry_type", "exit_type", "n_sessions", "n_bounces",
        "bounce_ppm_of_entry")
  }

  val oracles: Map[String, String] = Map(
    // the F7 value oracle: per-user top-3 by (value DESC, event_id)
    // over the capped events — a top set lost, duplicated by the
    // replay, or mis-merged across batches breaks the hash
    "q_stream_topn" ->
      s"""WITH r AS (SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events WHERE event_id < $SessionEvMaxId)
        |SELECT user_id, rn, event_id,
        |  CAST(ROUND(value,2) AS DECIMAL(18,2))::DOUBLE AS value
        |FROM r WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    // the F10 value oracle: the B50 replica with the cap at its scan
    "q_stream_funnel" -> replaceOnce(Relational.oracles("q_funnel"),
      "FROM events GROUP BY 1)",
      s"FROM events WHERE event_id < $SessionEvMaxId GROUP BY 1)"),
    // the F11 value oracle: the C18 replica with the cap at its scan
    "q_stream_bloom" -> TextOps.cappedDocsOracleSql("q_bloom", LshDocMaxId),
    // the F19 value oracle: min-id keeper per canonical form over the
    // capped docs (the C36 keeper rule the id-ordered stream realizes
    // as first-seen)
    "q_stream_canon_dedup" ->
      s"""SELECT MIN(doc_id) AS keeper_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS canon_md5
        |FROM documents WHERE doc_id < $LshDocMaxId
        |GROUP BY 2 ORDER BY keeper_id""".stripMargin,
    // the F3 value oracle: the deduped stream census equals the plain
    // batch census — DuckDB never sees the re-delivered rows, so any
    // duplicate surviving dedup state inflates a count/sum and breaks
    // the hash
    "q_stream_dedup" ->
      s"""SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events WHERE event_id < $SessionEvMaxId
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the F4 value oracle: the B12 replica with the cap at both scans
    "q_stream_interval_join" ->
      s"""SELECT i.event_id AS incident_id, COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(e.value),2) AS DECIMAL(18,2))::DOUBLE AS sum_value
        |FROM events i JOIN events e
        |  ON i.event_type = 'error'
        | AND e.user_id = i.user_id
        | AND e.ts >= i.ts
        | AND e.ts < i.ts + INTERVAL 1 HOUR
        |WHERE i.event_id < $IntervalEvMaxId AND e.event_id < $IntervalEvMaxId
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the F5 value oracle: the B9 ASOF LEFT JOIN replica with the caps
    // at both scans
    "q_stream_asof" ->
      s"""WITH o AS (
        |  SELECT * FROM (
        |    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |        ORDER BY o_orderkey DESC) AS rn
        |    FROM orders WHERE o_orderkey < $StreamFactMaxKey) WHERE rn = 1)
        |SELECT e.event_id, e.user_id, o.o_orderkey,
        |  CAST(ROUND(o.o_totalprice,2) AS DECIMAL(18,2))::DOUBLE AS o_totalprice
        |FROM (SELECT * FROM events WHERE event_id < $SessionEvMaxId) e
        |  ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q_stream_heavy_hitters" -> zipfTop5FlagsSql("found", "bounds_ok"),
    "q_stream_cms" -> zipfTop5FlagsSql("over_ok", "bound_ok"),
    // the F49 value oracle: the full B154 replica on the capped orders
    "q_stream_cochran_armitage" ->
      s"""WITH b AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS k,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS succ
        |  FROM orders WHERE o_orderkey < $StreamFactMaxKey),
        |a AS (SELECT COUNT(*) AS n, CAST(SUM(succ) AS BIGINT) AS x,
        |    CAST(SUM(k * succ) AS BIGINT) AS sx, CAST(SUM(k) AS BIGINT) AS sn,
        |    CAST(SUM(k * k) AS BIGINT) AS sn2 FROM b)
        |SELECT n, x, sx, sn, sn2,
        |  CAST(ROUND(${Relational.caZSql}, 6) AS DECIMAL(18,6))::DOUBLE
        |    AS z_stat FROM a""".stripMargin,
    // the F50 value oracle: the full B155 replica on the capped rows
    "q_stream_cliffs_delta" ->
      s"""WITH c0 AS (SELECT CAST(l_quantity AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
        |      THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
        |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
        |      THEN 1 ELSE 0 END) AS HUGEINT) AS cb
        |  FROM lineitem
        |  WHERE l_orderkey < $StreamFactMaxKey
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1999-01-01'
        |  GROUP BY 1),
        |r AS (SELECT *, COALESCE(SUM(cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
        |    SUM(cb) OVER () AS nbt
        |  FROM c0),
        |a AS (SELECT SUM(ca) AS na, MAX(nbt) AS nb,
        |    SUM(ca * cumb) AS gt, SUM(ca * (nbt - cumb - cb)) AS lt FROM r)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(gt AS BIGINT) AS n_gt, CAST(lt AS BIGINT) AS n_lt,
        |  CAST(ROUND(${Relational.cliffsSql}, 6) AS DECIMAL(18,6))::DOUBLE
        |    AS delta
        |FROM a""".stripMargin,
    // the F45 value oracle: the full B145 replica on the capped arrivals
    "q_stream_two_proportion" ->
      s"""WITH m AS (SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x2
        |  FROM events WHERE event_id < $AbEventMaxId)
        |SELECT n1, x1, n2, x2,
        |  CAST((x1 * 1000000) // n1 AS BIGINT) AS p1_ppm,
        |  CAST((x2 * 1000000) // n2 AS BIGINT) AS p2_ppm,
        |  CAST(ROUND(${Relational.twoPropZSql}, 6) AS DECIMAL(18,6))::DOUBLE
        |    AS z_stat
        |FROM m""".stripMargin,
    // the F43 value oracle: the stream publishes the batch B140 headline
    // row exactly, so its oracle IS the B140 oracle, verbatim
    "q_stream_page_hinkley" -> Relational.oracles("q_page_hinkley"),
    // the F48 value oracle: the B77 replica (merged == full-data sketch
    // by the min-k identity) + per-parity-shard kept counts
    "q_stream_kmv_merge" -> {
      val h = TF.hexPrefix52Sql("md5('kmv|' || CAST(l_partkey AS VARCHAR))")
      s"""WITH d AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem
        |  WHERE l_orderkey < $StreamFactMaxKey),
        |h AS (SELECT l_returnflag, l_partkey, $h AS hv FROM d),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY hv, l_partkey) AS rn FROM h),
        |kk AS (SELECT l_returnflag, MAX(hv) AS kth, COUNT(*) AS n_kept
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |ex AS (SELECT l_returnflag, COUNT(*) AS n_exact FROM d GROUP BY 1),
        |sh AS (SELECT l_returnflag,
        |    CAST(LEAST(SUM(CASE WHEN l_partkey % 2 = 0 THEN 1 ELSE 0 END),
        |      64) AS BIGINT) AS n_kept_even,
        |    CAST(LEAST(SUM(CASE WHEN l_partkey % 2 = 1 THEN 1 ELSE 0 END),
        |      64) AS BIGINT) AS n_kept_odd
        |  FROM d GROUP BY 1),
        |j AS (SELECT ex.l_returnflag, n_exact,
        |  CASE WHEN n_kept < 64 THEN n_exact
        |       ELSE CAST(283726776524341248 // kth AS BIGINT) END AS kmv_est
        |  FROM ex JOIN kk USING (l_returnflag))
        |SELECT j.l_returnflag, CAST(n_exact AS BIGINT) AS n_exact, kmv_est,
        |  CAST(ABS(kmv_est - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp,
        |  sh.n_kept_even, sh.n_kept_odd
        |FROM j JOIN sh ON j.l_returnflag = sh.l_returnflag
        |ORDER BY 1""".stripMargin
    },
    // the F52 value oracle: the full C6 LSH pipeline on the capped docs
    "q_stream_lsh_pairs" -> TextOps.lshPairsCappedOracleSql(LshDocMaxId),
    // the F14 value oracle: the D9 replica on the capped arrivals
    "q_stream_semdedup" -> Similarity.semDedupCappedOracleSql(SemStreamMaxVec),
    // the F8/F12/F13 value oracles: the C20/C15/C28 replicas on the
    // capped docs
    "q_stream_pii" -> TextOps.cappedDocsOracleSql("q_pii", LshDocMaxId),
    "q_stream_gopher" -> TextOps.cappedDocsOracleSql("q_gopher", LshDocMaxId),
    "q_stream_chunks" -> TextOps.cappedDocsOracleSql("q_chunks", LshDocMaxId),
    // the F9 value oracle: term counts over the capped docs, top-30 by
    // (tf DESC, term) — the stream side is tf (exact streaming df needs
    // per-(term, doc) dedup state; tf is what the built-in aggregate
    // maintains)
    "q_stream_vocab" ->
      s"""WITH w AS (SELECT unnest(string_split(text,' ')) AS term
        |  FROM documents WHERE doc_id < $LshDocMaxId)
        |SELECT term, COUNT(*) AS tf FROM w WHERE LENGTH(term) > 0
        |GROUP BY 1 ORDER BY tf DESC, term LIMIT 30""".stripMargin,
    // the F23 value oracle: the A29 md5-formula replica verbatim (the
    // fixture grid is corpus-independent)
    "q_stream_zonal" -> Estimation.oracles("q_zonal"),
    // the F18 value oracle: the C31 replica on the capped arrivals
    "q_stream_curate" -> TextOps.corpusPipelineCappedOracleSql(LshDocMaxId),
    // the F22 value oracle: strict-< gaps-and-islands in exact micros
    // (session_window semantics: merge when gap < 30 min, end = last
    // event + gap); RANGE-frame running sum so tied timestamps land in
    // one session deterministically; sum_value dec2 per B11
    "q_stream_session" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, value FROM events
        |  WHERE event_id < $SessionEvMaxId),
        |g AS (SELECT user_id, tsu, value,
        |    CASE WHEN LAG(tsu) OVER w IS NULL
        |           OR tsu - LAG(tsu) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu)),
        |s AS (SELECT user_id, tsu, value,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu) AS BIGINT)
        |      AS sess FROM g)
        |SELECT user_id, MIN(tsu) AS session_start,
        |  MAX(tsu) + 1800000000 AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(value),2) AS DECIMAL(18,2))::DOUBLE AS sum_value
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    // the F15 value oracle: per-key totals from the md5 formulas
    "q_stream_running_sums" -> {
      val hu = TF.hexPrefix52Sql("md5('zu|'||i)")
      val hv = TF.hexPrefix52Sql("md5('zv|'||i)")
      s"""WITH e AS (SELECT
        |    CAST(LEAST(4503599627370496 // ($hu + 1), 1000) AS BIGINT)
        |      AS user_id,
        |    CAST($hv % 100000 AS BIGINT) AS v
        |  FROM (SELECT unnest(range($StreamZipfRows)) AS i)),
        |t AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(v) AS BIGINT) AS total_v
        |  FROM e GROUP BY 1 ORDER BY total_v DESC, user_id LIMIT 5)
        |SELECT user_id, n_events, total_v FROM t ORDER BY user_id""".stripMargin
    },
    // the F47 value oracle: the full B147 replica on the capped orders
    "q_stream_bottomk" -> {
      val h = TF.hexPrefix52Sql("md5('samp|'||o_orderkey)")
      s"""WITH h AS (SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents,
        |    CAST($h AS BIGINT) AS h
        |  FROM orders WHERE o_orderkey < $StreamFactMaxKey),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY h, o_orderkey) AS rank
        |  FROM h)
        |SELECT CAST(rank AS BIGINT) AS rank, o_orderkey, cents
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin
    },
    // the F46 value oracle: the full B142 replica on the capped rows
    "q_stream_moments" -> {
      import graft.operators.{Relational => R}
      s"""WITH m AS (SELECT l_returnflag AS flag,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s2,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)
        |      *CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)
        |      *CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT))
        |      AS BIGINT) AS s4
        |  FROM lineitem WHERE l_orderkey < $StreamFactMaxKey GROUP BY 1),
        |c AS (SELECT *, ${R.jbM2Sql} AS m2, ${R.jbM3Sql} AS m3,
        |    ${R.jbM4Sql} AS m4 FROM m),
        |k AS (SELECT *, ${R.jbSkewSql} AS skew, ${R.jbKurtSql} AS kurt FROM c)
        |SELECT flag, n, s1, s2, s3, s4,
        |  CAST(ROUND(skew, 6) AS DECIMAL(18,6))::DOUBLE AS skew,
        |  CAST(ROUND(kurt, 6) AS DECIMAL(18,6))::DOUBLE AS kurt,
        |  CAST(ROUND(${R.jbStatSql}, 4) AS DECIMAL(18,4))::DOUBLE AS jb_stat
        |FROM k ORDER BY flag""".stripMargin
    },
    // the full B77 value oracle, on the capped arrival set
    "q_stream_kmv" -> {
      val h = TF.hexPrefix52Sql("md5('kmv|' || CAST(l_partkey AS VARCHAR))")
      s"""WITH d AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem
        |  WHERE l_orderkey < $StreamFactMaxKey),
        |h AS (SELECT l_returnflag, l_partkey, $h AS hv FROM d),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY hv, l_partkey) AS rn FROM h),
        |kk AS (SELECT l_returnflag, MAX(hv) AS kth, COUNT(*) AS n_kept
        |  FROM r WHERE rn <= 64 GROUP BY 1),
        |ex AS (SELECT l_returnflag, COUNT(*) AS n_exact FROM d GROUP BY 1),
        |j AS (SELECT ex.l_returnflag, n_exact,
        |  CASE WHEN n_kept < 64 THEN n_exact
        |       ELSE CAST(283726776524341248 // kth AS BIGINT) END AS kmv_est
        |  FROM ex JOIN kk USING (l_returnflag))
        |SELECT l_returnflag, CAST(n_exact AS BIGINT) AS n_exact, kmv_est,
        |  CAST(ABS(kmv_est - n_exact) * 10000 // n_exact AS BIGINT) AS err_bp
        |FROM j ORDER BY l_returnflag""".stripMargin
    },
    // the F28 value oracle: the clamped CUSUM recursion via its
    // reflection closed form — s⁺ₜ = Sₜ − min(0, min_{j≤t} Sⱼ), so a
    // running sum then a running min per key reproduce every
    // intermediate state and the maxima with NO recursion
    "q_stream_cusum" -> {
      val hu = TF.hexPrefix52Sql("md5('zu|'||i)")
      val hv = TF.hexPrefix52Sql("md5('zv|'||i)")
      s"""WITH e AS (SELECT
        |    CAST(LEAST(4503599627370496 // ($hu + 1), 1000) AS BIGINT) AS user_id,
        |    CAST(i AS BIGINT) AS event_id,
        |    CAST($hv % 100000 AS BIGINT) AS v
        |  FROM (SELECT unnest(range($StreamZipfRows)) AS i)),
        |r1 AS (SELECT user_id, event_id,
        |    SUM(v - ${CusumMu0 + CusumSlack}) OVER w AS cp,
        |    SUM(${CusumMu0 - CusumSlack} - v) OVER w AS cn
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |r2 AS (SELECT user_id, event_id,
        |    cp - LEAST(0, MIN(cp) OVER w) AS spos,
        |    cn - LEAST(0, MIN(cn) OVER w) AS sneg
        |  FROM r1 WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(arg_max(spos, event_id) AS BIGINT) AS s_pos,
        |  CAST(arg_max(sneg, event_id) AS BIGINT) AS s_neg,
        |  CAST(MAX(spos) AS BIGINT) AS max_pos,
        |  CAST(MAX(sneg) AS BIGINT) AS max_neg
        |FROM r2 GROUP BY 1 ORDER BY user_id""".stripMargin
    },
    // the F29 value oracle: the batch B96 recursive-CTE oracle
    // VERBATIM — same series, same init, same quantized step; the
    // stream's final changelog row must land on the identical state
    "q_stream_holt" -> Relational.oracles("q_holt"),
    // the F34 value oracle: the batch B111 recursive CTE with the
    // final projection reduced to the state HwOut carries
    "q_stream_holt_winters" -> replaceOnce(Relational.oracles("q_holt_winters"),
      ", lq + 7*bq + s7 AS f7_e6,\n  LEAST(s1, s2, s3, s4, s5, s6, s7) AS s_low_e6,\n  GREATEST(s1, s2, s3, s4, s5, s6, s7) AS s_high_e6",
      ""),
    // the F27 value oracle: the B89 replica on the capped scan plus
    // the Nigrini MAD over all nine digits (absent digits as zero —
    // the benfordMadE6 kernel's convention)
    // the F6 value oracle: the latest-version corpus (reversed where
    // upserted, originals elsewhere) scored through the SHARED D6
    // quantizer CTE, rolled up per cell with id checksums
    "q_stream_ivf_upserts" -> {
      val eSql = s"""SELECT vec_id,
        |    CASE WHEN vec_id % 7 = 0 THEN list_reverse(v0) ELSE v0 END AS v
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
        |    FROM embeddings WHERE vec_id < $SemStreamMaxVec)""".stripMargin
      s"""WITH ${Similarity.ivfCellCteSqlFor(eSql)},
        |cc AS (SELECT p AS cell, vec_id FROM cell)
        |SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(vec_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(vec_id * vec_id) AS BIGINT) AS id_sq_sum
        |FROM cc GROUP BY 1 ORDER BY cell""".stripMargin
    },
    // the F16 value oracle: the C33 replica with the cap at its scan
    "q_stream_lm_score" -> replaceOnce(TextOps.oracles("q_lm_score"),
      "FROM documents),",
      s"FROM documents WHERE doc_id < $LshDocMaxId),"),
    // the F25 value oracle: the B82 replica with the cap at its scan
    "q_stream_upsert_compact" -> replaceOnce(Relational.oracles("q_upsert_compact"),
      "FROM events)",
      s"FROM events WHERE event_id < $SessionEvMaxId)"),
    // the F26 value oracle: both clamped-bucket histograms and the
    // psiE6 float formula text (per-term rounded integers — the sum is
    // order-free) recomputed from the capped events scan
    "q_stream_psi" ->
      s"""WITH e AS (SELECT event_id, value FROM events
        |  WHERE event_id < $SessionEvMaxId),
        |hb AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 20.0) AS BIGINT)))
        |      AS bucket, CAST(COUNT(*) AS BIGINT) AS n_base
        |  FROM e WHERE event_id % 2 = 0 GROUP BY 1),
        |hc AS (SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 20.0) AS BIGINT)))
        |      AS bucket, CAST(COUNT(*) AS BIGINT) AS n_cur
        |  FROM e WHERE event_id % 2 = 1 GROUP BY 1),
        |j AS (SELECT bucket, COALESCE(n_base, 0) AS n_base,
        |    COALESCE(n_cur, 0) AS n_cur
        |  FROM hb FULL OUTER JOIN hc USING (bucket)),
        |t AS (SELECT CAST(SUM(n_base) AS DOUBLE) AS na,
        |    CAST(SUM(n_cur) AS DOUBLE) AS nb FROM j),
        |tm AS (SELECT bucket, n_base, n_cur,
        |    CASE WHEN n_base = 0 OR n_cur = 0 THEN 0
        |      ELSE CAST(ROUND((CAST(n_base AS DOUBLE) / na
        |        - CAST(n_cur AS DOUBLE) / nb)
        |        * ln((CAST(n_base AS DOUBLE) * nb)
        |          / (CAST(n_cur AS DOUBLE) * na)) * 1000000.0) AS BIGINT)
        |      END AS term
        |  FROM j CROSS JOIN t),
        |p AS (SELECT CAST(SUM(term) AS BIGINT) AS psi_e6 FROM tm)
        |SELECT bucket, n_base, n_cur, psi_e6
        |FROM tm CROSS JOIN p ORDER BY bucket""".stripMargin,
    // the F38 value oracle: the D25 per-dimension census (the frame
    // its rollup reads) from the capped embeddings scan, abs-div CASE
    // for the toward-zero integral means
    "q_stream_embed_drift" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < $SemStreamMaxVec),
        |comp AS (SELECT (vec_id % 2 = 0) AS ev, d,
        |    CAST(FLOOR(v[d + 1] * 1000000.0) AS HUGEINT) AS q
        |  FROM e, (SELECT unnest(range(64)) AS d)),
        |pd AS (SELECT d,
        |    SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS n0,
        |    SUM(CASE WHEN ev THEN q ELSE 0 END) AS s0,
        |    SUM(CASE WHEN NOT ev THEN 1 ELSE 0 END) AS n1,
        |    SUM(CASE WHEN NOT ev THEN q ELSE 0 END) AS s1
        |  FROM comp GROUP BY 1),
        |m AS (SELECT d, n0, n1,
        |    CASE WHEN s0 >= 0 THEN abs(s0) // n0
        |      ELSE -(abs(s0) // n0) END AS m0,
        |    CASE WHEN s1 >= 0 THEN abs(s1) // n1
        |      ELSE -(abs(s1) // n1) END AS m1
        |  FROM pd)
        |SELECT CAST(d AS BIGINT) AS d, CAST(n0 AS BIGINT) AS n0,
        |  CAST(n1 AS BIGINT) AS n1, CAST(m0 AS BIGINT) AS m0_e6,
        |  CAST(m1 AS BIGINT) AS m1_e6, CAST(abs(m1 - m0) AS BIGINT) AS drift_e6
        |FROM m ORDER BY d""".stripMargin,
    // the F44 value oracle: the B139 replica with the cap at its scan
    "q_stream_cohort_ltv" -> replaceOnce(Relational.oracles("q_cohort_ltv"),
      "FROM orders),",
      s"FROM orders WHERE o_orderkey < $StreamFactMaxKey),"),
    // the F40 value oracle: the C48 replica with the cap at its scan
    // and the gold-agreement column dropped (the stream sees
    // predictions, not gold labels)
    "q_stream_source_purity" -> replaceOnce(
      replaceOnce(TextOps.oracles("q_source_purity"),
        "FROM documents dd JOIN pred p USING (doc_id))",
        s"FROM documents dd JOIN pred p USING (doc_id) WHERE dd.doc_id < $LshDocMaxId)"),
      ",\n  CAST((n_agree * 1000000) // n_docs AS BIGINT) AS gold_agree_ppm\nFROM",
      "\nFROM"),
    // the F32 value oracle: the A46 replica with the cap at BOTH its
    // document scans (vocabulary fit and label join)
    "q_stream_domain_cls" -> replaceOnce(
      replaceOnce(TextOps.oracles("q_multinomial_nb"),
        "AS word\n        FROM documents)",
        s"AS word\n        FROM documents WHERE doc_id < $LshDocMaxId)"),
      "docs AS (SELECT doc_id, source FROM documents),",
      s"docs AS (SELECT doc_id, source FROM documents WHERE doc_id < $LshDocMaxId),"),
    // the F20 value oracle: per-segment (count, keeper) stats from the
    // capped documents scan — the C37 segmentation replica with the
    // packed-min keeper spelling (== the struct MIN at any in-cap id)
    "q_stream_segment_stats" ->
      s"""WITH b AS (SELECT doc_id, string_split(text,' ') AS w
        |  FROM documents WHERE doc_id < $LshDocMaxId),
        |seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
        |    array_to_string(w[(i*10+1):(i*10+10)],' ') AS seg
        |  FROM b, UNNEST(range(0, (LEN(w)+9)//10)) AS u(i)),
        |st AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_occ,
        |    MIN(doc_id*1000000 + seg_idx) AS kinst FROM seg GROUP BY 1)
        |SELECT md5(seg) AS seg_md5, n_occ,
        |  CAST(kinst // 1000000 AS BIGINT) AS keeper_doc,
        |  CAST(kinst % 1000000 AS BIGINT) AS keeper_idx
        |FROM st ORDER BY seg_md5""".stripMargin,
    // the F42 value oracle: the C50 replica with the cap at its scan
    "q_stream_seq_pack" -> replaceOnce(TextOps.oracles("q_seq_pack"),
      "FROM documents),",
      s"FROM documents WHERE doc_id < $LshDocMaxId),"),
    // the F33 value oracle: the B108 recursive-CTE replica with the
    // cap at its scan
    "q_stream_clamped_balance" -> replaceOnce(Relational.oracles("q_clamped_balance"),
      "FROM lineitem),",
      s"FROM lineitem WHERE l_orderkey < $StreamFactMaxKey),"),
    // the F37 value oracle: the B117 recursive-CTE replica with the
    // cap at its scan
    "q_stream_croston" -> replaceOnce(Relational.oracles("q_croston"),
      "FROM lineitem),",
      s"FROM lineitem WHERE l_orderkey < $StreamFactMaxKey),"),
    // the F39 value oracle: the B125 burst census (minus
    // first_orderkey, which the O(1) changelog omits) on the capped
    // orders scan, epoch-day grain
    "q_stream_same_day_bursts" ->
      s"""WITH o AS (SELECT o_custkey AS ck,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_ed,
        |    o_orderkey AS ok, CAST(ROUND(o_totalprice*100,0) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey < $BurstOrderMaxKey),
        |g AS (SELECT ck, CAST(day_ed AS BIGINT) AS day_ed,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(cents) AS BIGINT) AS total_cents,
        |    CAST(MAX(ok) AS BIGINT) AS last_orderkey,
        |    CAST(MAX(cents) - MIN(cents) AS BIGINT) AS spread_cents
        |  FROM o GROUP BY 1, 2)
        |SELECT ck, day_ed, n_orders, total_cents, last_orderkey, spread_cents
        |FROM g WHERE n_orders >= 2
        |ORDER BY n_orders DESC, ck, day_ed LIMIT 20""".stripMargin,
    // the F41 value oracle: the B134 sessionization replica on the
    // capped error scan, rolled up globally with the exact summed
    // spans (the changelog carries span, not the burst start)
    "q_stream_error_bursts" ->
      s"""WITH e AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'error' AND event_id < $SessionEvMaxId),
        |g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 3600000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g),
        |b AS (SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n,
        |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS span_us
        |  FROM s GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_bursts,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_errors_in_bursts,
        |  CAST(COALESCE(MAX(n), 0) AS BIGINT) AS worst_burst,
        |  CAST(COALESCE(SUM(span_us), 0) AS BIGINT) AS sum_span_us
        |FROM b""".stripMargin,
    // the F30 value oracle: the B104 replica with the cap at its scan
    "q_stream_attribution" -> replaceOnce(Relational.oracles("q_attribution"),
      "FROM events),",
      s"FROM events WHERE event_id < $SessionEvMaxId),"),
    // the F31 value oracle: the B105 replica with the cap at its scan
    "q_stream_transitions" -> replaceOnce(Relational.oracles("q_transitions"),
      "FROM events),",
      s"FROM events WHERE event_id < $SessionEvMaxId),"),
    // the F35 value oracle: the B112 replica with the cap at its scan
    "q_stream_event_paths" -> replaceOnce(Relational.oracles("q_event_paths"),
      "FROM events WINDOW",
      s"FROM events WHERE event_id < $SessionEvMaxId WINDOW"),
    // the F36 value oracle: the B115 replica with the cap at its scan
    "q_stream_session_paths" -> replaceOnce(Relational.oracles("q_session_paths"),
      "FROM events WINDOW",
      s"FROM events WHERE event_id < $SessionEvMaxId WINDOW"),
    "q_stream_benford" ->
      s"""WITH c AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey < $StreamFactMaxKey),
        |h AS (SELECT CAST(SUBSTRING(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n_d FROM c WHERE cents > 0 GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM h),
        |f AS (SELECT d.digit, COALESCE(h.n_d, 0) AS n_d FROM
        |    (SELECT unnest(range(1, 10)) AS digit) d LEFT JOIN h USING (digit)),
        |ex(digit, p_ben_e6) AS (SELECT * FROM (VALUES ${Relational.benford1ValuesSql})),
        |p AS (SELECT digit, n_d,
        |    CAST((n_d * 1000000) // n AS BIGINT) AS p_obs_ppm, p_ben_e6
        |  FROM f CROSS JOIN t JOIN ex USING (digit)),
        |m AS (SELECT CAST(SUM(ABS(p_obs_ppm - p_ben_e6)) // 9 AS BIGINT) AS mad_e6 FROM p)
        |SELECT CAST(digit AS BIGINT) AS digit, CAST(n_d AS BIGINT) AS n_d,
        |  p_obs_ppm, p_ben_e6, mad_e6
        |FROM p CROSS JOIN m WHERE n_d > 0 ORDER BY digit""".stripMargin
  )
}
