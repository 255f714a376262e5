package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{KmvArrival, KmvOut}

/** F24 under the PRODUCTION state store: the KMV stream run with the
  * RocksDB state-store provider and a checkpoint RESTART mid-stream —
  * the exactly-once claim the changelog posture rests on. The query is
  * stopped between committed micro-batches, a NEW query restarts from
  * the same checkpoint (state rehydrated from RocksDB, offsets from the
  * commit log), the remaining batches (plus a re-delivered slice) play
  * in, and the final latest-version sketches must equal an
  * uninterrupted run EXACTLY — a state row lost in the restart, a
  * replayed batch double-applied, or a provider that silently fell
  * back to the in-memory store all fail (the last via the artifact
  * check: only RocksDBStateStoreProvider checkpoints state as zip
  * archives/changelogs; the HDFS-backed default writes .delta files).
  * The sink is foreachBatch keyed by batchId (the recovery-capable
  * sink shape — the memory sink refuses checkpoint recovery), so a
  * replayed epoch overwrites its own slot instead of double-counting:
  * exactly the idempotent-publish contract a production changelog
  * consumer implements.
  */
class RocksDbRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Run `f` under the RocksDB state-store provider with a fresh
    * checkpoint dir, restoring the previous provider after.
    */
  private def withRocksDb[T](f: String => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = graft.core.TempDir.forJvm("rocksdb_ckpt").toString
    try f(ckpt)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Only RocksDBStateStoreProvider checkpoints state as zip archives/
    * changelogs (the HDFS-backed default writes .delta files) — so this
    * proves the provider actually ran.
    */
  private def assertRocksArtifacts(ckpt: String): Unit = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
    val n =
      try walk.filter(p => p.toString.endsWith(".zip") ||
                           p.toString.endsWith(".changelog")).count()
      finally walk.close()
    assert(n > 0, "no RocksDB snapshot/changelog artifacts under the checkpoint")
  }

  test("F24 kmvStream restarts from a RocksDB checkpoint with exact state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = graft.core.TempDir.forJvm("rocksdb_ckpt").toString
    try {
      val k = 16
      // deterministic arrivals: 3 groups, values colliding across groups
      val arrivals = (0 until 3000).map { i =>
        KmvArrival(s"g${i % 3}", (i * 37L) % 997L)
      }
      // idempotent per-epoch publish: batchId -> rows (a replayed epoch
      // overwrites its slot, never double-counts)
      val epochs = scala.collection.concurrent.TrieMap.empty[Long, Seq[KmvOut]]
      // the SAME MemoryStream instance feeds both query incarnations —
      // its data lives on the driver; the restarted query resumes from
      // the committed offset in the checkpoint
      val input = MemoryStream[KmvArrival]
      def start() = EventStreams.kmvStream(input.toDS(), k)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (ds: Dataset[KmvOut], id: Long) =>
          epochs.put(id, ds.collect().toSeq): Unit
        }
        .start()

      val q1 = start()
      input.addData(arrivals.take(1000))
      q1.processAllAvailable()
      q1.stop() // kill between committed micro-batches

      // state must now live ONLY in the RocksDB checkpoint
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      val rocksArtifacts =
        try walk.filter(p => p.toString.endsWith(".zip") ||
                             p.toString.endsWith(".changelog")).count()
        finally walk.close()
      assert(rocksArtifacts > 0,
        "no RocksDB snapshot/changelog artifacts under the checkpoint")

      val q2 = start()
      try {
        input.addData(arrivals.slice(1000, 2000)); q2.processAllAvailable()
        // final batch includes a re-delivered slice: min-k SET semantics
        input.addData(arrivals.drop(2000) ++ arrivals.take(100))
        q2.processAllAvailable()
      } finally q2.stop()
      val latest = epochs.toSeq.sortBy(_._1).flatMap(_._2)
        .groupBy(_.grp).map { case (g, os) => g -> os.maxBy(_.ver) }

      // the uninterrupted twin: same arrivals, same splits, one query
      val refEpochs = scala.collection.concurrent.TrieMap.empty[Long, Seq[KmvOut]]
      val input2 = MemoryStream[KmvArrival]
      val qRef = EventStreams.kmvStream(input2.toDS(), k)
        .writeStream.outputMode("update")
        .foreachBatch { (ds: Dataset[KmvOut], id: Long) =>
          refEpochs.put(id, ds.collect().toSeq): Unit
        }
        .start()
      try {
        input2.addData(arrivals.take(1000)); qRef.processAllAvailable()
        input2.addData(arrivals.slice(1000, 2000)); qRef.processAllAvailable()
        input2.addData(arrivals.drop(2000) ++ arrivals.take(100))
        qRef.processAllAvailable()
      } finally qRef.stop()
      val ref = refEpochs.toSeq.sortBy(_._1).flatMap(_._2)
        .groupBy(_.grp).map { case (g, os) => g -> os.maxBy(_.ver) }

      assert(latest.keySet == Set("g0", "g1", "g2") && latest.keySet == ref.keySet)
      latest.keySet.foreach { g =>
        val a = latest(g); val b = ref(g)
        assert(a.n_kept == b.n_kept && a.est == b.est &&
          a.hs.toSeq == b.hs.toSeq && a.vs.toSeq == b.vs.toSeq,
          s"group $g diverged after the RocksDB restart")
        // version continuity: the restarted query kept counting batches
        // on top of the restored state rather than starting over
        assert(a.ver == b.ver,
          s"group $g version counter diverged (restart lost or replayed state)")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  /** Deterministic session fixture: 12 users, 250 events each, in
    * GLOBAL event-time order. Every 4th per-user step gaps 45 minutes
    * (> the 30-minute session gap → a session break); the rest gap 10
    * minutes — so each user carries ~63 multi-event sessions and many
    * sessions straddle the kill point.
    */
  private def sessionFixture(): Vector[EventStreams.Ev] = {
    val base = 1700000000000000L
    val evs = Vector.newBuilder[EventStreams.Ev]
    val ts = Array.fill(12)(0L)
    var i = 0
    while (i < 3000) {
      val u = i % 12
      val k = i / 12
      val step = if (k == 0) 0L
        else if (k % 4 == 0) 45L * 60 * 1000000 else 10L * 60 * 1000000
      ts(u) = (if (k == 0) base + u * 1000000L else ts(u) + step)
      evs += EventStreams.Ev(u.toLong, ts(u), i.toLong, (i % 97).toDouble / 4.0)
      i += 1
    }
    evs.result().sortBy(e => (e.ts, e.event_id))
  }

  /** F22 under RocksDB with a mid-stream restart: session-window state
    * is the largest, most merge-heavy shape the provider holds (ranged
    * session intervals that MERGE on update, then finalize via the
    * watermark for Append mode) — the r13 brief's "most likely to
    * expose a provider bug the KMV sketch can't". The kill lands
    * between committed batches while thousands of sessions are open in
    * state; the restarted query must merge batch-2 events into
    * RocksDB-restored sessions and finalize EXACTLY the sessions an
    * uninterrupted run finalizes.
    */
  test("F22 session_window restarts from a RocksDB checkpoint with exact sessions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = sessionFixture()
    val sentinelUid = 999999999L
    val sentA = EventStreams.Ev(sentinelUid,
      evs.map(_.ts).max + 7L * 24 * 3600 * 1000000, 900001L, 0.0)
    val sentB = sentA.copy(ts = sentA.ts + 1000000L, event_id = 900002L)
    type Key = (Long, Long, Long, Long, Long)
    def rowsOf(ds: org.apache.spark.sql.DataFrame): Seq[Key] =
      ds.filter(col("user_id") =!= sentinelUid)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("ss"),
          unix_micros(col("session_end")).as("se"),
          col("n_events"), col("sum_value"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          math.round(r.getDouble(4) * 100)))
        .toSeq
    def run(ckpt: Option[String]): Seq[Key] = {
      val epochs = scala.collection.concurrent.TrieMap.empty[Long, Seq[Key]]
      val input = MemoryStream[EventStreams.Ev]
      def start() = {
        val w = EventStreams.sessionWindowStream(
            input.toDF().withColumn("ts", timestamp_micros(col("ts"))))
          .writeStream.outputMode("append")
          .foreachBatch { (ds: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                           id: Long) =>
            epochs.put(id, rowsOf(ds.toDF())): Unit
          }
        ckpt.fold(w)(c => w.option("checkpointLocation", c)).start()
      }
      val half = evs.length / 2
      val q1 = start()
      input.addData(evs.take(half)); q1.processAllAvailable()
      ckpt match {
        case Some(c) =>
          q1.stop() // kill with thousands of sessions open in state
          assertRocksArtifacts(c)
          val q2 = start()
          try {
            input.addData(evs.drop(half)); q2.processAllAvailable()
            input.addData(Seq(sentA)); q2.processAllAvailable()
            input.addData(Seq(sentB)); q2.processAllAvailable()
          } finally q2.stop()
        case None =>
          try {
            input.addData(evs.drop(half)); q1.processAllAvailable()
            input.addData(Seq(sentA)); q1.processAllAvailable()
            input.addData(Seq(sentB)); q1.processAllAvailable()
          } finally q1.stop()
      }
      epochs.toSeq.sortBy(_._1).flatMap(_._2)
    }
    withRocksDb { ckpt =>
      val restarted = run(Some(ckpt))
      val uninterrupted = run(None)
      assert(uninterrupted.nonEmpty)
      assert(restarted.sorted == uninterrupted.sorted,
        s"session sets diverged: restarted=${restarted.size} " +
          s"uninterrupted=${uninterrupted.size}")
    }
  }

  /** F2's flatMapGroupsWithState sessionizer under RocksDB with a
    * mid-stream restart: custom per-user OpenSession state must
    * rehydrate from the checkpoint so batch-2 events EXTEND the same
    * open sessions (same session_seq counters) instead of restarting
    * them — the latest-changelog view must equal an uninterrupted run
    * exactly.
    */
  test("F2 sessionize restarts from a RocksDB checkpoint with exact state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = sessionFixture()
    type Key = (Long, Long)
    type Val = (Long, Long, Long, Long)
    def run(ckpt: Option[String]): Map[Key, Val] = {
      val epochs = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(Key, Val)]]
      val input = MemoryStream[EventStreams.Ev]
      def start() = {
        val w = EventStreams.sessionize(input.toDS())
          .writeStream.outputMode("update")
          .foreachBatch {
            (ds: org.apache.spark.sql.Dataset[EventStreams.SessionOut],
             id: Long) =>
              epochs.put(id, ds.collect().toSeq.map(o =>
                ((o.user_id, o.session_seq),
                 (o.n_events, o.session_start, o.duration_us,
                  math.round(o.sum_value * 100))))): Unit
          }
        ckpt.fold(w)(c => w.option("checkpointLocation", c)).start()
      }
      val half = evs.length / 2
      val q1 = start()
      input.addData(evs.take(half)); q1.processAllAvailable()
      ckpt match {
        case Some(c) =>
          q1.stop()
          assertRocksArtifacts(c)
          val q2 = start()
          try { input.addData(evs.drop(half)); q2.processAllAvailable() }
          finally q2.stop()
        case None =>
          try { input.addData(evs.drop(half)); q1.processAllAvailable() }
          finally q1.stop()
      }
      // changelog semantics: last row per (user, session_seq) wins
      epochs.toSeq.sortBy(_._1).flatMap(_._2)
        .foldLeft(Map.empty[Key, Val]) { case (m, (k, v)) => m + (k -> v) }
    }
    withRocksDb { ckpt =>
      val restarted = run(Some(ckpt))
      val uninterrupted = run(None)
      assert(uninterrupted.nonEmpty)
      assert(restarted == uninterrupted,
        s"sessionizer state diverged: restarted=${restarted.size} " +
          s"uninterrupted=${uninterrupted.size}")
    }
  }

  /** F28's CUSUM monitor under RocksDB with a mid-stream restart: the
    * state carries RUNNING MAXIMA (max_pos/max_neg) that are NOT
    * recomputable from the live accumulators — a provider or
    * serialization bug that rehydrated only (s⁺, s⁻) would produce a
    * self-consistent-looking stream whose maxima silently reset at
    * the restart. Batch 2 also re-delivers a below-watermark slice:
    * the REHYDRATED event-id watermark must drop it (a lost watermark
    * would double-fold and inflate every accumulator).
    */
  test("F28 cusumStream restarts from a RocksDB checkpoint with exact running maxima") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mu0 = 6L; val slack = 1L
    val evs = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect()
      .map(r => EventStreams.KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2)))
      .toSeq.sortBy(_.event_id)
    type Fin = (Long, Long, Long, Long, Long)
    def run(ckpt: Option[String]): Map[Long, Fin] = {
      val epochs = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[EventStreams.CusumOut]]
      val input = MemoryStream[EventStreams.KeyedVal]
      def start() = {
        val w = EventStreams.cusumStream(input.toDS(), mu0, slack)
          .writeStream.outputMode("update")
          .foreachBatch {
            (ds: Dataset[EventStreams.CusumOut], id: Long) =>
              epochs.put(id, ds.collect().toSeq): Unit
          }
        ckpt.fold(w)(c => w.option("checkpointLocation", c)).start()
      }
      val half = evs.length / 2
      val q1 = start()
      input.addData(evs.take(half)); q1.processAllAvailable()
      ckpt match {
        case Some(c) =>
          q1.stop()
          assertRocksArtifacts(c)
          val q2 = start()
          try {
            input.addData(evs.drop(half) ++ evs.take(200))
            q2.processAllAvailable()
          } finally q2.stop()
        case None =>
          try {
            input.addData(evs.drop(half) ++ evs.take(200))
            q1.processAllAvailable()
          } finally q1.stop()
      }
      // latest emission per user (event ids are unique and ascending
      // per key, so the max-event row is the final state)
      epochs.toSeq.sortBy(_._1).flatMap(_._2)
        .foldLeft(Map.empty[Long, Fin]) { case (m, o) =>
          m.get(o.user_id) match {
            case Some((e, _, _, _, _)) if e > o.event_id => m
            case _ => m + (o.user_id ->
              ((o.event_id, o.s_pos, o.s_neg, o.max_pos, o.max_neg)))
          }
        }
    }
    withRocksDb { ckpt =>
      val restarted = run(Some(ckpt))
      val uninterrupted = run(None)
      assert(uninterrupted.nonEmpty)
      assert(restarted == uninterrupted,
        s"CUSUM state diverged after the RocksDB restart: " +
          s"restarted=${restarted.size} uninterrupted=${uninterrupted.size}")
    }
  }

  /** F34's Holt–Winters smoother under RocksDB with a restart that
    * lands MID-INIT for most keys: the state is COLLECTION-valued (the
    * ≤14-slot init buffer, then the 7-slot seasonal queue) — a
    * different rehydration shape from the scalar-state specs above.
    * With a 5000-event Zipf feed split in half, the tail keys are
    * still buffering at the kill point, so the restart must restore
    * partial Seq buffers exactly (a truncated or reordered buffer
    * shifts the classical two-week init and every value after it),
    * while hot keys restore the running (level, trend, queue) state.
    */
  test("F34 holtWintersStream restarts from a RocksDB checkpoint mid-init with exact Seq state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = graft.sources.Synthetic.zipfEvents(spark, 5000L)
      .collect()
      .map(r => EventStreams.KeyedVal(r.getLong(1), r.getLong(0), r.getLong(2)))
      .toSeq.sortBy(_.event_id)
    type Fin = (Long, Long, Long, Long, Long)
    def run(ckpt: Option[String]): Map[Long, Fin] = {
      val epochs = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[EventStreams.HwOut]]
      val input = MemoryStream[EventStreams.KeyedVal]
      def start() = {
        val w = EventStreams.holtWintersStream(input.toDS())
          .writeStream.outputMode("update")
          .foreachBatch {
            (ds: Dataset[EventStreams.HwOut], id: Long) =>
              epochs.put(id, ds.collect().toSeq): Unit
          }
        ckpt.fold(w)(c => w.option("checkpointLocation", c)).start()
      }
      val half = evs.length / 2
      val q1 = start()
      input.addData(evs.take(half)); q1.processAllAvailable()
      ckpt match {
        case Some(c) =>
          q1.stop()
          assertRocksArtifacts(c)
          val q2 = start()
          try {
            input.addData(evs.drop(half) ++ evs.take(200))
            q2.processAllAvailable()
          } finally q2.stop()
        case None =>
          try {
            input.addData(evs.drop(half) ++ evs.take(200))
            q1.processAllAvailable()
          } finally q1.stop()
      }
      epochs.toSeq.sortBy(_._1).flatMap(_._2)
        .foldLeft(Map.empty[Long, Fin]) { case (m, o) =>
          m.get(o.user_id) match {
            case Some((e, _, _, _, _)) if e > o.event_id => m
            case _ => m + (o.user_id ->
              ((o.event_id, o.n, o.level_e6, o.trend_e6, o.f1_e6)))
          }
        }
    }
    withRocksDb { ckpt =>
      val restarted = run(Some(ckpt))
      val uninterrupted = run(None)
      assert(uninterrupted.nonEmpty)
      assert(restarted == uninterrupted,
        s"Holt-Winters Seq state diverged after the RocksDB restart: " +
          s"restarted=${restarted.size} uninterrupted=${uninterrupted.size}")
    }
  }

  /** F40's source-purity monitor under RocksDB with a mid-stream
    * restart: the state is MAP-valued (the bounded per-source
    * language-count map) — the third distinct rehydration shape after
    * scalars (F24/F22/F2/F28) and Seqs (F34). A lost or partially
    * restored map entry shifts the (count DESC, lang) majority rank or
    * the exact integral-ppm purity for every later batch. The replay
    * slice rides with batch 2: the rehydrated doc-id watermark must
    * drop it (a double-counted doc inflates exactly one map cell).
    */
  test("F40 sourcePurityStream restarts from a RocksDB checkpoint with exact Map state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // deterministic synthetic classification feed: 37 sources x 5
    // languages, skewed per source so majorities are non-trivial
    val evs = (0L until 5000L).map { id =>
      val src = "s" + (id % 37)
      val lang = "l" + (((id * 2654435761L) >>> 7) % (1L + id % 5))
      EventStreams.DocLangEvent(src, id, lang)
    }
    type Fin = (Long, String, Long, Long)
    def run(ckpt: Option[String]): Map[String, Fin] = {
      val epochs = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[EventStreams.PurityOut]]
      val input = MemoryStream[EventStreams.DocLangEvent]
      def start() = {
        val w = EventStreams.sourcePurityStream(input.toDS())
          .writeStream.outputMode("update")
          .foreachBatch {
            (ds: Dataset[EventStreams.PurityOut], id: Long) =>
              epochs.put(id, ds.collect().toSeq): Unit
          }
        ckpt.fold(w)(c => w.option("checkpointLocation", c)).start()
      }
      val half = evs.length / 2
      val q1 = start()
      input.addData(evs.take(half)); q1.processAllAvailable()
      ckpt match {
        case Some(c) =>
          q1.stop()
          assertRocksArtifacts(c)
          val q2 = start()
          try {
            input.addData(evs.drop(half) ++ evs.take(200))
            q2.processAllAvailable()
          } finally q2.stop()
        case None =>
          try {
            input.addData(evs.drop(half) ++ evs.take(200))
            q1.processAllAvailable()
          } finally q1.stop()
      }
      // latest emission per source wins (n_docs is strictly monotone)
      epochs.toSeq.sortBy(_._1).flatMap(_._2)
        .foldLeft(Map.empty[String, Fin]) { case (m, o) =>
          m.get(o.source) match {
            case Some((n, _, _, _)) if n > o.n_docs => m
            case _ => m + (o.source ->
              ((o.n_docs, o.major_lang, o.n_major, o.purity_ppm)))
          }
        }
    }
    withRocksDb { ckpt =>
      val restarted = run(Some(ckpt))
      val uninterrupted = run(None)
      assert(uninterrupted.size == 37)
      assert(restarted == uninterrupted,
        s"purity Map state diverged after the RocksDB restart: " +
          s"restarted=${restarted.size} uninterrupted=${uninterrupted.size}")
    }
  }

  /** Deterministic F3/F4 fixture: 4,000 events across 8 users in global
    * event-time order (one event per 30s), an "error" every 40th event
    * opening a 1-hour incident window, values exact quarter-integers.
    * Incidents opened shortly before the kill point (i≈2000) must join
    * / suppress events arriving after the restart.
    */
  private def fullEvFixture(): Vector[graft.operators.StreamingGates.FullEv] = {
    val base = 1700000000000000L
    Vector.tabulate(4000) { i =>
      val tpe = if (i % 40 == 0) "error"
        else Seq("view", "click", "purchase")(i % 3)
      graft.operators.StreamingGates.FullEv(
        i.toLong, (i % 8).toLong, base + i * 30L * 1000000,
        tpe, (i % 97).toDouble / 4.0)
    }
  }

  /** F4 under RocksDB with a mid-stream restart: stream-stream
    * symmetric-hash-join state (TWO keyed stores per side) checkpoints
    * through a different state-store format than the aggregate /
    * flatMapGroups shapes above — the r14 brief's remaining gap. The
    * kill lands while hundreds of 1-hour incident windows are open in
    * the join state; events arriving after the restart must join
    * incidents REHYDRATED from RocksDB, and the final joined multiset
    * must equal an uninterrupted run exactly (a lost incident drops
    * matches; a replayed batch double-emits them).
    */
  test("F4 interval-join state restarts from a RocksDB checkpoint exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = fullEvFixture()
    type Pair = (Long, Long) // (incident_id, event_id)
    def run(ckpt: Option[String]): Seq[Pair] = {
      val epochs = scala.collection.concurrent.TrieMap.empty[Long, Seq[Pair]]
      val input = MemoryStream[graft.operators.StreamingGates.FullEv]
      def start() = {
        val w = EventStreams.incidentJoinStream(
            input.toDF().withColumn("ts", timestamp_micros(col("ts"))))
          .writeStream.outputMode("append")
          .foreachBatch { (ds: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                           id: Long) =>
            epochs.put(id, ds.collect().toSeq.map(r =>
              (r.getAs[Long]("incident_id"), r.getAs[Long]("event_id")))): Unit
          }
        ckpt.fold(w)(c => w.option("checkpointLocation", c)).start()
      }
      val half = evs.length / 2
      val q1 = start()
      input.addData(evs.take(half)); q1.processAllAvailable()
      ckpt match {
        case Some(c) =>
          q1.stop() // kill with open incident windows in join state
          assertRocksArtifacts(c)
          val q2 = start()
          try {
            input.addData(evs.drop(half)); q2.processAllAvailable()
            // re-delivered slice: watermark-late in both runs
            input.addData(evs.take(300)); q2.processAllAvailable()
          } finally q2.stop()
        case None =>
          try {
            input.addData(evs.drop(half)); q1.processAllAvailable()
            input.addData(evs.take(300)); q1.processAllAvailable()
          } finally q1.stop()
      }
      epochs.toSeq.sortBy(_._1).flatMap(_._2)
    }
    withRocksDb { ckpt =>
      val restarted = run(Some(ckpt))
      val uninterrupted = run(None)
      assert(uninterrupted.nonEmpty)
      // incidents straddle the kill: some batch-1 incidents must have
      // joined batch-2 events (the restore actually carried state)
      val crossKill = uninterrupted.filter { case (inc, ev) =>
        inc < 2000 && ev >= 2000 }
      assert(crossKill.nonEmpty, "fixture has no cross-kill joins")
      assert(restarted.sorted == uninterrupted.sorted,
        s"joined multiset diverged after the RocksDB restart: " +
          s"restarted=${restarted.size} uninterrupted=${uninterrupted.size}")
    }
  }

  /** F3 under RocksDB with a mid-stream restart: `dropDuplicates`
    * watermark state is the last state shape without restart coverage.
    * Batch 2 re-delivers 500 batch-1 rows — each must be suppressed by
    * dedup keys REHYDRATED from the RocksDB checkpoint (state lost in
    * the restart would emit them twice); a third batch replays slices
    * of both. The appended output must contain every event exactly
    * once and equal an uninterrupted run.
    */
  test("F3 dropDuplicates state restarts from a RocksDB checkpoint exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = fullEvFixture()
    def run(ckpt: Option[String]): Seq[Long] = {
      val epochs = scala.collection.concurrent.TrieMap.empty[Long, Seq[Long]]
      val input = MemoryStream[graft.operators.StreamingGates.FullEv]
      def start() = {
        val w = EventStreams.dedupStream(
            input.toDF().withColumn("ts", timestamp_micros(col("ts"))),
            Seq("event_id"), watermark = "30 days")
          .writeStream.outputMode("append")
          .foreachBatch { (ds: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                           id: Long) =>
            epochs.put(id, ds.collect().toSeq.map(_.getAs[Long]("event_id"))): Unit
          }
        ckpt.fold(w)(c => w.option("checkpointLocation", c)).start()
      }
      val half = evs.length / 2
      val q1 = start()
      input.addData(evs.take(half)); q1.processAllAvailable()
      ckpt match {
        case Some(c) =>
          q1.stop() // kill with the dedup key set only in the checkpoint
          assertRocksArtifacts(c)
          val q2 = start()
          try {
            // cross-restart re-delivery: must hit RESTORED state
            input.addData(evs.drop(half) ++ evs.take(500))
            q2.processAllAvailable()
            input.addData(evs.slice(100, 200) ++ evs.drop(half).take(300))
            q2.processAllAvailable()
          } finally q2.stop()
        case None =>
          try {
            input.addData(evs.drop(half) ++ evs.take(500))
            q1.processAllAvailable()
            input.addData(evs.slice(100, 200) ++ evs.drop(half).take(300))
            q1.processAllAvailable()
          } finally q1.stop()
      }
      epochs.toSeq.sortBy(_._1).flatMap(_._2)
    }
    withRocksDb { ckpt =>
      val restarted = run(Some(ckpt))
      val uninterrupted = run(None)
      assert(uninterrupted.sorted == evs.map(_.event_id).sorted,
        "uninterrupted run must emit every event exactly once")
      assert(restarted.sorted == uninterrupted.sorted,
        s"dedup output diverged after the RocksDB restart: " +
          s"restarted=${restarted.size} uninterrupted=${uninterrupted.size}")
    }
  }
}
