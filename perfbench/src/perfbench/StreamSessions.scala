package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Dataset, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Ev, SessionOut}

/** One long-lived `EventStreams.sessionize` query fed by a MemoryStream in
  * fixed-size micro-batches. Event time only moves forward and the user
  * count is bounded, so the session state reaches a plateau. The sink
  * keeps the last row per (user_id, session_seq).
  */
final class StreamSessions(spark: SparkSession, seed: Long, tmp: java.io.File, tr: Tracer)
    extends Workload {
  import StreamSessions._

  private val rng = new Random(seed)
  private var clockUs = 1700000000L * 1000000L
  private var nextEventId = 0L
  private val events = mutable.ArrayBuffer.empty[Ev]

  private val kept = mutable.HashMap.empty[(Long, Long), SessionOut]
  private val sinkMs = mutable.HashMap.empty[Long, Double]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var firstTimedBatch = Long.MaxValue
  private val checkpoint = new java.io.File(tmp, "stream_checkpoint")

  private implicit val sqlContext: SQLContext = spark.sqlContext
  import spark.implicits._
  private val input = MemoryStream[Ev]
  private var query: StreamingQuery = _

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
  }

  private def nextBatch(): Vector[Ev] = {
    val b = Vector.fill(BatchEvents) {
      clockUs += (rng.nextDouble() * 2 * MeanStepUs).toLong
      nextEventId += 1
      Ev(rng.nextInt(Users).toLong, clockUs, nextEventId, math.round(rng.nextDouble() * 1e6) / 1e3)
    }
    events ++= b
    b
  }

  /** The whole sink, the batch's evaluation by `collect` included, is timed. */
  private def sink(ds: Dataset[SessionOut], batchId: Long): Unit = {
    val t0 = System.nanoTime()
    ds.collect().foreach(s => kept((s.user_id, s.session_seq)) = s)
    sinkMs.synchronized { sinkMs(batchId) = (System.nanoTime() - t0) / 1e6 }
  }

  private def ingest(batch: Vector[Ev]): Unit = {
    input.addData(batch)
    query.processAllAvailable()
  }

  def setup(): Unit = {
    if (tr.enabled) spark.streams.addListener(listener)
    val fn: (Dataset[SessionOut], Long) => Unit = sink
    query = EventStreams.sessionize(input.toDS())
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint.getPath)
      .foreachBatch(fn)
      .start()
    (0 until WarmBatches).foreach(_ => ingest(nextBatch()))
    firstTimedBatch = query.lastProgress.batchId + 1
  }

  /** `RoundBatches` micro-batches, drawn before the round starts. */
  def round(r: Int): Seq[Op] =
    (0 until RoundBatches).map { _ =>
      val b = nextBatch()
      Op("batch", b.length.toLong, () => tr("streaming.batch")(ingest(b)))
    }

  def nominalRoundS: Double = 1.7

  def tidy(): Unit = ()

  /** The final sessions against a plain fold over every generated event,
    * with the inclusive 30-minute gap rule.
    */
  def check(): Seq[Check] = {
    val expected = StreamSessions.fold(events.toSeq)
    val missing = expected.keySet.diff(kept.keySet).size
    val extra = kept.keySet.diff(expected.keySet).size
    val differ = expected.count { case (k, e) => kept.get(k).exists(_ != e) }
    Seq(Check("sessions_match_fold", missing == 0 && extra == 0 && differ == 0,
      s"${expected.size} sessions expected over ${events.size} events; " +
        s"$missing missing, $extra extra, $differ differ"))
  }

  def layerMetrics(probe: SparkProbe): Seq[(String, Double, String)] = {
    val timed = progress.synchronized(progress.toVector).filter(_.batchId >= firstTimedBatch)
    def dur(key: String) = Stats.median(timed.map(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    val state = timed.lastOption.flatMap(_.stateOperators.headOption)
    val ops = probe.ops.toSeq
    Seq(
      ("streaming.trigger_ms", dur("triggerExecution"), "ms"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.planning_ms", dur("queryPlanning"), "ms"),
      ("streaming.wal_ms", dur("walCommit"), "ms"),
      ("streaming.state_commit_ms",
        Stats.median(timed.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble)), "ms"),
      ("streaming.sink_ms", Stats.median(
        sinkMs.synchronized(sinkMs.toVector).collect { case (b, ms) if b >= firstTimedBatch => ms }),
        "ms"),
      ("streaming.state_rows", state.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows"),
      ("streaming.state_bytes", state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("spark.tasks", Stats.median(ops.map(_.tasks.toDouble)), "count"),
      ("spark.shuffle_bytes", Stats.median(ops.map(_.shuffleBytes.toDouble)), "bytes"))
  }

  def close(): Unit = {
    if (query != null) query.stop()
    spark.streams.removeListener(listener)
    org.apache.commons.io.FileUtils.deleteQuietly(checkpoint)
  }
}

object StreamSessions {
  val Users = 10000
  val BatchEvents = 4000
  val WarmBatches = 18
  val RoundBatches = 5
  val GapUs: Long = 1800L * 1000000L
  /** Mean event-time step, so that a user's mean gap is about the session gap. */
  val MeanStepUs: Double = GapUs.toDouble / Users

  /** Sessions of every user, in event order: an event at most `GapUs`
    * after the previous one extends the session, otherwise a new one opens.
    */
  def fold(events: Seq[Ev]): Map[(Long, Long), SessionOut] = {
    val open = mutable.HashMap.empty[Long, SessionOut]
    val out = mutable.HashMap.empty[(Long, Long), SessionOut]
    events.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      val next = open.get(e.user_id) match {
        case Some(s) if e.ts - (s.session_start + s.duration_us) <= GapUs =>
          s.copy(n_events = s.n_events + 1, duration_us = e.ts - s.session_start,
            sum_value = s.sum_value + e.value)
        case prev =>
          SessionOut(e.user_id, prev.map(_.session_seq + 1).getOrElse(1L), 1L, e.ts, 0L, e.value)
      }
      open(e.user_id) = next
      out((e.user_id, next.session_seq)) = next
    }
    out.toMap
  }
}
