package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one place a stream gate's query runs. Every driver-gate stream
  * (the MemoryStream-fed gates and the self-terminating
  * `Trigger.AvailableNow` source gates) goes through [[gate]] or
  * [[drain]], and both keep the same contract:
  *
  *  - [[gate]] feeds ONE micro-batch per element of `batches`, in order,
  *    and waits for each (`processAllAvailable`) before the next — the
  *    batch split is the caller's, so replays and sentinels are just
  *    more elements; [[drain]] waits for the source to run dry.
  *  - The query writes a memory sink named `name`; the sink's rows come
  *    back as a LOCAL frame with the sink's schema, so nothing refers to
  *    the sink once the call returns.
  *  - Whether the query, the caller's `build` or a batch throws, the
  *    query is stopped, the sink view is dropped and every session conf
  *    the scope set is restored.
  *  - One scope at a time per session: entering while another scope is
  *    open on the same session throws instead of interleaving the conf
  *    set/restore. Concurrent streams belong in separate sessions
  *    (`SparkSession.newSession()`).
  *
  * The scope runs the stream under a SMALL stateful shuffle-partition
  * count: the arrival sets are count-bounded but each micro-batch pays
  * state-store open/commit/maintenance PER PARTITION — at the session's
  * 32 that overhead is a multiple of the useful work (q_stream_session
  * measured 17.3s at 32 partitions vs the gate budget; the state itself
  * is a few thousand keys). Each partition's commit writes its state
  * files through the session's checkpoint-file manager: the perfbench
  * stream's commit over 4 partitions took 100–120 ms a batch under
  * Spark's default `FileContext` manager and takes about 5 ms under
  * [[CheckpointFiles]]. 8 partitions keep the operators genuinely
  * parallel while the state machinery stays proportional to the state.
  * Results are partition-count-independent (keyed state semantics).
  * A gate may add or override session conf for its stream through
  * `conf`; it is scoped the same way.
  *
  * Inside [[recorded]], each scope that ends also leaves its query's
  * per-batch numbers ([[BatchStats]], from `recentProgress`); outside it
  * nothing is kept.
  */
object StreamScope {

  private val PartitionsKey = "spark.sql.shuffle.partitions"
  private val Partitions = "8"

  /** Sessions with an open scope, and the thread that opened each. */
  private val holders = new ConcurrentHashMap[SparkSession, Thread]()

  /** One scope's executed micro-batches, from its query's
    * `recentProgress` (Spark keeps the last
    * `spark.sql.streaming.numRecentProgressUpdates` entries, 100 by
    * default): how many ran, the summed `triggerExecution`, `walCommit`
    * and `commitOffsets` durations and state-store `commitTimeMs` (over
    * every stateful operator and partition), and the last batch's state
    * rows and bytes.
    */
  final case class BatchStats(name: String, batches: Int, triggerMs: Long,
                              walMs: Long, commitOffsetsMs: Long,
                              stateCommitMs: Long, stateRows: Long, stateBytes: Long)

  private val recorder = new DynamicVariable[Option[ArrayBuffer[BatchStats]]](None)

  /** Run `f` and return, with its result, the [[BatchStats]] of every
    * scope that ended on this thread meanwhile, in order.
    */
  def recorded[A](f: => A): (A, Seq[BatchStats]) = {
    val log = ArrayBuffer.empty[BatchStats]
    val a = recorder.withValue(Some(log))(f)
    (a, log.toSeq)
  }

  /** Run `build` over a MemoryStream fed one micro-batch per element of
    * `batches`; returns the memory sink's rows as a local frame.
    */
  def gate[T: Encoder](s: SparkSession, name: String, mode: String,
                       batches: Seq[Seq[T]], conf: (String, String)*)
                      (build: Dataset[T] => Dataset[_]): DataFrame = {
    val input = MemoryStream[T](implicitly[Encoder[T]], s.sqlContext)
    run(s, name, conf)(sink(build(input.toDS()), name, mode).start()) { q =>
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    }
  }

  /** Run a self-terminating stream to completion under
    * `Trigger.AvailableNow`; returns the memory sink's rows as a local
    * frame.
    */
  def drain(s: SparkSession, name: String, df: DataFrame, mode: String): DataFrame =
    run(s, name, Nil)(
      sink(df, name, mode).trigger(Trigger.AvailableNow()).start())(
      _.awaitTermination())

  /** The latest entry per key of an Update-mode changelog: the rows
    * carrying the key's greatest version (a sharded snapshot keeps all
    * of them). A changelog with no version column passes the arrival
    * index, `lastWins(rows.zipWithIndex)(_._1.k, _._2)`, so the row the
    * sink received last wins.
    */
  def lastWins[T, K, V: Ordering](rows: Seq[T])(key: T => K, ver: T => V): Seq[T] =
    rows.groupBy(key).values.flatMap { g =>
      val top = g.map(ver).max
      g.filter(r => Ordering[V].equiv(ver(r), top))
    }.toSeq

  private def sink(df: Dataset[_], name: String, mode: String): DataStreamWriter[_] =
    df.writeStream.format("memory").queryName(name).outputMode(mode)

  private def run(s: SparkSession, name: String, conf: Seq[(String, String)])
                 (start: => StreamingQuery)(drive: StreamingQuery => Unit): DataFrame = {
    val holder = holders.putIfAbsent(s, Thread.currentThread)
    if (holder != null) throw new IllegalStateException(
      s"StreamScope is already open on this session (thread '${holder.getName}'): " +
        "a scope sets session-global conf, so only one stream gate may run " +
        "at a time per SparkSession; give concurrent streams their own " +
        "SparkSession.newSession()")
    val settings = ((PartitionsKey -> Partitions) +: conf).toMap
    val prev = settings.keys.map(k => k -> s.conf.getOption(k))
    var query: Option[StreamingQuery] = None
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      query = Some(start)
      drive(query.get)
      val out = s.table(name)
      s.createDataFrame(out.collectAsList(), out.schema)
    } finally {
      try query.foreach { q => q.stop(); recorder.value.foreach(_ += stats(name, q)) }
      finally {
        s.catalog.dropTempView(name)
        prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
        holders.remove(s)
      }
    }
  }

  private def stats(name: String, q: StreamingQuery): BatchStats = {
    // an idle trigger also reports progress (the first one at once); only
    // an executed batch times `addBatch`
    val ps = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
    def ms(key: String) = ps.map(p => Option(p.durationMs.get(key)).fold(0L)(_.longValue)).sum
    val last = ps.lastOption.toSeq.flatMap(_.stateOperators)
    BatchStats(name, ps.size, ms("triggerExecution"), ms("walCommit"), ms("commitOffsets"),
      ps.flatMap(_.stateOperators).map(_.commitTimeMs).sum,
      last.map(_.numRowsTotal).sum, last.map(_.memoryUsedBytes).sum)
  }
}
