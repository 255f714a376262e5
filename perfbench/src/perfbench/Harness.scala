package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload: `items` is what it completes. */
final case class Op(name: String, items: Long, body: () => Unit)

/** An independent correctness check made after the timed window. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A failed operation, with what the program threw. */
final case class Failure(op: String, exception: String, message: String)

/** Spark's own counters charged to one operation. */
final class OpCounters(val op: String) {
  var jobs = 0L
  var tasks = 0L
  var taskSumS = 0.0
  var taskMaxS = 0.0
  var shuffleBytes = 0L
  var planningS = 0.0
  var gcS = 0.0
}

/** Listener for the traced run. It reads the scheduler's job and task
  * events and the query-execution planning phases, and charges them to
  * the operation that is running. Events arrive on the listener-bus
  * thread, so `end` drains the bus before the next operation begins.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var current: OpCounters = null
  private var gcAtBegin = 0L
  val ops = ArrayBuffer.empty[OpCounters]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def begin(op: String): Unit = {
    SparkBus.drain(spark.sparkContext)
    gcAtBegin = SparkProbe.gcMillis()
    current = new OpCounters(op)
  }

  def end(): OpCounters = {
    SparkBus.drain(spark.sparkContext)
    val c = current
    current = null
    c.gcS = (SparkProbe.gcMillis() - gcAtBegin) / 1e3
    ops += c
    c
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = current
    if (c != null) c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = current
    if (c != null && e.taskInfo != null) c.synchronized {
      val s = e.taskInfo.duration / 1e3
      c.tasks += 1
      c.taskSumS += s
      c.taskMaxS = math.max(c.taskMaxS, s)
      if (e.taskMetrics != null)
        c.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val c = current
    if (c != null) c.synchronized {
      c.planningS += qe.tracker.phases.values.map(_.durationMs).sum / 1e3
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

object SparkProbe {
  /** Collection time of every garbage collector in this JVM so far. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** A span around one call into a layer. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the traced run and written out at its end.
  * Untraced, `apply` only runs the body. One client thread calls it.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Durations in seconds of the spans called `name` inside timed operations. */
  def timedSeconds(name: String): Seq[Double] =
    spans.iterator.filter(s => s.name == name && s.op >= 0).map(_.seconds).toSeq

  def seconds(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.seconds).toSeq

  def json: String = Json.arr(spans.map(s => Json.Raw(Json.obj(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Live heap right after a full collection, in MB. A first collection
  * hands Spark's context cleaner the broadcasts, shuffles and blocks no
  * frame references any more; a second, after the cleaner's turn, reclaims
  * them. The cleaner sometimes needs more than one turn, so the pair is
  * repeated (at most 5 times) until the reading stops falling by 1 MB.
  */
object Heap {
  private def collectedMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def afterGcMb(): Double = {
    var mb = collectedMb()
    var tries = 1
    var falling = true
    while (falling && tries < 5) {
      val next = collectedMb()
      falling = next < mb - 1.0
      mb = math.min(mb, next)
      tries += 1
    }
    mb
  }
}

/** Host-load stamp: a fixed xorshift loop timed on one core and on every
  * core at once (slowest thread). A busier host reads higher.
  */
object HostStamp {
  private def loop(iters: Int): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  private val Iters = 50000000

  def take(): Map[String, Double] = {
    loop(Iters / 10)
    val one = math.min(loop(Iters), loop(Iters))
    val n = Runtime.getRuntime.availableProcessors()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val all =
      try {
        val fs = (0 until n).map(_ => pool.submit(new java.util.concurrent.Callable[Double] {
          override def call(): Double = loop(Iters)
        }))
        fs.map(_.get()).max
      } finally pool.shutdown()
    Map("one_core_s" -> one, "all_cores_s" -> all)
  }
}

/** The small JSON writer the result and trace files need. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
    case raw: Json.Raw => raw.text
    case other => str(other.toString)
  }

  final case class Raw(text: String)

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def arr(xs: Iterable[Any]): String = xs.map(value).mkString("[", ",", "]")
}
