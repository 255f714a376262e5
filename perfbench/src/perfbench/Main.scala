package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** A workload: its set-up, its rounds of timed operations, the hygiene
  * between operations, and its checks and layer metrics.
  */
trait Workload {
  /** Builds inputs, fits and warms up: everything before the first timed operation. */
  def setup(): Unit
  /** One round of operations; every run attempts whole rounds. */
  def round(r: Int): Seq[Op]
  /** About how long one round takes on the reference machine (see README). */
  def nominalRoundS: Double
  /** Releases what an operation left behind, outside the timed window. */
  def tidy(): Unit
  def check(): Seq[Check]
  def layerMetrics(probe: SparkProbe): Seq[(String, Double, String)]
  def close(): Unit
}

/** Runs one workload in one JVM, driven as a closed loop by one client
  * thread, and writes its result to a JSON file for the launcher.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cpus <n> --tmp <dir> --out <file> --data <dir> --home <dir> [--host-stamp 1]
  * (`--data`: the test tables registry_mix reads; `--home`: the benchmark's
  * directory, whose scripts a workload's checks may call)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val tmp = new File(opt("tmp"))
    val out = new File(opt("out"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val stamped = opt.get("host-stamp").contains("1")
    val stampStartMs = System.currentTimeMillis()
    val stampBefore = if (stamped) HostStamp.take() else Map.empty[String, Double]
    val stampMs = System.currentTimeMillis() - stampStartMs
    val sysTmp = new File(System.getProperty("java.io.tmpdir"))
    val tmpBefore = Option(sysTmp.list()).map(_.toSet).getOrElse(Set.empty)
    val tr = new Tracer(traced)
    // registry_mix leaves half the cores free: with every core busy, a burst of
    // another tenant's load on any one of them stalls each stage's last task,
    // and at sf0.1 its queries gain nothing past two slots on the reference machine
    val (slots, make) = workload match {
      case "raster_map" => (cpus, (s: SparkSession) => new RasterMap(s, seed, tr))
      case "registry_mix" => (math.max(1, cpus / 2),
        (s: SparkSession) => new RegistryMix(s, opt("data"), seed, tmp, opt("home"), tr))
      case "stream_sessions" => (cpus, (s: SparkSession) => new StreamSessions(s, seed, tmp, tr))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = session(slots, tmp)
    val w: Workload = make(spark)
    tr("setup")(w.setup())
    val probe = if (traced) new SparkProbe(spark) else null
    // set-up runs from the JVM's start to the first timed operation, less the host stamp
    val setupS = (System.currentTimeMillis() - jvmStartMs - stampMs) / 1e3

    val latencies = ArrayBuffer.empty[Double]
    val names = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[Failure]
    var items = 0L
    val heapMb = ArrayBuffer.empty[Double]
    // drawing a round's inputs, hygiene, heap sampling and the traced run's
    // listener drain happen between operations, outside the window's wall time
    var outsideNs = 0L
    def outside[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally outsideNs += System.nanoTime() - t0
    }
    // the same work in every run: as many whole rounds as fill `seconds` nominally
    val rounds = math.max(1, math.ceil(seconds / w.nominalRoundS).toInt)
    val windowStart = System.nanoTime()
    for (r <- 0 until rounds) {
      for (op <- outside(w.round(r))) {
        tr.op = latencies.size + failures.size
        if (probe != null) outside(probe.begin(op.name))
        val t0 = System.nanoTime()
        val err =
          try { tr("op")(op.body()); None }
          catch { case e: Throwable => Some(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        if (probe != null) outside(probe.end())
        tr.op = -1
        err match {
          case None => latencies += dt; names += op.name; items += op.items
          case Some(e) => failures += Failure(op.name, e.getClass.getName, String.valueOf(e.getMessage))
        }
        outside(w.tidy())
      }
      outside(heapMb += Heap.afterGcMb())
    }
    val windowS = (System.nanoTime() - windowStart - outsideNs) / 1e9

    val checks = w.check()
    w.close()
    val layer = if (traced) w.layerMetrics(probe) else Seq.empty
    if (probe != null) probe.close()
    spark.stop()
    // directories the run left in the system temp dir; then removed
    val leftDirs = Option(sysTmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && !tmpBefore(f.getName))
    val leftNames = leftDirs.map(_.getName).sorted
    leftDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    val stampAfter = if (stamped) HostStamp.take() else Map.empty[String, Double]

    def metric(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cpus" -> cpus, "slots" -> slots,
      "attempted" -> (latencies.size + failures.size), "failed" -> failures.size,
      "failures" -> failures.map(f => Map("op" -> f.op, "exception" -> f.exception,
        "message" -> f.message)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "rounds" -> rounds, "window_s" -> windowS, "items" -> items,
      "end_to_end" -> Map(
        "setup_s" -> metric(setupS, "s"),
        "items_per_s" -> metric(items / windowS, "items/s"),
        "op_p50_s" -> metric(Stats.median(latencies.toSeq), "s"),
        "heap_peak_mb" -> metric(heapMb.max, "MB")),
      "heap_after_gc_mb" -> heapMb,
      "latencies_s" -> latencies, "latency_ops" -> names,
      "per_layer" -> (layer.map { case (n, v, u) => n -> metric(v, u) }.toMap ++
        (if (traced) Map("sources.tmp_dirs_left" -> metric(leftDirs.size, "count")) else Map.empty)),
      "tmp_dirs_left" -> leftNames,
      "host_stamp" -> Map("before" -> stampBefore, "after" -> stampAfter))
    Files.write(out.toPath, result.getBytes(UTF_8))
    if (traced) Files.write(new File(out.getPath + ".spans.json").toPath, tr.json.getBytes(UTF_8))
  }

  private def session(cpus: Int, tmp: File): SparkSession = {
    val s = GraftSession.withGraftConfigs(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(tmp, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
        // state snapshots every few seconds, so a short run sees several cycles
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "2s")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
