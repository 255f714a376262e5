package graft

import graft.core.StreamScope

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.local(cpus)
    // r16 rebaseline (r15 verdict item 1, guide §1.4): the timed action
    // is a NOOP-SINK full evaluation — `count()` let Catalyst prune
    // columns and whole subtrees (q_spatial_nn's neighbor join was
    // provably pruned: 0.41s under count() vs ~3s real cost), so part
    // of the engine's cost was invisible to the bench. The noop sink
    // eagerly computes EVERY column of EVERY row and discards it. The
    // legacy action stays available (SPARK_GRAFT_BENCH_ACTION=count)
    // for like-for-like comparison against pre-r16 artifacts; the r16
    // round log records one same-code run under each action.
    val actionName = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "noop")
    require(actionName == "noop" || actionName == "count",
      s"SPARK_GRAFT_BENCH_ACTION must be noop|count, got $actionName")
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      if (actionName == "count") { df.count(); () }
      else df.write.format("noop").mode("overwrite").save()
    // Warm up the JVM/shuffle/codegen paths so the first timed query is
    // not charged session initialization.
    spark.range(1 << 20).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
      .count().count()
    run(SparkEntry.entry(spark))
    // Each query runs twice: the first execution pays one-time plan
    // optimization + whole-stage-codegen (Janino) compilation, which on
    // the multi-join plans costs multiples of the actual execution; the
    // timed second run is the steady-state cost. Nothing is cached
    // between runs — every run re-scans, re-fits, re-shuffles.
    // dev-only skip list (comma-separated names) for cross-scale runs
    // where the corpus×train kNN family is quadratic by design; the
    // driver sets no env, so driver benches always run everything
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // dev-only subset (comma-separated names) for targeted cross-scale
    // timing of a query family; driver benches run everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // median-of-N timed runs (default 3): two same-day r10 runs of the
    // same binary differed ±13% in total — larger than most judged
    // regressions — so single-run per-query numbers are machine noise
    // at the sub-1.5× level. The published per-query time is the MEDIAN
    // of nRuns; the min/max spread rides alongside so a reader can tell
    // a real regression from variance.
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    require(nRuns >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $nRuns")
    // Reap the previous run's leftovers DETERMINISTICALLY, not just via
    // GC: the r13 decile audit showed per-query medians at 1.0x parity
    // with r11 in the first alphabet deciles decaying to 1.5x+ by the
    // q_s* tail — in-bench accumulated state, not machine load. Three
    // leak classes build up across 380+ queries: (a) locally-
    // checkpointed pins (Materialize.pin) whose blocks wait on the
    // async ContextCleaner, (b) memory-sink temp tables the streaming
    // gates register (each holds its changelog rows), (c) cached
    // relations. gc() alone only ENQUEUES weak refs; unpersist/drop
    // frees eagerly.
    def reap(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      // the pinned Zipf fixture cache must be dropped BEFORE the RDD
      // unpersist below: a localCheckpoint'd frame whose blocks are
      // freed is unrecoverable (lineage truncated), so the cache would
      // hand queries a dead frame — clearing makes them re-pin
      graft.sources.Synthetic.clearZipfPins()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("gate_"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      // gc() only ENQUEUES the weak refs — the cleaner thread drains
      // them asynchronously, so give it a bounded head start rather
      // than letting the unbroadcasts land inside the timed window.
      System.gc()
      Thread.sleep(100)
    }
    // ---- load self-description (r13 judge: rounds 12 AND 13 burned
    // judge cycles re-litigating whether a slow total was code or an
    // ambient-contention artifact; a load-stamped bench ends that) ----
    // Fixed single-core xorshift reference loop: 1e8 iterations, best
    // of 3 after a JIT warmup. Quiet-host cost on this VM ≈ 0.21s; a
    // contended host inflates it roughly with CPU steal. The pinned
    // quiet threshold (0.35s ≈ 1.6× quiet) marks the run trustworthy
    // for round-over-round comparison; above it the artifact loudly
    // self-reports as an upper bound, not a regression signal.
    val RefQuietSec = 0.35
    def refLoop(): Double = {
      def once(iters: Int): Double = {
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        // publish x so the loop cannot be dead-code-eliminated
        if (x == 42L) System.err.println("")
        (System.nanoTime() - t0) / 1e9
      }
      once(10_000_000) // JIT warmup
      (0 until 3).map(_ => once(100_000_000)).min
    }
    // r15 addition: an ALL-CORES reference loop next to the single-core
    // one. The r15 mid-round comparison caught a ~10% whole-schedule
    // level shift between two runs whose single-core ref loops were
    // both "quiet" — multi-core host contention (neighbor VMs / steal
    // spread across cores) is invisible to one pinned thread. This
    // stamp runs the same xorshift on EVERY core simultaneously and
    // reports the SLOWEST thread's seconds: on an idle host it tracks
    // the single-core number; under cross-core contention it inflates
    // roughly with the contended fraction. Additive field only — the
    // published `quiet` flag keeps its r14 single-core definition so
    // round-over-round artifact comparisons stay like-for-like.
    def refLoopMt(): Double = {
      val n = Runtime.getRuntime.availableProcessors()
      def worker(iters: Int): Double = {
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) System.err.println("")
        (System.nanoTime() - t0) / 1e9
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try {
        // JIT warmup on one thread, then one synchronized all-core burst
        worker(10_000_000)
        val tasks = (0 until n).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Double] {
            override def call(): Double = worker(100_000_000)
          })
        }
        tasks.map(_.get()).max
      } finally pool.shutdown()
    }
    def loadavg1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").head.toDouble
      catch { case _: Throwable => -1.0 }
    val refBefore = refLoop(); val refMtBefore = refLoopMt()
    val loadBefore = loadavg1()
    val sched = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) }
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // PASS-MAJOR timing (r14 What's-wrong #1): running a query's nRuns
    // back-to-back means one JIT/GC/scheduler burst poisons its median
    // AND its min together — the r14 artifact carried ~10 contiguous
    // queries at 2-6.7× their idle medians that all re-measured at
    // parity solo. Running the FULL schedule nRuns times instead puts
    // ~5 minutes between a query's runs, so a burst hits DIFFERENT
    // queries each pass and the cross-pass median sheds it. The warm
    // pass (plan optimization + Janino codegen) is unchanged in cost:
    // one extra full pass, same 1 + nRuns executions per query.
    // a failed query keeps its -1 entry in the per-query map, and its
    // first exception's class and message go to the artifact's
    // `failures` map, so a failure is never silent
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    for ((name, fn) <- sched) {
      try run(fn(spark, sfDir))
      catch { case e: Throwable => failures(name) = e }
    }
    val passTimes = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // each timed pass's stream-gate batches, per query, read from each
    // gate's query after it stops
    val passStreams = scala.collection.mutable.Map.empty[String, Vector[Seq[StreamScope.BatchStats]]]
      .withDefaultValue(Vector.empty)
    for (_ <- 0 until nRuns; (name, fn) <- sched if !failures.contains(name)) {
      reap()
      val t0 = System.nanoTime()
      try {
        val (_, streams) = StreamScope.recorded(run(fn(spark, sfDir)))
        passTimes(name) = passTimes(name) :+ (System.nanoTime() - t0) / 1e9
        passStreams(name) = passStreams(name) :+ streams
      } catch { case e: Throwable => failures(name) = e }
    }
    val results = sched.map { case (name, _) =>
      name -> (if (failures.contains(name)) Seq(-1.0) else passTimes(name): Seq[Double])
    }
    // true median: average the two middle elements for even run counts
    // (the upper-middle alone would bias even-N runs high)
    def med(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val qs = results.map { case (k, ts) => s"\"" + k + "\":" + med(ts) }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, ts) =>
      s"\"" + k + s"""\":{"median":${med(ts)},"min":${ts.min},"max":${ts.max}}"""
    }.mkString("{", ",", "}")
    // failed queries report -1.0 in the per-query map but must not
    // subtract from (and flatter) the total
    val total = results.collect { case (_, ts) if med(ts) >= 0 => med(ts) }.sum
    val refAfter = refLoop(); val refMtAfter = refLoopMt()
    val loadAfter = loadavg1()
    val quiet = refBefore <= RefQuietSec && refAfter <= RefQuietSec
    val load = s"""{"ref_loop_sec_before":$refBefore,""" +
      s""""ref_loop_sec_after":$refAfter,"ref_quiet_threshold":$RefQuietSec,""" +
      s""""ref_mt_sec_before":$refMtBefore,"ref_mt_sec_after":$refMtAfter,""" +
      s""""loadavg1_before":$loadBefore,"loadavg1_after":$loadAfter,""" +
      s""""quiet":$quiet}"""
    // per streaming query, the batches of the pass whose time is nearest
    // its median, so the numbers sit next to the published time
    val streamsJson = results.collect {
      case (k, ts) if !failures.contains(k) && passStreams(k).exists(_.nonEmpty) =>
        val pass = ts.indices.minBy(i => math.abs(ts(i) - med(ts)))
        Verify.jsonString(k) + ":" + passStreams(k)(pass).map { b =>
          s"""{"gate":${Verify.jsonString(b.name)},"batches":${b.batches},""" +
            s""""trigger_ms":${b.triggerMs},"wal_ms":${b.walMs},""" +
            s""""commit_offsets_ms":${b.commitOffsetsMs},"state_commit_ms":${b.stateCommitMs},""" +
            s""""state_rows":${b.stateRows},"state_bytes":${b.stateBytes}}"""
        }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failuresJson = failures.map { case (k, e) =>
      Verify.jsonString(k) + ":{\"class\":" + Verify.jsonString(e.getClass.getName) +
        ",\"message\":" + Verify.jsonString(String.valueOf(e.getMessage)) + "}"
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""runs":$nRuns,"spread":$spread,"streams":$streamsJson,"load":$load,""" +
      s""""action":"$actionName",""" +
      s""""n_failed":${failures.size},"failures":$failuresJson,""" +
      s""""sf":"$sfDir"}"""
    println(line)
    // the driver keeps only a truncated stdout TAIL of this process —
    // the full line above gets cut mid-object (r13's BENCH artifact had
    // parsed:null). Write the full per-query JSON to a file for the
    // audit trail, and print a compact self-contained summary LAST so
    // whatever tail the driver keeps ends in one parseable JSON line
    // carrying the total + the load stamp.
    // r16 (r15 verdict item 2): the default file name is stamped with
    // cpus + sf so the driver's low-core scaling rerun can no longer
    // clobber the 32-core per-query artifact (which left PERF_r15's
    // per_query/scaling tables empty), and the per-query map is ALSO
    // printed in bounded self-contained chunks right before the summary
    // line — whatever stdout tail the driver keeps, the chunks nearest
    // the end parse, so per-query data is recoverable without the file.
    val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
    // A full-registry run also rewrites the canonical bench_out.json, so
    // the file a reader of the default name opens is the latest full
    // run's; a subset run (ONLY/SKIP) writes only its own file.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_out.c$cpus.$sfBase.json")
    val canonical = if (sched.size == SparkEntry.queries.size) Seq("bench_out.json") else Nil
    (out +: canonical).distinct.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val chunkSize = 64
    val chunks = results.grouped(chunkSize).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val body = chunk.map { case (k, ts) => s"\"" + k + "\":" + med(ts) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"queries_chunk","part":${i + 1},""" +
        s""""of":${chunks.size},"cpus":$cpus,"sf":"$sfDir","queries":$body}""")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${results.size},"n_failed":${failures.size},""" +
      s""""runs":$nRuns,"load":$load,""" +
      s""""action":"$actionName","queries_file":"$out","sf":"$sfDir"}""")
    spark.stop()
  }
}
