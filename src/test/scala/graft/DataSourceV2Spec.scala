package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.v2.RasterScan

/** G1: the DataSource V2 raster source must (a) generate the exact
  * Synthetic.rasterGrid values, (b) prune columns to the projection,
  * (c) push y-range filters into partition planning, (d) plan
  * parallel stripes — the four properties that make a custom source
  * scale-correct (see RasterSource scaladoc).
  */
class DataSourceV2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def v2(w: Int, h: Int) =
    spark.read.format("graft.sources.v2.RasterSource")
      .option("w", w).option("h", h).load()

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  test("V2 raster equals the DataFrame-built fixture bit-for-bit") {
    val a = v2(120, 80).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    val b = graft.sources.Synthetic.rasterGrid(spark, 120, 80).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    assert(a.length == 9600 && a.sameElements(b))
  }

  test("column pruning reaches the reader (ReadSchema == projection)") {
    val df = v2(120, 80).select(col("v"))
    assert(scanOf(df).scan.readSchema().fieldNames.toSeq == Seq("v"))
    // and the pruned read still returns the full row count
    assert(df.count() == 9600)
  }

  test("y-range filters prune planned stripes before they run") {
    val df = v2(120, 80).filter(col("y") >= 40 && col("y") < 60)
    val scan = scanOf(df).scan.asInstanceOf[RasterScan]
    assert(scan.description().contains("yRange=[40,59]"),
      s"pushdown did not tighten the stripe range: ${scan.description()}")
    // pushdown is an optimization, not a correctness dependency:
    // values match the fixture filtered the plain way
    val expect = graft.sources.Synthetic.rasterGrid(spark, 120, 80)
      .filter(col("y") >= 40 && col("y") < 60).count()
    assert(df.count() == expect && expect == 120L * 20)
  }

  test("q_raster_source (the gate query) gets pushdown AND pruning in one plan") {
    val df = graft.operators.Estimation.qRasterSource(spark, "")
    // the aggregate runs under AQE, so find the scan in the pre-adaptive
    // physical plan (scanOf's executedPlan walk would see only the
    // AdaptiveSparkPlanExec wrapper)
    val scan = df.queryExecution.sparkPlan
      .collectFirst { case b: BatchScanExec => b }.get
      .scan.asInstanceOf[RasterScan]
    assert(scan.description().contains("yRange=[20,59]"),
      s"gate query's y filter not pushed: ${scan.description()}")
    // x is never referenced → the reader must not emit it
    assert(scan.readSchema().fieldNames.toSeq.sorted == Seq("v", "y"))
    assert(df.count() == 40L)
  }

  test("G3: ORDER BY y DESC LIMIT pushes TopN and plans only tail rows") {
    val df = graft.operators.Estimation.qRasterTopK(spark, "")
    val scan = df.queryExecution.sparkPlan
      .collectFirst { case b: BatchScanExec => b }.get
      .scan.asInstanceOf[RasterScan]
    // 300 cells / 120 per row = 3 tail grid rows: [77,79]
    assert(scan.description().contains("yRange=[77,79]"),
      s"TopN pushdown did not clamp to the tail rows: ${scan.description()}")
    // partial pushdown: Spark's final TopN still produces the exact set
    val got = df.collect().map(r => (r.getLong(1), r.getLong(0)))
    val expect = (for (y <- 79L to 77L by -1; x <- 119L to 0L by -1)
      yield (y, x)).take(300)
    assert(got.length == 300 && got.sameElements(expect))
  }

  test("G3: ORDER BY y ASC LIMIT clamps to head rows; non-y sort does not push") {
    val asc = v2(120, 80).orderBy(col("y").asc).limit(150)
    val ascScan = scanOf(asc).scan.asInstanceOf[RasterScan]
    assert(ascScan.description().contains("yRange=[0,1]"),
      s"ASC TopN should plan the 2 head rows: ${ascScan.description()}")
    assert(asc.count() == 150)
    val byX = v2(120, 80).orderBy(col("x").asc).limit(10)
    val xScan = scanOf(byX).scan.asInstanceOf[RasterScan]
    assert(xScan.description().contains("yRange=[0,79]"),
      s"an x-ordered TopN must NOT clamp the y range: ${xScan.description()}")
  }

  test("G3: a plain LIMIT pushes; a residual-filtered LIMIT must NOT") {
    val plain = v2(120, 80).limit(130)
    val pScan = scanOf(plain).scan.asInstanceOf[RasterScan]
    // ceil(130/120) = 2 head rows
    assert(pScan.description().contains("yRange=[0,1]"),
      s"plain limit should clamp to the head rows: ${pScan.description()}")
    assert(plain.count() == 130)
    // this source keeps pushed filters as residuals (the G1 contract),
    // so Spark rightly refuses to push a limit BELOW a post-scan
    // filter — a clamped range could then return < 130 surviving rows
    val filtered = v2(120, 80).filter(col("y") >= 40).limit(130)
    val fScan = scanOf(filtered).scan.asInstanceOf[RasterScan]
    assert(fScan.description().contains("yRange=[40,79]"),
      s"limit under a residual filter must not clamp: ${fScan.description()}")
    assert(filtered.count() == 130)
  }

  test("G4: the stats sink merges task partials exactly once on driver commit") {
    import graft.sources.v2.StatsSink
    val key = "spec-" + java.util.UUID.randomUUID()
    spark.range(0, 10000).select((col("id") % 97).cast("long").as("v"))
      .repartition(7) // multiple tasks -> multiple commit messages
      .write.format("graft.sources.v2.StatsSink").option("key", key)
      .mode("append").save()
    val st = StatsSink.committed(key).get
    assert(st.n == 10000)
    assert(st.sum == (0L until 10000L).map(_ % 97).sum)
    assert(st.min == 0 && st.max == 96)
  }

  test("G14: reported (y, x) ordering elides per-partition sorts, honestly scoped") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def sorts(df: org.apache.spark.sql.DataFrame): Seq[SortExec] = {
      df.collect() // settle AQE so the final physical plan exists
      def walk(p: SparkPlan): Seq[SortExec] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: SortExec => s +: s.children.flatMap(walk)
        case other => other.children.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
    }
    // every stripe emits (y, x)-ascending, so a PER-PARTITION sort on
    // the reported prefix is elided - on any number of stripes
    val local = v2(50, 40).where("y BETWEEN 0 AND 30")
      .sortWithinPartitions("y", "x")
    assert(sorts(local).isEmpty,
      "expected per-partition sort elision from the reported ordering")
    assert(local.count() == 50L * 31)
    // control 1: a GLOBAL ORDER BY still needs OrderedDistribution -
    // a per-partition ordering report must not elide it
    val global = v2(50, 40).where("y BETWEEN 0 AND 30").orderBy("y", "x")
    assert(sorts(global).nonEmpty,
      "a global ORDER BY cannot be satisfied by per-partition order alone")
    // control 2: x alone is NOT sorted across grid rows - a projection
    // without y must not claim an ordering, so its local sort survives
    val xOnly = v2(50, 40).select("x", "v").sortWithinPartitions("x")
    assert(sorts(xOnly).nonEmpty,
      "x-only projection must not claim an ordering; the sort must stay")
  }

  test("G15: predicate pushdown routes through the V2 path and still prunes stripes") {
    import graft.sources.v2.RasterScan
    val df = v2(120, 80).filter(col("y") >= 40 && col("y") < 60)
    val scan = scanOf(df).scan.asInstanceOf[RasterScan]
    // the V2 translation carries the same range clamp as the V1 path did
    assert(scan.description().contains("yRange=[40,59]"),
      s"V2 predicate pushdown did not tighten the range: ${scan.description()}")
    // and correctness is residual-checked, not pushdown-dependent
    assert(df.count() == 120L * 20)
    // a predicate the source cannot clamp (on x) leaves the range whole
    val xf = v2(120, 80).filter(col("x") < 10)
    val xScan = scanOf(xf).scan.asInstanceOf[RasterScan]
    assert(xScan.description().contains("yRange=[0,79]"),
      s"an x predicate must not clamp y: ${xScan.description()}")
    assert(xf.count() == 10L * 80)
  }

  test("G13: the V2 table catalog runs CREATE/INSERT/SELECT/DELETE/DROP end to end") {
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.v2.MemCatalog].getName)
    val t = "graft_mem.ns.g13_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e')")
    // a second INSERT appends through a separate two-phase commit
    spark.sql(s"INSERT INTO $t SELECT id + 10, CAST(id AS STRING) FROM range(3)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect().head.getLong(0) == 8)
    // DELETE with evaluable source filters
    spark.sql(s"DELETE FROM $t WHERE k < 3")
    val left = spark.sql(s"SELECT k FROM $t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(3L, 4L, 5L, 10L, 11L, 12L))
    // a predicate the store cannot evaluate exactly must FAIL the
    // statement, not half-delete (canDeleteWhere refusal)
    intercept[Exception] {
      spark.sql(s"DELETE FROM $t WHERE k % 2 = 0")
    }
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect().head.getLong(0) == 6)
    // compound filters evaluate
    spark.sql(s"DELETE FROM $t WHERE k >= 10 AND s IN ('0', '2')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect().head.getLong(0) == 4)
    spark.sql(s"DROP TABLE $t")
    intercept[Exception] { spark.sql(s"SELECT * FROM $t").collect() }
  }

  test("G12: the V2 function catalog serves a magic-invoke scalar and a mergeable aggregate") {
    spark.conf.set("spark.sql.catalog.graft_fns",
      classOf[graft.sources.v2.GraftFunctionCatalog].getName)
    // scalar: TRUE floor division, which SQL's truncating div is not
    val r = spark.sql(
      "SELECT graft_fns.kernels.floor_div(-7L, 2L) AS fd, -7L div 2L AS td")
      .collect().head
    assert(r.getLong(0) == -4L, "floor_div must floor")
    assert(r.getLong(1) == -3L, "IntegralDivide truncates - the contrast the fn exists for")
    // the magic method binds via Invoke (no row-path fallback)
    val plan = spark.sql("SELECT graft_fns.kernels.floor_div(id, 2L) FROM range(5)")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("invoke") || plan.contains("floor_div"),
      s"expected an Invoke binding in:\n$plan")
    // aggregate: gcd over a column whose quantum is 250, split across
    // partitions so merge() genuinely runs
    spark.range(1, 1001).selectExpr("id * 250 AS v")
      .repartition(7).createOrReplaceTempView("g12_vals")
    val g = spark.sql("SELECT graft_fns.kernels.gcd_agg(v) AS g FROM g12_vals")
      .collect().head.getLong(0)
    assert(g == 250L, s"gcd quantum must be 250, got $g")
    // grouped form keeps partial aggregation
    val grouped = spark.sql(
      "SELECT v % 3 AS k, graft_fns.kernels.gcd_agg(v) AS g FROM g12_vals GROUP BY 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped.values.forall(_ % 250L == 0L))
  }

  test("G11: RequiresDistributionAndOrdering makes Spark cluster+sort before the writer") {
    import graft.sources.v2.ClusteredSink
    val key = "spec-clustered-" + java.util.UUID.randomUUID()
    // deliberately shuffled, many-partition input: without the engine
    // honoring the sink's demanded layout, task rows would be neither
    // key-disjoint nor sorted
    spark.range(0, 20000)
      .select((col("id") % 13).cast("long").as("k"),
              ((col("id") * 7919) % 104729).cast("long").as("v"))
      .repartition(11)
      .write.format("graft.sources.v2.ClusteredSink").option("key", key)
      .mode("append").save()
    val r = ClusteredSink.committed(key).get
    assert(r.nTasks == ClusteredSink.NumPartitions.toLong,
      "requiredNumPartitions not honored")
    assert(r.nRows == 20000)
    assert(r.nKeys == 13)
    assert(r.allSorted, "rows reached a task writer out of (k, v) order")
    assert(r.disjoint, "a key's rows were split across write tasks")
    assert(r.sumV == (0L until 20000L).map(i => (i * 7919) % 104729).sum)
  }

  test("G4: a failed job publishes nothing (driver commit never runs)") {
    import graft.sources.v2.StatsSink
    val key = "spec-abort-" + java.util.UUID.randomUUID()
    val boom = udf((v: Long) => {
      if (v == 666L) throw new RuntimeException("poison row")
      v
    })
    intercept[Exception] {
      spark.range(0, 1000).select(boom(col("id")).as("v"))
        .write.format("graft.sources.v2.StatsSink").option("key", key)
        .mode("append").save()
    }
    assert(StatsSink.committed(key).isEmpty,
      "aborted write leaked partial state into the registry")
  }

  test("the scan plans parallel stripes and an empty range plans none") {
    val full = scanOf(v2(120, 80)).scan.asInstanceOf[RasterScan]
    assert(full.toBatch.planInputPartitions().length == 8)
    val empty = scanOf(v2(120, 80).filter(col("y") > 1000)).scan.asInstanceOf[RasterScan]
    assert(empty.toBatch.planInputPartitions().isEmpty)
  }

  test("G2: ungrouped statistics push the AGGREGATION into the source") {
    val df = v2(120, 80)
      .agg(count(lit(1)).as("n_cells"), count(col("v")).as("n_valid"),
           sum(col("v")).as("vsum"), min(col("v")).as("vmin"),
           max(col("v")).as("vmax"))
    val scan = df.queryExecution.sparkPlan
      .collectFirst { case b: BatchScanExec => b }.get.scan
    assert(scan.isInstanceOf[graft.sources.v2.RasterAggScan],
      s"aggregate not pushed — scan is ${scan.getClass.getSimpleName}")
    // the reader emits ONE partial row per stripe, no cell columns
    assert(scan.readSchema().length == 5 &&
      !scan.readSchema().fieldNames.exists(Set("x", "y", "v")))
    // values equal the plain DataFrame aggregation over the fixture
    val got = df.collect().head
    val exp = graft.sources.Synthetic.rasterGrid(spark, 120, 80)
      .agg(count(lit(1)), count(col("v")), sum(col("v")), min(col("v")),
           max(col("v"))).collect().head
    assert(got == exp, s"pushed-agg result $got != fixture $exp")
  }

  test("G2: a filtered aggregate stays on the residual-checked row scan") {
    // post-scan residual filters block aggregate pushdown by design —
    // the agg must NOT be pushed past a filter the source only prunes
    val df = v2(120, 80).filter(col("y") >= 40 && col("y") < 60)
      .agg(sum(col("v")).as("vsum"))
    val scan = df.queryExecution.sparkPlan
      .collectFirst { case b: BatchScanExec => b }.get.scan
    assert(scan.isInstanceOf[RasterScan],
      s"filtered aggregate unexpectedly pushed: ${scan.getClass.getSimpleName}")
    val exp = graft.sources.Synthetic.rasterGrid(spark, 120, 80)
      .filter(col("y") >= 40 && col("y") < 60)
      .agg(sum(col("v"))).collect().head
    assert(df.collect().head == exp)
  }

  test("G7: a runtime In(y) filter prunes stripes to the exact row set") {
    // unit-level contract: Spark delivers join-derived filters through
    // SupportsRuntimeFiltering.filter AFTER build(); the planner must
    // then emit exactly the surviving rows (runtime filters are NOT
    // re-checked by Spark — pruning must be exact, unlike G1 residuals)
    val scan = scanOf(v2(120, 80)).scan.asInstanceOf[RasterScan]
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("y", Array[Any](3L, 17L, 42L, 42L, 79L))))
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length == 4)
    val rows = parts.map(_.asInstanceOf[graft.sources.v2.RasterStripe])
      .map(p => (p.yStart, p.yEnd)).toSeq
    assert(rows == Seq((3L, 3L), (17L, 17L), (42L, 42L), (79L, 79L)))
    // intersecting a second runtime filter tightens further
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("y", Array[Any](17L, 42L, 99L))))
    assert(scan.toBatch.planInputPartitions().length == 2)
  }

  test("G7: a selective join on y dynamically prunes the raster scan end to end") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // DPP requires a SELECTIVE predicate on the build side — a bare
    // literal relation does not qualify (pruningHasBenefit = false)
    val dim = spark.range(0, 80).toDF("dy")
      .filter(col("dy") % 29 === 5) // -> {5, 34, 63}
    val q = v2(120, 80).join(dim, col("y") === col("dy"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val got = q.collect().head
    val exp = graft.sources.Synthetic.rasterGrid(spark, 120, 80)
      .filter(col("y").isin(5L, 34L, 63L))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s")).collect().head
    assert(got == exp)
    // the executed adaptive plan's raster scan must carry the
    // join-derived runtime filter (the DPP mechanism engaged); AQE
    // hides stages behind QueryStageExec, so walk them explicitly
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def allScans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case b: BatchScanExec if b.scan.isInstanceOf[RasterScan] => Seq(b)
      case s: QueryStageExec        => allScans(s.plan)
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case other => (other.children ++ other.subqueries).flatMap(allScans)
    }
    val scans = allScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty, "raster scan not found in the executed plan")
    assert(scans.exists(_.runtimeFilters.nonEmpty),
      "no runtime filter reached the raster scan")
  }

  test("G9: single-row stripes report KeyGroupedPartitioning on y; ranges stay Unknown") {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    val small = scanOf(v2(120, 6)).scan.asInstanceOf[RasterScan]
    assert(small.outputPartitioning().isInstanceOf[KeyGroupedPartitioning])
    val ranged = scanOf(v2(120, 80)).scan.asInstanceOf[RasterScan]
    assert(ranged.outputPartitioning().isInstanceOf[UnknownPartitioning])
    // pruning y away must withdraw the claim (the key is not in output)
    val noY = scanOf(v2(120, 6).select(col("v"))).scan.asInstanceOf[RasterScan]
    assert(noY.outputPartitioning().isInstanceOf[UnknownPartitioning])
  }

  test("G9: under v2 bucketing a y-grouped aggregate skips the shuffle") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = v2(120, 6).groupBy(col("y"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      val exchanges = df.queryExecution.executedPlan.toString
        .split("\n").count(_.contains("Exchange"))
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val exp = graft.sources.Synthetic.rasterGrid(spark, 120, 6)
        .groupBy(col("y")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(got.sameElements(exp))
      assert(exchanges == 0,
        s"y-grouped aggregate still shuffles with reported partitioning:\n" +
          df.queryExecution.executedPlan.toString.take(1500))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("G10: the _stripe metadata column is hidden from * but selectable by name") {
    val plain = v2(120, 80)
    assert(!plain.schema.fieldNames.contains("_stripe"))
    val withMeta = plain.select(col("y"), col("_stripe"))
    // 80 rows / 8 stripes = 10 grid rows per stripe: the provenance
    // column equals the stripe's start row
    val got = withMeta.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 9600)
    assert(got.forall { case (y, st) => st == (y / 10) * 10 })
    // filters on the metadata column behave like any column
    assert(plain.select(col("x"), col("_stripe"))
      .filter(col("_stripe") === 40L).count() == 10 * 120)
  }

  test("G8: reported statistics shrink with pruning and drive broadcast selection") {
    // stats track the filter-tightened range and the projected width
    val full = scanOf(v2(120, 80)).scan.asInstanceOf[RasterScan]
    assert(full.estimateStatistics().numRows().getAsLong == 9600)
    val pruned = scanOf(v2(120, 80).filter(col("y") >= 78).select(col("y")))
      .scan.asInstanceOf[RasterScan]
    assert(pruned.estimateStatistics().numRows().getAsLong == 240)
    assert(pruned.estimateStatistics().sizeInBytes().getAsLong <
           full.estimateStatistics().sizeInBytes().getAsLong / 10)
    // a y-pruned raster joined to a large frame broadcasts the raster
    // side BECAUSE the source reported a small size — no hint anywhere
    val big = spark.range(0, 2000000).select((col("id") % 120).as("x2"))
    val j = v2(120, 80).filter(col("y") === 7).join(big, col("x") === col("x2"))
    val bhj = j.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "stats-driven broadcast join not chosen:\n" +
      j.queryExecution.sparkPlan.toString.take(2000))
  }

  test("G6: streaming write merges epochs cumulatively and a retried epoch commits once") {
    import graft.sources.v2.{StatsPartial, StatsSink, StatsStreamingWrite}
    val key = "g6-retry-" + java.util.UUID.randomUUID()
    val w = new StatsStreamingWrite(key)
    w.commit(0L, Array(StatsPartial(2, 10, 3, 7), StatsPartial(1, 5, 5, 5)))
    w.commit(1L, Array(StatsPartial(1, -4, -4, -4)))
    // recovery re-runs epoch 1 — the idempotent publish must not double-count
    w.commit(1L, Array(StatsPartial(1, -4, -4, -4)))
    // an empty epoch must publish nothing (identity min/max stay out)
    w.commit(2L, Array(StatsPartial(0, 0, Long.MaxValue, Long.MinValue)))
    val (nEpochs, st) = StatsSink.streamCommitted(key).get
    assert(nEpochs == 2 && st == StatsSink.Stats(4, 11, -4, 7))
  }

  test("G6: a MemoryStream drained through the streaming sink equals the direct fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "g6-stream-" + java.util.UUID.randomUUID()
    val input = MemoryStream[Long]
    val ckpt = graft.core.TempDir.forJvm("g6ckpt").toString
    val q = input.toDS().toDF("v")
      .writeStream.format("graft.sources.v2.StatsSink").option("key", key)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      input.addData(5L, 9L, 2L); q.processAllAvailable()
      input.addData(11L, -3L); q.processAllAvailable()
      val (nEpochs, st) = graft.sources.v2.StatsSink.streamCommitted(key).get
      assert(nEpochs == 2 && st == graft.sources.v2.StatsSink.Stats(5, 24, -3, 11))
    } finally q.stop()
  }

  test("G5: AvailableNow drains the grid in rate-limited micro-batches == batch read") {
    // rowsPerBatch=16 over 80 grid rows -> exactly 5 planned batches;
    // the drained stream must equal the batch scan row-for-row
    val q = spark.readStream.format("graft.sources.v2.RasterSource")
      .option("w", 120).option("h", 80).option("rowsPerBatch", 16).load()
      .writeStream.format("memory").queryName("g5_rows")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 5,
        s"expected 5 rate-limited micro-batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows == 16 * 120))
      val got = spark.table("g5_rows").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sortBy(t => (t._2, t._1))
      val exp = v2(120, 80).collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sortBy(t => (t._2, t._1))
      assert(got.length == 9600 && got.sameElements(exp))
    } finally q.stop()
  }

  test("G5: a filtered projected stream stays correct via residual re-evaluation") {
    // Spark does NOT push filters into a micro-batch V2 scan (unlike
    // the batch path): the y predicate runs post-scan as a residual,
    // so every grid row is still admitted (10 batches of 8 rows) and
    // correctness comes from re-evaluation — the same "pushdown is an
    // optimization, never a correctness dependency" contract as G1
    val q = spark.readStream.format("graft.sources.v2.RasterSource")
      .option("w", 120).option("h", 80).option("rowsPerBatch", 8).load()
      .filter(col("y") >= 20 && col("y") <= 43)
      .select(col("y"), col("v"))
      .writeStream.format("memory").queryName("g5_pruned")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      // full 80-row grid at 8 rows/batch: the rate limit still bounds
      // every micro-batch even though the filter is not pushed
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 10 && batches.forall(_.numInputRows == 8 * 120))
      val got = spark.table("g5_pruned").groupBy(col("y"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      val exp = v2(120, 80).filter(col("y") >= 20 && col("y") <= 43)
        .groupBy(col("y")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(got.length == 24 && got.sameElements(exp))
    } finally q.stop()
  }

  test("G20: rowlevel tables run SQL UPDATE and MERGE; plain tables keep the DELETE refusal") {
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.v2.MemCatalog].getName)
    val t = "graft_mem.spec.rl_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, st STRING, cents BIGINT) " +
      "TBLPROPERTIES('rowlevel'='true')")
    spark.sql(s"INSERT INTO $t VALUES (1, 'O', 100), (2, 'F', 200), (3, 'O', 300)")
    spark.sql(s"UPDATE $t SET cents = cents + 7 WHERE st = 'O'")
    assert(spark.sql(s"SELECT SUM(cents) FROM $t").collect()(0).getLong(0) == 614)
    spark.sql(s"SELECT 2L AS k, 1000L AS dc UNION ALL SELECT 9L, 50L")
      .createOrReplaceTempView("g20_delta")
    spark.sql(s"""MERGE INTO $t USING g20_delta d ON $t.k = d.k
      WHEN MATCHED THEN UPDATE SET cents = $t.cents + d.dc
      WHEN NOT MATCHED THEN INSERT (k, st, cents) VALUES (d.k, 'M', d.dc)""")
    val rows = spark.sql(s"SELECT k, st, cents FROM $t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "O", 107L), (2L, "F", 1200L), (3L, "O", 307L), (9L, "M", 50L)))
    // and a rowlevel table's DELETE with an evaluable predicate still
    // takes the metadata path (row count, no rewrite needed to check)
    spark.sql(s"DELETE FROM $t WHERE st = 'M'")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect()(0).getLong(0) == 3)
    // the predicate canDeleteWhere REFUSES on plain tables now takes
    // the group-based rewrite on a rowlevel table — and works
    spark.sql(s"DELETE FROM $t WHERE k % 2 = 1")
    assert(spark.sql(s"SELECT k FROM $t").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // plain table (no property): the unsupported-predicate DELETE must
    // still REFUSE, not silently fall back to a rewrite
    val p = "graft_mem.spec.plain_t"
    spark.sql(s"DROP TABLE IF EXISTS $p")
    spark.sql(s"CREATE TABLE $p (k BIGINT)")
    spark.sql(s"INSERT INTO $p VALUES (1), (2), (3), (4)")
    intercept[Exception] { spark.sql(s"DELETE FROM $p WHERE k % 2 = 0") }
    assert(spark.sql(s"SELECT COUNT(*) FROM $p").collect()(0).getLong(0) == 4)
    spark.sql(s"DROP TABLE $t"); spark.sql(s"DROP TABLE $p")
  }

  test("G21: ALTER TABLE ADD COLUMNS widens the schema, back-fills NULL, refuses drops") {
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.v2.MemCatalog].getName)
    val t = "graft_mem.spec.evo_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, st STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (cents BIGINT)")
    // old rows read back null-padded through the widened schema
    val before = spark.sql(s"SELECT k, st, cents FROM $t ORDER BY k").collect()
    assert(before.map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq ==
      Seq((1L, "a", true), (2L, "b", true)))
    // new writes land in the new column
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 300)")
    val after = spark.sql(
      s"SELECT COUNT(*) AS n, SUM(cents) AS sc FROM $t").collect()(0)
    assert(after.getLong(0) == 3 && after.getLong(1) == 300)
    // destructive changes refuse loudly instead of reinterpreting rows
    intercept[Exception] { spark.sql(s"ALTER TABLE $t DROP COLUMN st") }
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect()(0).getLong(0) == 3)
    spark.sql(s"DROP TABLE $t")
  }

  test("G22: time travel — VERSION AS OF, TIMESTAMP AS OF, immutability, refusal") {
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.v2.MemCatalog].getName)
    val t = "graft_mem.spec.tt_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1), (2), (3)")        // v1
    spark.sql(s"INSERT INTO $t VALUES (4), (5)")             // v2
    spark.sql(s"DELETE FROM $t WHERE k <= 2")                // v3
    def ks(sql: String): Seq[Long] =
      spark.sql(sql).collect().map(_.getLong(0)).sorted.toSeq
    assert(ks(s"SELECT k FROM $t VERSION AS OF 1") == Seq(1L, 2L, 3L))
    assert(ks(s"SELECT k FROM $t VERSION AS OF 2") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ks(s"SELECT k FROM $t VERSION AS OF 3") == Seq(3L, 4L, 5L))
    assert(ks(s"SELECT k FROM $t") == Seq(3L, 4L, 5L))
    // snapshots are COPIES: later DML must not mutate an old version
    spark.sql(s"DELETE FROM $t WHERE k = 3")                 // v4
    assert(ks(s"SELECT k FROM $t VERSION AS OF 1") == Seq(1L, 2L, 3L))
    // TIMESTAMP AS OF: latest snapshot at-or-before wins (resolve via
    // the recorded commit stamps — wall clock, so spec-level only)
    import graft.sources.v2.MemStore
    val st = MemStore.tables(s"$t")
    val cat = spark.sessionState.catalogManager.catalog("graft_mem")
      .asInstanceOf[graft.sources.v2.MemCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("spec"), "tt_t")
    val snap2 = st.synchronized(st.snapshots(1))
    val tbl = cat.loadTable(ident, snap2.tsMicros)
    assert(tbl.name().endsWith("@v2"),
      s"timestamp travel to v2's stamp resolved ${tbl.name()}")
    // unknown versions refuse loudly — no silent fallback to current
    intercept[Exception] { spark.sql(s"SELECT k FROM $t VERSION AS OF 99").collect() }
    spark.sql(s"DROP TABLE $t")
  }

  test("G22b: expire_snapshots — retention, expired refusal, min-retained, idempotency") {
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[graft.sources.v2.MemCatalog].getName)
    val t = "graft_mem.spec.ret_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1)")        // v1
    spark.sql(s"INSERT INTO $t VALUES (2)")        // v2
    spark.sql(s"INSERT INTO $t VALUES (3)")        // v3
    spark.sql(s"INSERT INTO $t VALUES (4)")        // v4
    val r = spark.sql(
      "CALL graft_mem.system.expire_snapshots('spec.ret_t', 2)").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 3L, 4L)),
      s"expected (expired=2, from=3, to=4), got $r")
    // retained versions still read; current unaffected
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 3").collect()(0).getLong(0) == 3L)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 4").collect()(0).getLong(0) == 4L)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect()(0).getLong(0) == 4L)
    // an EXPIRED version refuses with the explicit "expired" error —
    // distinct from a version that never existed
    val eExp = intercept[Exception] {
      spark.sql(s"SELECT k FROM $t VERSION AS OF 1").collect()
    }
    assert(eExp.getMessage.contains("expired"), s"wrong refusal: ${eExp.getMessage}")
    val eMissing = intercept[Exception] {
      spark.sql(s"SELECT k FROM $t VERSION AS OF 99").collect()
    }
    assert(!eMissing.getMessage.contains("expired"),
      "never-existed must not report as expired")
    // idempotency: a second expire with the same keep drops nothing
    val r2 = spark.sql(
      "CALL graft_mem.system.expire_snapshots('spec.ret_t', 2)").collect()(0)
    assert(r2.getLong(0) == 0L && r2.getLong(1) == 3L && r2.getLong(2) == 4L)
    // min-retained guarantee: keep_last < 1 refuses, log untouched
    intercept[Exception] {
      spark.sql("CALL graft_mem.system.expire_snapshots('spec.ret_t', 0)").collect()
    }
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 4").collect()(0).getLong(0) == 4L)
    // new commits after expiry keep numbering from the retained log
    spark.sql(s"INSERT INTO $t VALUES (5)")        // v5
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 5").collect()(0).getLong(0) == 5L)
    spark.sql(s"DROP TABLE $t")
  }
}
