package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct, Filter,
  GlobalLimit, LocalRelation, LogicalPlan, Project, Range, Repartition, RepartitionByExpression,
  Sort, SubqueryAlias, Tail, Union, Window}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD, PartitionedFileUtil}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.core.{Materialize, RowSlices}

/** Parquet table loaders for the driver-generated star schema.
  *
  * All reads go through `spark.read.parquet` so Catalyst owns column
  * pruning and predicate pushdown; callers select/filter declaratively and
  * the scan shrinks accordingly (verified via `.explain("formatted")`:
  * PushedFilters / ReadSchema).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    =
    guardNanosLong(table(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame  =
    guardNanosLong(table(s, d, "lineitem"), "l_shipdate")

  /** Date-ish fact columns (o_orderdate, l_shipdate) currently arrive as
    * timestamp[us] NTZ and are used ONLY in literal comparisons /
    * date_trunc — both resolve on NTZ, and leaving the scan column
    * untouched keeps predicate pushdown into the parquet source (the
    * audited `PushedFilters` posture; an unconditional cast here would
    * detach every date filter from the scan). The ONE encoding that is
    * silently catastrophic is TIMESTAMP(NANOS): under the session's
    * `nanosAsLong` it surfaces as a plain long and every date predicate
    * would compare strings to nanos. Normalize exactly that case
    * (correctness over pushdown when the generator flips encodings —
    * the round-8 lesson).
    */
  private def guardNanosLong(df: DataFrame, name: String): DataFrame =
    if (df.schema(name).dataType == LongType)
      df.withColumn(name,
        timestamp_micros(expr(s"($name - pmod($name, 1000L)) div 1000L")))
    else df
  /** events.ts arrives in whichever physical encoding the generator used
    * that round — the engine normalizes ALL of them to a canonical
    * TIMESTAMP (instant semantics) so downstream `unix_micros` et al.
    * always resolve:
    *   - parquet TIMESTAMP(NANOS): Spark reads it as a nanos-epoch long
    *     (spark.sql.legacy.parquet.nanosAsLong — set by
    *     [[graft.GraftSession]]); truncate to micros like DuckDB does so
    *     both engines see identical timestamps.
    *   - parquet timestamp[us] isAdjustedToUTC=false: Spark 4 reads it as
    *     TIMESTAMP_NTZ; cast to TIMESTAMP — instant-preserving because the
    *     session timezone is pinned UTC ([[graft.GraftSession]]).
    *   - parquet timestamp[us] isAdjustedToUTC=true: already TIMESTAMP.
    * TimestampEncodingSpec pins this three-way contract.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // floor division (subtract the non-negative pmod remainder first):
        // plain `div` truncates toward zero, which would land pre-1970
        // sub-microsecond instants one microsecond LATE vs DuckDB's
        // truncation; integer `div` keeps full 64-bit precision
        df.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000L)) div 1000L")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Ensure enough partitions for a per-partition kernel to use the
    * cluster. The local testdata ships one row group per file, which
    * Spark cannot split — a scan arrives as ONE task no matter how many
    * cores exist. A real 100 TB table has thousands of row groups, so
    * this is a no-op there (partitions ≥ target); locally it trades one
    * narrow shuffle of the projected columns for full parallelism in the
    * kernel stage.
    *
    * A pinned frame is spread by its rows, with no shuffle. Where the
    * plan reads a [[Materialize.pin]]ned leaf through projections and
    * filters of deterministic expressions only, and the pin's row counts
    * show fewer non-empty partitions than the target (a raster tile cut
    * from a pinned raster keeps its partitions, with all its rows in one),
    * the leaf is swapped for one over a narrow RDD whose partitions each
    * read a contiguous row range of one pinned block ([[RowSlices]]). The
    * rows and their order within each block stay, the leaf's partitioning
    * becomes unknown, and the plan above it is unchanged; no stage, task
    * or job is added. Every other frame keeps the partition-count rule:
    * parquet and unknown leaves, anything under an exchange, and a pinned
    * frame without counts.
    *
    * The decision is read off the frame's analyzed logical plan
    * ([[partitionsOf]], [[narrowLeafRdd]]), which the frame already
    * holds: deciding runs no job, plans nothing physically, generates no
    * code and builds no Row encoder. (`df.rdd.getNumPartitions` planned,
    * code-generated and encoded the frame, ~11 ms per call on a pinned
    * 4,096-row tile, for a frame the caller then discards.)
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.analyzed
    val skewed = for {
      leaf <- narrowLeafRdd(plan)
      counts <- Materialize.rowCounts(leaf.rdd)
      filled = counts.count(_ > 0)
      if filled > 0 && filled < target
    } yield (leaf, counts)
    skewed match {
      case Some((leaf, counts)) =>
        val slices = RowSlices.plan(counts, target)
        val sliced = leaf.makeCopy(Array(leaf.output, new RowSlices.SlicedRDD(leaf.rdd, slices),
          UnknownPartitioning(slices.length), leaf.outputOrdering,
          Boolean.box(leaf.isStreaming), leaf.stream))
        GraftSqlBridge.ofRows(df.sparkSession,
          plan.transformUp { case r: LogicalRDD if r eq leaf => sliced })
      case None =>
        val leafParallelism = df.sparkSession.conf
          .getOption(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM.key).fold(target)(_.toInt)
        if (partitionsOf(plan, leafParallelism) >= target) df
        else df.repartition(target)
    }
  }

  /** The existing-RDD leaf a plan reads through projections, filters and
    * aliases alone, none with a nondeterministic expression (a `rand` or
    * a partition id would change with the split).
    */
  private def narrowLeafRdd(plan: LogicalPlan): Option[LogicalRDD] = plan match {
    case r: LogicalRDD => Some(r)
    case p @ (_: Project | _: Filter | _: SubqueryAlias) if p.expressions.forall(_.deterministic) =>
      narrowLeafRdd(p.children.head)
    case _ => None
  }

  /** The partitions a plan's physical scan will produce, the way Spark
    * will split it: an existing RDD (a pinned frame) reports its own
    * count; a local relation `min(rows, leaf parallelism)`; a range its
    * slices; a file relation the file splits Spark's scan packs
    * (`FilePartition`, over the full listing: partition filters are not
    * applied, so a pruned scan can count high). An explicit
    * `repartition(n)` counts n and `coalesce(n)` at most n; a global
    * limit, tail, ungrouped aggregate or unpartitioned window gathers to
    * one. Any other exchange (grouped aggregate, partitioned window,
    * global sort, distinct, `repartition` by columns, and every
    * multi-child node but a union: joins, set operations) means the plan
    * is already spread
    * ([[Int.MaxValue]]). A union adds its children; any other node keeps
    * its child's count, and an unknown leaf counts as one.
    */
  private def partitionsOf(plan: LogicalPlan, leafParallelism: Int): Int = {
    def of(p: LogicalPlan) = partitionsOf(p, leafParallelism)
    plan match {
      case r: LogicalRDD => r.rdd.getNumPartitions
      case r: ExternalRDD[_] => r.rdd.getNumPartitions
      case l: LocalRelation => if (l.data.isEmpty) 0 else math.min(l.data.length, leafParallelism)
      case r: Range => r.numSlices.getOrElse(leafParallelism)
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fileSplits(fs)
        case _ => 1
      }
      case Repartition(n, true, _) => n
      case Repartition(n, false, child) => math.min(n, of(child))
      case r: RepartitionByExpression => r.optNumPartitions.getOrElse(Int.MaxValue)
      case _: GlobalLimit | _: Tail => 1
      case a: Aggregate => if (a.groupingExpressions.isEmpty) 1 else Int.MaxValue
      case w: Window => if (w.partitionSpec.isEmpty) 1 else Int.MaxValue
      case s: Sort if s.global => Int.MaxValue
      case _: Distinct | _: Deduplicate => Int.MaxValue
      case u: Union => u.children.foldLeft(0L)((n, c) => n + of(c)).min(Int.MaxValue).toInt
      case p if p.children.length > 1 => Int.MaxValue
      case p if p.children.length == 1 => of(p.children.head)
      case _ => 1
    }
  }

  /** The splits a non-bucketed file scan packs into tasks: the same
    * `maxSplitBytes`, per-file splitting and bin-packing as Spark's
    * `FileSourceScanExec`, over the index's cached listing.
    */
  private def fileSplits(fs: HadoopFsRelation): Int = {
    val dirs = fs.location.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(fs.sparkSession, dirs)
    val splits = dirs.flatMap { dir =>
      dir.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          fs.fileFormat.isSplitable(fs.sparkSession, fs.options, f.getPath), maxSplit, dir.values)
      }
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(fs.sparkSession, splits, maxSplit).length
  }
}
