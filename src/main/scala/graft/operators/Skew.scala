package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Skew-mitigation helpers (SURVEY.md §6): when a shuffle key is heavily
  * skewed (one user/tenant dominating events), a single reducer absorbs
  * the hot key. Salting splits each key into `salt` sub-keys for the
  * first (wide) aggregation, then reduces the tiny salted result — two
  * shuffles, but the big one is uniform.
  *
  * AQE's skew-join handling covers joins; this covers aggregations,
  * where AQE cannot split a hash-aggregate key.
  */
object Skew {

  /** groupBy(keys).agg(sum/count) with salted pre-aggregation.
    * Result is identical to the direct aggregation (sums and counts are
    * associative); only the shuffle layout differs.
    */
  def saltedSumCount(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      salt: Int = 16
  ): DataFrame = {
    // the salt must be DETERMINISTIC per row: with partition-id/row-order
    // salts, a fetch-failure retry recomputes map tasks with different
    // salt assignments and the combined partials double-count or drop
    // rows (the SPARK-23207 class of bug). Hash every column — spreads
    // the hot key unless rows are full duplicates.
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.toSeq.map(col): _*), lit(salt)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"), sum(col("__pcnt")).as("n"))
  }

  /** Skew-proof RUNNING aggregate (per-key prefix sum ordered by
    * `orderCol`) — the plan shape a hot key genuinely breaks in Spark:
    * `sum(...) over (partition by key order by ...)` shuffles EVERY row
    * of the hot key to ONE reducer, which then sorts and scans it
    * single-threaded (no WindowGroupLimit applies — every row is
    * output, and running sums are not salting-associative). The classic
    * distributed-scan fix:
    *
    *   1. range-repartition on (key, order) — a hot key SPANS many
    *      partitions, each sorted locally (parallel sorts);
    *   2. per-(partition, key) totals — at most #partitions + #keys
    *      rows (each partition holds a contiguous (key, order) range),
    *      collected and turned into per-(partition, key) OFFSETS by a
    *      driver-side cumulative pass over this tiny side table;
    *   3. second pass adds local prefix + broadcast offset.
    *
    * The partitioned frame is pinned BETWEEN the passes: range
    * boundaries come from reservoir sampling, so an unpinned plan could
    * re-sample different boundaries in pass 2 and mismatch the offsets.
    * Values must be integral (exact Long running sums — float prefix
    * sums are order-defined anyway, which is exactly what this
    * preserves). Output: (key, orderCol, valueCol, running).
    */
  def rangePartitionedRunningSum(
      df: DataFrame,
      key: String,
      orderCol: String,
      valueCol: String,
      numPartitions: Int = 32
  ): DataFrame = {
    val parted = graft.core.Materialize.pin(
      df.select(col(key).cast("long"), col(orderCol).cast("long"),
                col(valueCol).cast("long"))
        .repartitionByRange(numPartitions, col(key), col(orderCol))
        .sortWithinPartitions(col(key), col(orderCol)))
    val totSchema = StructType(Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("total", LongType, nullable = false)))
    val partTotals = parted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val acc = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      it.foreach { r =>
        val k = r.getLong(0)
        acc.update(k, acc.getOrElse(k, 0L) + r.getLong(2))
      }
      acc.iterator.map { case (k, t) => Row(pid, k, t) }
    }(org.apache.spark.sql.Encoders.row(totSchema))
      .collect() // bounded: ≤ numPartitions + #keys rows
    // offset(pid, k) = Σ totals of k in partitions < pid
    val offsets: Map[(Int, Long), Long] = {
      val byKey = partTotals.groupBy(_.getLong(1))
      byKey.iterator.flatMap { case (k, rows) =>
        var cum = 0L
        rows.sortBy(_.getInt(0)).map { r =>
          val o = (r.getInt(0), k) -> cum
          cum += r.getLong(2)
          o
        }
      }.toMap
    }
    val bc = df.sparkSession.sparkContext.broadcast(offsets)
    val outSchema = StructType(Seq(
      StructField(key, LongType, nullable = false),
      StructField(orderCol, LongType, nullable = false),
      StructField(valueCol, LongType, nullable = false),
      StructField("running", LongType, nullable = false)))
    parted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val off = bc.value
      var curKey = Long.MinValue
      var run = 0L
      it.map { r =>
        val k = r.getLong(0)
        if (k != curKey) { curKey = k; run = off.getOrElse((pid, k), 0L) }
        run += r.getLong(2)
        Row(k, r.getLong(1), r.getLong(2), run)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Salted distinct-count: exact, via the (key, value) dedup shuffle
    * being salted on value hash — the hot key's distinct set spreads
    * over reducers, then per-key counts add up.
    */
  def saltedCountDistinct(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      salt: Int = 16
  ): DataFrame = {
    val bucket: Column = pmod(hash(col(valueCol)), lit(salt))
    df.filter(col(valueCol).isNotNull) // countDistinct excludes NULLs
      .select((keys.map(col) :+ col(valueCol) :+ bucket.as("__salt")): _*)
      .distinct() // shuffles on (keys, value, salt) — uniform even for hot keys
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__pd")) // rows are distinct values per bucket
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__pd")).as(s"n_distinct_$valueCol"))
  }
}
