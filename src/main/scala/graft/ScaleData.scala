package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: scale the driver-generated testdata N× by replicating
  * every fact/dim row with DISJOINT key offsets, preserving all
  * foreign-key relationships — the cross-scale confirmation fixture
  * (SURVEY §7: domain-boundedness claims are argued at 100 TB but were
  * verified only ≤ sf0.1; this produces the sf≈1 run the r9 verdict
  * asked for). Each key column shifts by replica × 10^ceil(log10(max
  * + 1)) so replica key spaces never collide and joins stay exact;
  * non-key attributes repeat verbatim (costs scale with rows — the
  * point of the run; duplicated text/vectors are a legitimate shape
  * for the dedup family, which must then find them).
  *
  * Usage: runMain graft.ScaleData <srcDir> <dstDir> <factor>
  */
object ScaleData {
  private def off(df: DataFrame, keyCol: String): Long = {
    val mx = df.agg(max(col(keyCol))).collect()(0).getLong(0)
    var o = 1L
    while (o <= mx) o *= 10L
    o
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args
    val f = factorS.toInt
    // reuse a live session (the spec calls main in-process — stopping
    // a borrowed session would kill every suite after it)
    val borrowed = org.apache.spark.sql.SparkSession.getDefaultSession
    val spark = borrowed.getOrElse(GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)))
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // key offsets derived from the SOURCE maxima (FK pairs share one)
    val offC = off(read("customer"), "c_custkey")
    val offS = off(read("supplier"), "s_suppkey")
    val offP = off(read("part"), "p_partkey")
    val offO = off(read("orders"), "o_orderkey")
    val offE = off(read("events"), "event_id")
    val offU = off(read("events"), "user_id")
    val offD = off(read("documents"), "doc_id")
    val offV = off(read("embeddings"), "vec_id")

    def rep(df: DataFrame, shifts: (String, Long)*): DataFrame = {
      val shifted = shifts.foldLeft(
        df.crossJoin(broadcast(spark.range(f).toDF("__rep")))) {
        case (acc, (c, o)) => acc.withColumn(c, col(c) + col("__rep") * o)
      }
      shifted.drop("__rep")
    }

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> rep(read("customer"), "c_custkey" -> offC),
      "supplier" -> rep(read("supplier"), "s_suppkey" -> offS),
      "part" -> rep(read("part"), "p_partkey" -> offP),
      "orders" -> rep(read("orders"), "o_orderkey" -> offO, "o_custkey" -> offC),
      "lineitem" -> rep(read("lineitem"), "l_orderkey" -> offO,
        "l_partkey" -> offP, "l_suppkey" -> offS),
      "events" -> rep(read("events"), "event_id" -> offE, "user_id" -> offU),
      "documents" -> rep(read("documents"), "doc_id" -> offD),
      "embeddings" -> rep(read("embeddings"), "vec_id" -> offV))

    out.foreach { case (t, df) =>
      // one parquet FILE per table, matching the driver layout
      // (<dst>/<t>.parquet is a file path, not a directory)
      val tmp = s"$dst/__tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$dst/$t.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"SCALED $t -> $dst/$t.parquet")
    }
    if (borrowed.isEmpty) spark.stop()
  }
}
