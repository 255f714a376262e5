package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** A fixed mix of registry queries over the read-only test tables, run
  * pass after pass. Each query's output goes to the noop sink; the order
  * of the queries changes each pass, drawn from the seed.
  */
final class RegistryMix(spark: SparkSession, dir: String, seed: Long, tmp: File, home: String,
                        tr: Tracer) extends Workload {
  import RegistryMix._

  private val fns: Map[String, (SparkSession, String) => DataFrame] =
    Queries.map(q => q -> SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"query $q is not in SparkEntry.queries"))).toMap

  private val oracleDir = new File(tmp, "oracle")
  private val written = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]

  private def evaluate(q: String): Unit =
    tr(s"operators.$q")(fns(q)(spark, dir).write.format("noop").mode("overwrite").save())

  /** Writes a query's output as parquet for the oracle comparison. */
  private def keep(q: String): Unit =
    written(q) =
      try { fns(q)(spark, dir).write.mode("overwrite").parquet(new File(oracleDir, q).getPath); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }

  /** The first pass pays each query's planning and code generation and
    * keeps its output for the oracle; `WarmPasses` noop passes follow so
    * that the JIT compiles the generated code before the window.
    */
  def setup(): Unit = {
    require(new File(dir, "lineitem.parquet").exists(),
      s"registry_mix reads the test tables at $dir, which is missing")
    Queries.foreach { q => keep(q); tidy() }
    (1 to WarmPasses).foreach(_ => Queries.foreach { q => evaluate(q); tidy() })
  }

  def round(r: Int): Seq[Op] =
    new Random(seed * 31L + r).shuffle(Queries).map(q => Op(q, 1L, () => evaluate(q)))

  def nominalRoundS: Double = 4.0

  /** Releases what a query leaves behind: cached and pinned frames,
    * memory-sink views and any streaming query still running.
    */
  def tidy(): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.sharedState.cacheManager.clearCache()
    // a pinned fixture is unusable once its blocks are freed, so its memo goes first
    graft.sources.Synthetic.clearZipfPins()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("gate_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** Each query's output, kept in set-up, against DuckDB running the
    * registry's oracle SQL over the same tables (`oracle.py`, which writes
    * one `query<TAB>ok|FAIL<TAB>detail` line per query).
    */
  def check(): Seq[Check] = {
    val sqlFile = new File(tmp, "oracle_sql.json")
    val sql = Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.write(sqlFile.toPath, Json.value(sql).getBytes(UTF_8))
    val verdictFile = new File(tmp, "oracle_verdicts.tsv")
    val code = new ProcessBuilder("python3", new File(home, "oracle.py").getPath,
      "--data", dir, "--results", oracleDir.getPath, "--sql", sqlFile.getPath,
      "--out", verdictFile.getPath, "--spill", tmp.getPath).inheritIO().start().waitFor()
    val verdicts: Map[String, (Boolean, String)] =
      if (code != 0 || !verdictFile.exists()) Map.empty
      else Files.readAllLines(verdictFile.toPath, UTF_8).asScala.map(_.split("\t", 3)).collect {
        case Array(q, ok, detail) => q -> (ok == "ok", detail)
      }.toMap
    written.toSeq.map {
      case (q, Some(err)) => Check(s"$q.oracle", ok = false, s"output not written: $err")
      case (q, None) => verdicts.get(q) match {
        case Some((ok, detail)) => Check(s"$q.oracle", ok, detail)
        case None if code != 0 => Check(s"$q.oracle", ok = false, s"oracle.py ended with $code")
        case None => Check(s"$q.oracle", ok = false, "no oracle SQL for this query")
      }
    }
  }

  def layerMetrics(probe: SparkProbe): Seq[(String, Double, String)] =
    Queries.flatMap { q =>
      val ops = probe.ops.filter(_.op == q).toSeq
      def med(f: OpCounters => Double) = Stats.median(ops.map(f))
      Seq(
        (s"operators.${q}_s", Stats.median(tr.timedSeconds(s"operators.$q")), "s"),
        (s"spark.$q.jobs", med(_.jobs.toDouble), "count"),
        (s"spark.$q.tasks", med(_.tasks.toDouble), "count"),
        (s"spark.$q.task_s_max", med(_.taskMaxS), "s"),
        (s"spark.$q.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes"),
        (s"spark.$q.planning_s", med(_.planningS), "s"))
    }

  def close(): Unit = tidy()
}

object RegistryMix {
  /** One query of each family: relational, similarity, spatial, text,
    * a streaming gate and raster I/O. Each takes 0.3 to 1.2 s warm on the
    * reference machine, so one pass is about 4 s and a run holds several.
    */
  val Queries: Vector[String] = Vector(
    "q1_pricing", "q_exact_dedup", "q_focal_mean", "q_bpe_encode",
    "q_stream_chunks", "q_raster_roundtrip")
  val WarmPasses = 1

}
