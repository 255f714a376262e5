package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); driver sets no env
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // dev-only parallel-write mode for full-registry sweeps at sf1+:
    // coalesce(1) funnels each query's final stage through ONE task
    // (a full sf1 dump measured ~2.7h, write-bound), while the local
    // checkers glob <name>/*.parquet and sort rows — so multi-file
    // output compares identically at 32× the write parallelism. The
    // driver sets no env and keeps the single-file layout.
    val parallelWrite = sys.env.get("SPARK_GRAFT_PARALLEL_WRITE").contains("1")
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        (if (parallelWrite) df else df.coalesce(1))
          .write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = e.getClass.getName
      }
    }
    // one stdout line names every failed query and its exception class
    println(s"[verify] ${failures.size} failed" + (if (failures.isEmpty) ""
      else failures.map { case (n, c) => s"$n ($c)" }.mkString(": ", ", ", "")))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in the oracle SQL would otherwise make a reader's
    * json.load fail and silently drop every query's check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
