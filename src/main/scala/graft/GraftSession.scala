package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: every entry point (Verify, Bench, tests)
  * builds through here so engine-level settings stay consistent.
  *
  * Streaming checkpoint files open through [[graft.core.CheckpointFiles]]:
  * Spark's default `FileContext` manager pays about 12 ms per file on a
  * local directory (it sets permissions on each create, and without
  * Hadoop's native library that forks `chmod`), several files a
  * micro-batch. The class changes local paths only; HDFS and object-store
  * checkpoints keep Spark's default manager.
  */
object GraftSession {
  /** Configs the engine requires regardless of entry point. */
  def withGraftConfigs(b: SparkSession.Builder): SparkSession.Builder = b
    // testdata events.ts is TIMESTAMP(NANOS); Spark reads it as a long
    // (normalized back to micros in graft.sources.Tables.events).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    // Constraint propagation canonicalizes giant And predicates when a
    // wide (64-feature) pivot + CASE-chain prediction feeds a join —
    // observed as a >15 min PLANNING hang on the k-means query (TimSort
    // inside Expression.canonicalized). Every graft plan states its
    // filters explicitly, so inferred constraints buy nothing here.
    .config("spark.sql.constraintPropagation.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // offset and commit logs, state deltas, snapshots and changelogs:
    // local dirs through Hadoop FileSystem (see the scaladoc above)
    .config("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.core.CheckpointFiles].getName)

  def local(cpus: String): SparkSession = {
    // NOTE: driver heap cannot be set here — the JVM is already running.
    // build.sbt's javaOptions (-Xmx from SPARK_DRIVER_MEM) sizes the
    // forked JVM; a builder-time spark.driver.memory would be a no-op.
    val s = withGraftConfigs(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
