package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{Datasets, Sinks, Tables}

/** Source/sink format coverage beyond the parquet test tables: ORC
  * roundtrip and — the scale-critical one — Hive-style partition
  * PRUNING: a predicate on the partition column must become a
  * PartitionFilter (directory skip before any I/O), not a row filter.
  */
class FormatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("ORC roundtrips the events table bit-exactly") {
    val dir = graft.core.TempDir.forJvm("graft_orc").toString
    val src = Tables.events(spark, sfDir)
    Sinks.orc(src, dir)
    val back = Datasets.orc(spark, dir)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("ingestBlobs: on-disk media blobs decode identically to the in-memory frame") {
    // the real 100 TB ingest path for multimodal columns, as API:
    // Multimodal.ingestBlobs = binaryFile source (one file per blob) +
    // media_id from the file name + the SAME decode kernel
    import graft.operators.Multimodal
    val dir = graft.core.TempDir.forJvm("graft_media").toString
    val media = Multimodal.synthesizeMedia(spark, sfDir)
      .select(col("media_id"), col("payload")).collect()
    media.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"${r.getLong(0)}%08d.bin"),
        r.getAs[Array[Byte]](1))
    }
    val dec = Multimodal.ingestBlobs(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getSeq[Float](3))).toMap
    val expected = Multimodal.decodeFeatures(
        Multimodal.synthesizeMedia(spark, sfDir)).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getSeq[Float](3))).toMap
    assert(dec.size == media.length && dec == expected)
  }

  test("ingestBlobs over real encoded BMP files: ImageIO decode matches the in-memory path") {
    import graft.operators.Multimodal
    val dir = graft.core.TempDir.forJvm("graft_bmp").toString
    val media = Multimodal.synthesizeBmp(spark, sfDir)
      .select(col("media_id"), col("payload")).collect()
    media.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"${r.getLong(0)}%08d.bmp"),
        r.getAs[Array[Byte]](1))
    }
    val dec = Multimodal.ingestBlobs(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getSeq[Float](3))).toMap
    val expected = Multimodal.decodeFeatures(
        Multimodal.synthesizeBmp(spark, sfDir)).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getSeq[Float](3))).toMap
    assert(dec.size == media.length && dec == expected)
    // real decode, real dimensions: width/height come from the BMP
    // header via ImageIO, matching the synthesis formulas
    dec.foreach { case (id, (w, h, _)) =>
      assert(w == 8 + (id % 16).toInt && h == 8 + (id % 8).toInt)
    }
  }

  test("partitioned write + partition-pruned read: predicate becomes a PartitionFilter") {
    val dir = graft.core.TempDir.forJvm("graft_part").toString
    Sinks.parquet(Tables.events(spark, sfDir), dir, partitionBy = Seq("event_type"))
    val one = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
           plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
             .contains("event_type"),
      s"event_type predicate did not become a partition filter:\n$plan")
    // pruning is also semantically right
    val expected = Tables.events(spark, sfDir).filter(col("event_type") === "click").count()
    assert(one.count() == expected)
  }
}
