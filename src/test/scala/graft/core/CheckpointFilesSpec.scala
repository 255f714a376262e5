package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The engine's checkpoint-file manager: local directories go through
  * Hadoop `FileSystem`, every other path keeps Spark's `FileContext`
  * manager, and a local write keeps the temp-file-then-rename contract.
  */
class CheckpointFilesSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try out.write(text.getBytes(UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** Reads through the manager, so a `.crc` sidecar is verified. */
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def visible(dir: JPath): Set[String] = {
    val ls = Files.list(dir)
    try ls.map(_.getFileName.toString).toArray.map(_.toString).toSet
    finally ls.close()
  }

  test("a local dir goes through FileSystem; a non-local path is left to FileContext") {
    TempDir("ckptfiles") { dir =>
      val fm = new CheckpointFiles(new Path(dir.toString), conf)
      assert(fm.delegate.isInstanceOf[CheckpointFiles.Local])
      assert(fm.isLocal)
    }
    assert(CheckpointFiles.isLocal(new Path("file:/tmp/ckpt"), conf))
    assert(CheckpointFiles.isLocal(new Path("/tmp/ckpt"), conf))
    // decided from the scheme alone: nothing is resolved or opened
    assert(!CheckpointFiles.isLocal(new Path("hdfs://x/y"), conf))
    assert(!CheckpointFiles.isLocal(new Path("s3a://bucket/ckpt"), conf))
    val hdfsDefault = new Configuration(conf)
    hdfsDefault.set("fs.defaultFS", "hdfs://x")
    assert(!CheckpointFiles.isLocal(new Path("/tmp/ckpt"), hdfsDefault))
  }

  test("createAtomic onto an existing file throws without overwrite and replaces it with overwrite") {
    TempDir("ckptfiles") { dir =>
      val fm = new CheckpointFiles(new Path(dir.toString), conf)
      val target = new Path(dir.toString, "0")
      write(fm, target, "old", overwrite = false)
      assert(visible(dir) == Set("0", ".0.crc"))
      intercept[FileAlreadyExistsException](write(fm, target, "new", overwrite = false))
      assert(read(fm, target) == "old")
      // overwriting replaces the file and its checksum, as FileContext does
      write(fm, target, "newer", overwrite = true)
      assert(read(fm, target) == "newer")
    }
  }

  test("cancel leaves neither the temp file nor the target") {
    TempDir("ckptfiles") { dir =>
      val fm = new CheckpointFiles(new Path(dir.toString), conf)
      val out = fm.createAtomic(new Path(dir.toString, "1"), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(visible(dir).isEmpty, visible(dir))
    }
  }

  test("a GraftSession session checkpoints a local dir through CheckpointFiles") {
    val spark = graft.TestSpark.spark
    TempDir("ckptfiles") { dir =>
      val fm = CheckpointFileManager.create(new Path(dir.toString),
        spark.sessionState.newHadoopConf())
      assert(fm.isInstanceOf[CheckpointFiles], fm.getClass.getName)
      assert(fm.asInstanceOf[CheckpointFiles].delegate
        .isInstanceOf[CheckpointFiles.Local])
    }
  }
}
