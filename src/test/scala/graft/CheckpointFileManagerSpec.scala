package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{ForkFreeCheckpointFileManager, StreamingOps}

class CheckpointFileManagerSpec extends AnyFunSuite {

  private def manager(dir: String) = new ForkFreeCheckpointFileManager(new Path(dir), new Configuration())

  private def write(fm: ForkFreeCheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: ForkFreeCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def tempFiles(dir: String): Seq[String] =
    Option(new File(dir).list()).toSeq.flatten.filter(_.endsWith(".tmp"))

  test("createAtomic publishes on close and leaves no temp file; cancel publishes nothing") {
    TempDirs.withTempDir("graft_cfm") { dir =>
      val fm = manager(dir)
      assert(fm.isLocal)
      val p = new Path(dir, "0")
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("offsets".getBytes(UTF_8))
      assert(!fm.exists(p), "visible before close")
      out.close()
      assert(read(fm, p) == "offsets")
      assert(tempFiles(dir).isEmpty, s"temp files left: ${tempFiles(dir)}")

      val q = new Path(dir, "1")
      val cancelled = fm.createAtomic(q, overwriteIfPossible = false)
      cancelled.write("never".getBytes(UTF_8))
      cancelled.cancel()
      assert(!fm.exists(q))
      assert(tempFiles(dir).isEmpty, s"temp files left: ${tempFiles(dir)}")

      // like FileSystem.create, a temp file's missing parents are made
      val deep = new Path(dir, "fresh/sub/0")
      write(fm, deep, "deep", overwrite = false)
      assert(read(fm, deep) == "deep")
    }
  }

  test("createAtomic over an existing path throws unless overwriteIfPossible") {
    TempDirs.withTempDir("graft_cfm") { dir =>
      val fm = manager(dir)
      val p = new Path(dir, "commit")
      write(fm, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
      assert(read(fm, p) == "first")
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) == "third")
    }
  }

  test("nested mkdirs, list, exists and delete") {
    TempDirs.withTempDir("graft_cfm") { dir =>
      val fm = manager(dir)
      val nested = new Path(dir, "state/0/1")
      fm.mkdirs(nested)
      fm.mkdirs(nested) // idempotent
      assert(fm.exists(nested) && new File(dir, "state/0/1").isDirectory)
      val delta = new Path(nested, "1.delta")
      write(fm, delta, "d", overwrite = false)
      assert(fm.list(nested).map(_.getPath.getName).toSet == Set("1.delta"))
      fm.delete(delta)
      assert(!fm.exists(delta) && fm.list(nested).isEmpty)
      fm.delete(delta) // a missing path is a no-op
    }
  }

  test("an AvailableNow drain starts no process on its checkpoint files") {
    val spark = SharedSpark.spark
    import spark.implicits._
    TempDirs.withTempDir("graft_drain_jfr") { dir =>
      (0 until 200).map(i => (i % 7L, i.toDouble)).toDF("user_id", "value")
        .write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      val expected = spark.read.parquet(dir).groupBy("user_id").agg(sum("value").as("s"))
        .as[(Long, Double)].collect().toSet
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      val dump = java.nio.file.Files.createTempFile("graft_drain", ".jfr")
      val (rows, commands) = try {
        rec.start()
        // one process of the test's own, so an empty recording can't pass
        new ProcessBuilder("echo", "graft-jfr-probe").start().waitFor()
        val rows = StreamingOps.runAvailableNow(
          spark.readStream.schema(schema).parquet(dir)
            .groupBy("user_id").agg(sum("value").as("s")),
          "drain_jfr").as[(Long, Double)].collect().toSet
        rec.stop()
        rec.dump(dump)
        val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(e => String.valueOf(e.getString("command"))).toSeq
        (rows, commands)
      } finally {
        rec.close()
        java.nio.file.Files.deleteIfExists(dump)
      }
      assert(rows == expected)
      assert(commands.exists(_.contains("graft-jfr-probe")),
        s"the recording missed the probe process: ${commands.take(5)}")
      // the drain's graft-ckpt dir, or Spark's temporary-* fallback; other
      // suites' processes name neither
      val tmp = System.getProperty("java.io.tmpdir")
      val roots = Seq("graft-ckpt", "temporary-").map(n => new File(tmp, n).getPath)
      val onCheckpoint = commands.filter(c => roots.exists(c.contains))
      assert(onCheckpoint.isEmpty,
        s"${onCheckpoint.size} process starts on checkpoint files, e.g. ${onCheckpoint.take(3)}")
    }
  }
}
