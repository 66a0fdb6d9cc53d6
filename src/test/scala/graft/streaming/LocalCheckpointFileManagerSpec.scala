package graft.streaming

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** A `FileContext` file system for a made-up scheme, so the spec can show
  * which manager a non-`file` checkpoint path gets without a remote store.
  */
class GraftTestFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "grafttest", false)

class LocalCheckpointFileManagerSpec extends AnyFunSuite with SparkTestBase {

  private def conf(): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.unset(LocalCheckpointFileManager.ClassKey)
    c
  }

  private def withTempDir[A](body: java.io.File => A): A = {
    val dir = Files.createTempDirectory("graft-ckfm").toFile
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def files(dir: java.io.File): Set[String] =
    Option(dir.list()).map(_.toSet).getOrElse(Set.empty)

  test("createAtomic shows the file only on close; cancel leaves nothing behind") {
    withTempDir { dir =>
      val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf())
      val p = new Path(dir.toURI.toString + "offsets-0")
      val out = fm.createAtomic(p, false)
      out.write("v1".getBytes(UTF_8))
      assert(!fm.exists(p))
      out.close()
      assert(fm.exists(p) && read(fm, p) == "v1")

      val q = new Path(dir.toURI.toString + "offsets-1")
      val cancelled = fm.createAtomic(q, false)
      cancelled.write("partial".getBytes(UTF_8))
      cancelled.cancel()
      assert(!fm.exists(q))
      assert(files(dir) == Set("offsets-0", ".offsets-0.crc"), files(dir))
    }
  }

  test("overwriteIfPossible = false refuses an existing file; true replaces it") {
    withTempDir { dir =>
      val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf())
      val p = new Path(dir.toURI.toString + "commit-0")
      write(fm, p, "first")
      intercept[FileAlreadyExistsException](write(fm, p, "second"))
      assert(read(fm, p) == "first")
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) == "third")
    }
  }

  test("the .crc file is written and a flipped data byte fails the read") {
    withTempDir { dir =>
      val fm = new LocalCheckpointFileManager(new Path(dir.toURI), conf())
      val p = new Path(dir.toURI.toString + "1.delta")
      write(fm, p, "x" * 2000)
      assert(new java.io.File(dir, ".1.delta.crc").length() > 0)
      val raf = new RandomAccessFile(new java.io.File(dir, "1.delta"), "rw")
      try { raf.seek(1000); raf.write('y') } finally raf.close()
      intercept[ChecksumException](read(fm, p))
      // the damaged file stays where it was, as under Spark's default manager
      assert(new java.io.File(dir, "1.delta").exists())
    }
  }

  test("file and directory modes equal those of Spark's default manager") {
    withTempDir { dir =>
      val base = new Path(dir.toURI)
      val ours = new LocalCheckpointFileManager(base, conf())
      val spark0 = CheckpointFileManager.create(base, conf())
      assert(spark0.isInstanceOf[FileContextBasedCheckpointFileManager])
      def mode(name: String) = Files.getPosixFilePermissions(Paths.get(dir.getPath, name))
      ours.mkdirs(new Path(base, "ours/state/0"))
      spark0.mkdirs(new Path(base, "spark/state/0"))
      write(ours, new Path(base, "ours/state/0/1.delta"), "a")
      write(spark0, new Path(base, "spark/state/0/1.delta"), "a")
      for (rel <- Seq("", "/state", "/state/0", "/state/0/1.delta", "/state/0/.1.delta.crc"))
        assert(mode("ours" + rel) == mode("spark" + rel), rel)
    }
  }

  test("a stateful entry's checkpoints start no chmod or readlink process") {
    def forks(body: => Unit): Seq[String] = {
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      val f = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.start()
        body
        rec.stop()
        rec.dump(f)
        RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      } finally { rec.close(); Files.deleteIfExists(f) }
    }
    def chmodOrReadlink(cmds: Seq[String]) =
      cmds.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    // the recording sees the processes Spark's default manager starts ...
    val control = withTempDir { dir =>
      forks(write(CheckpointFileManager.create(new Path(dir.toURI), conf()),
        new Path(dir.toURI.toString + "0"), "x"))
    }
    assume(!org.apache.hadoop.io.nativeio.NativeIO.isAvailable, "libhadoop sets modes natively")
    assert(chmodOrReadlink(control).nonEmpty, control)
    // ... and the pinned entry starts none of them
    val entry = forks(StreamingEntry.streamCoresetKeys(spark, sf0001).collect())
    assert(chmodOrReadlink(entry).isEmpty, entry.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("Spark's own factory returns the pinned manager; other schemes get Spark's default") {
    val pinned = conf()
    pinned.set(LocalCheckpointFileManager.ClassKey, classOf[LocalCheckpointFileManager].getName)
    assert(CheckpointFileManager.create(new Path("file:/tmp/ck"), pinned)
      .isInstanceOf[LocalCheckpointFileManager])
    // FileContext-based where the scheme has a FileContext file system ...
    pinned.set("fs.AbstractFileSystem.grafttest.impl", classOf[GraftTestFs].getName)
    val fc = new LocalCheckpointFileManager(new Path("grafttest:/ck"), pinned)
    assert(fc.underlying.getClass == classOf[FileContextBasedCheckpointFileManager])
    // ... falling back to FileSystem-based where it has only a FileSystem
    pinned.set("fs.graftfsonly.impl", classOf[RawLocalFileSystem].getName)
    pinned.setBoolean("fs.graftfsonly.impl.disable.cache", true)
    val fsOnly = new LocalCheckpointFileManager(new Path("graftfsonly:/ck"), pinned)
    assert(fsOnly.underlying.getClass == classOf[FileSystemBasedCheckpointFileManager])
  }
}
