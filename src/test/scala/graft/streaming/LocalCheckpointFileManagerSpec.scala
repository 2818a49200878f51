package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The contract Structured Streaming relies on from a checkpoint file
  * manager, checked on `LocalCheckpointFileManager` directly (no Spark
  * session): atomic visibility, cancel, overwrite and no-overwrite
  * commits, no temp files left behind, the same file modes as Spark's
  * default manager, and delegation of non-`file:` paths. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val conf = new Configuration()
  private val root = Files.createTempDirectory("graft-ckpt-fm")
  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)

  private def dir(): JPath = Files.createTempDirectory(root, "case")
  private def manager(d: JPath) =
    new LocalCheckpointFileManager(new Path(d.toUri), conf)
  private def write(fm: CheckpointFileManager, p: JPath, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(p.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(p: JPath) = new String(Files.readAllBytes(p), UTF_8)
  private def names(d: JPath) =
    Files.list(d).iterator.asScala.map(_.getFileName.toString).toSet
  private def mode(p: JPath) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a partial write is never visible at the final path") {
    val d = dir(); val f = d.resolve("1")
    val out = manager(d).createAtomic(new Path(f.toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.flush()
    assert(!Files.exists(f) && !manager(d).exists(new Path(f.toUri)))
    out.close()
    assert(read(f) == "partial")
  }

  test("cancel leaves no file behind") {
    val d = dir(); val f = d.resolve("1")
    val out = manager(d).createAtomic(new Path(f.toUri), false)
    out.write("doomed".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(d).isEmpty, s"left behind: ${names(d)}")
  }

  test("a successful commit leaves the file and its checksum, no temp file") {
    val d = dir()
    write(manager(d), d.resolve("7.delta"), "state", overwrite = true)
    assert(names(d) == Set("7.delta", ".7.delta.crc"))
    val in = manager(d).open(new Path(d.resolve("7.delta").toUri))
    try assert(new String(in.readAllBytes(), UTF_8) == "state")
    finally in.close()
  }

  test("an overwrite replaces the file's content") {
    val d = dir(); val f = d.resolve("0")
    write(manager(d), f, "first", overwrite = true)
    write(manager(d), f, "second, longer", overwrite = true)
    assert(read(f) == "second, longer")
    assert(names(d) == Set("0", ".0.crc"))
  }

  test("a no-overwrite write to an existing path throws and keeps the original") {
    val d = dir(); val f = d.resolve("0")
    write(manager(d), f, "committed", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(manager(d), f, "concurrent", overwrite = false)
    }
    assert(read(f) == "committed")
    assert(names(d) == Set("0", ".0.crc"))
  }

  test("file and directory modes equal those of Spark's default manager") {
    def layout(fm: CheckpointFileManager, d: JPath): Seq[String] = {
      val sub = d.resolve("offsets")
      fm.mkdirs(new Path(sub.toUri))
      write(fm, sub.resolve("0"), "v1", overwrite = false)
      Seq(mode(sub), mode(sub.resolve("0")), mode(sub.resolve(".0.crc")))
    }
    val dSpark = dir(); val dOurs = dir()
    val spark = layout(CheckpointFileManager.create(new Path(dSpark.toUri), conf), dSpark)
    val ours = layout(manager(dOurs), dOurs)
    assert(ours == spark)
    assert(ours == Seq("rwxr-xr-x", "rw-r--r--", "rw-r--r--"))
  }

  test("the path's scheme picks the implementation") {
    val d = dir()
    assert(manager(d).isLocal)
    // a scheme-less path (how Spark names a temp checkpoint) resolves
    // through the default file system, file:
    assert(!new LocalCheckpointFileManager(new Path(d.toString), conf)
      .impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    // any other scheme goes to Spark's manager unchanged: a viewfs://
    // mount over the temp dir, so the delegated write is observable
    val viewConf = new Configuration(conf)
    viewConf.set("fs.viewfs.mounttable.graft.link./ckpt", d.toUri.toString)
    val view = new LocalCheckpointFileManager(new Path("viewfs://graft/ckpt"), viewConf)
    assert(view.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!view.isLocal)
    val out = view.createAtomic(new Path("viewfs://graft/ckpt/0"), false)
    out.write("via viewfs".getBytes(UTF_8))
    out.close()
    assert(read(d.resolve("0")) == "via viewfs")
  }
}
