package graft

import java.nio.file.{Files, Path}

/** Scratch space that lives as long as the JVM: one directory under
  * `java.io.tmpdir`, made on first use and deleted by a shutdown hook.
  * For files a returned DataFrame still reads lazily, and for session
  * state that must not land in the working directory. */
object JvmScratch {
  lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-")
    sys.addShutdownHook(
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  /** A fresh directory under `root`. */
  def dir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** The `spark.sql.warehouse.dir` of the mains' and the tests'
    * sessions, in place of Spark's default `spark-warehouse/` under the
    * working directory. One per JVM, so sessions opened one after
    * another share it; the layouts and bucketed tables they build go
    * with the JVM. Its path is kept short: plan strings cut a scan's
    * location at 100 characters, and the plan guards read the layout
    * name that follows the warehouse in it. */
  lazy val warehouse: String =
    Files.createDirectory(root.resolve("wh")).toString
}
