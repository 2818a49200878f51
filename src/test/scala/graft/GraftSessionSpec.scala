package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The single session factory: its conf map per role, the test
  * session's fixed shape, and that no other source builds a session. */
class GraftSessionSpec extends AnyFunSuite {
  import GraftSession.{Main, Sweep, Test}

  private val retention = Set("spark.sql.ui.retainedExecutions",
    "spark.ui.retainedJobs", "spark.ui.retainedStages",
    "spark.ui.retainedTasks", "spark.sql.streaming.numRecentProgressUpdates",
    "spark.sql.streaming.stateStore.maintenanceInterval")

  test("main and sweep roles share the session confs; only the sweep role pins retention") {
    val shared = Map(
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.warehouse.dir" -> JvmScratch.warehouse,
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "6")
    val main = GraftSession.confs(Main, 6)
    val sweep = GraftSession.confs(Sweep, 6)
    assert(main == shared)
    assert(sweep -- retention == shared)
    assert(retention.forall(sweep.contains))
    assert(sweep("spark.sql.ui.retainedExecutions") == "8")
    assert(sweep("spark.sql.streaming.stateStore.maintenanceInterval") == "10s")
    val test = GraftSession.confs(Test, 4)
    assert(test == shared.updated("spark.sql.shuffle.partitions", "4") +
      ("spark.app.name" -> "graft-test"))
  }

  test("the test session is local[4] with 4 shuffle partitions and no retention pins") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(retention.forall(k => spark.sparkContext.getConf.getOption(k).isEmpty))
  }

  test("using runs on an in-JVM caller's session and leaves it running") {
    val spark = TestSpark.spark
    val seen = GraftSession.using(s => s)
    assert(seen eq spark)
    assert(!spark.sparkContext.isStopped)
  }

  test("no source file but GraftSession.scala builds a session") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the project root: ${src.toAbsolutePath}")
    val needle = "SparkSession" + ".builder"
    val files = {
      val s = Files.walk(src)
      try s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path]).toSeq
      finally s.close()
    }
    val hits = files.filter(p => new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.ISO_8859_1).contains(needle))
      .map(_.getFileName.toString)
    assert(hits == Seq("GraftSession.scala"), hits)
  }

  /** The methods of each `.read` chain in `code`: a parquet read is one
    * whose chain calls `parquet(`, or `format(` with a "parquet"
    * argument. Spaces and line breaks between calls are skipped. */
  private def parquetReads(code: String): Seq[String] = {
    val call = """\s*\.\s*(\w+)\s*\(""".r
    """\.read\b(?!Stream)""".r.findAllMatchIn(code).toSeq.flatMap { m =>
      var at = m.end
      val chain = Seq.newBuilder[(String, String)]
      var more = true
      while (more) call.findPrefixMatchOf(code.substring(at)) match {
        case Some(c) =>
          // the call's balanced argument list
          var depth = 1
          var i = at + c.end
          while (depth > 0 && i < code.length) {
            if (code(i) == '(') depth += 1
            else if (code(i) == ')') depth -= 1
            i += 1
          }
          chain += c.group(1) -> code.substring(at + c.end, i)
          at = i
        case None => more = false
      }
      val methods = chain.result()
      if (methods.exists { case (name, args) => name == "parquet" ||
          name == "format" && args.contains("\"parquet\"") })
        Some(methods.map(_._1).mkString(".read.", ".", ""))
      else None
    }
  }

  test("the parquet-read scan flags every chain shape and nothing else") {
    assert(parquetReads("""s.read.parquet(p)""").size == 1)
    assert(parquetReads("s.read\n  .schema(st)\n  .parquet(p)").size == 1)
    assert(parquetReads("""s.read.option("a", f(1)).parquet(p)""").size == 1)
    assert(parquetReads("""s.read.format("parquet").load(p)""").size == 1)
    assert(parquetReads(
      "s.read\n  .schema(\"doc_id LONG\")\n  .option(\"h\", \"t\")\n  .csv(out)").isEmpty)
    assert(parquetReads("""s.readStream.schema(st).parquet(dir)""").isEmpty)
    assert(parquetReads("""s.read.textFile(p)""").isEmpty)
  }

  test("no main source file but Tables.scala reads parquet") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root: ${main.toAbsolutePath}")
    val files = {
      val s = Files.walk(main)
      try s.filter(p => p.toString.endsWith(".scala")).toArray
        .map(_.asInstanceOf[Path]).toSeq
      finally s.close()
    }
    def reads(p: Path) = parquetReads(new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)).map(r => s"$p: $r")
    val (tables, others) =
      files.partition(_.getFileName.toString == "Tables.scala")
    assert(tables.flatMap(reads).nonEmpty, "the scan finds no read in Tables.scala")
    val hits = others.flatMap(reads)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
