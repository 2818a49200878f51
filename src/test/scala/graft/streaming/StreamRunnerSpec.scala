package graft.streaming

import graft.{JvmScratch, SparkEntry, TestSpark}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What a stream start through `StreamRunner` leaves behind: the
  * classes it compiled, and the files it wrote. */
class StreamRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(query: String, dir: String): Unit =
    SparkEntry.queries(query)(spark, dir)
      .write.mode("overwrite").format("noop").save()

  // Janino compiles in this JVM, counted JVM-wide. The counts belong to
  // this suite alone because the forked test JVM runs one suite at a
  // time (sbt's Test / testForkedParallel is off).
  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a stream run again compiles no generated class again") {
    // the streams perfbench times: session windows, a stream-static
    // ledger join with dedup state, a stateless bloom screen
    val perRun = for (q <- Seq("s02_stream_sessions",
        "s20_stream_dedup_ledger", "s23_stream_bloom_screen")) yield {
      q -> (1 to 3).map { _ =>
        val before = compiles()
        run(q, TestSpark.sf001)
        compiles() - before
      }
    }
    // run 1 may compile (the first start of a plan in this JVM); an
    // isolated stream session recompiled every task-side class again
    // on each later start (20, 13 and 4 classes per run)
    val recompiled = perRun.filter(_._2.tail.exists(_ != 0L))
    assert(recompiled.isEmpty,
      s"compiles per run (runs 2 and 3 must be 0): ${perRun.mkString(", ")}")
  }

  private def entries(dir: Path, prefix: String): Set[Path] = {
    val ls = Files.list(dir)
    try ls.iterator.asScala.filter(_.getFileName.toString.startsWith(prefix)).toSet
    finally ls.close()
  }

  test("s43 deletes its checkpoint and keeps its output in the JVM scratch") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val leftBefore = entries(tmp, "graft_s43_flows_")
    val frames = (1 to 2).map(_ =>
      SparkEntry.queries("s43_stream_copy_flows")(spark, TestSpark.sf0001))
    assert(entries(tmp, "graft_s43_flows_") == leftBefore,
      "s43 made a directory of its own under java.io.tmpdir")
    val dirs = entries(JvmScratch.root, "s43_flows_")
    assert(dirs.size >= 2)
    assert(dirs.forall(d => !Files.exists(d.resolve("ckpt"))),
      s"checkpoints left behind: ${dirs.filter(d => Files.exists(d.resolve("ckpt")))}")
    // the returned frames read their output after the call returned
    val rows = frames.map(_.collect().map(_.toString).sorted.toSeq)
    assert(rows.head.nonEmpty && rows.head == rows(1))
  }
}
