package graft.cli

import java.nio.file.Files

import graft.TestSpark
import graft.sources.PointSources
import org.scalatest.funsuite.AnyFunSuite

/** The reference-compatible CLI entry points, invoked in-JVM with the
  * same flag conventions as the reference jobs.
  */
class CliMainsSpec extends AnyFunSuite {
  // the mains open their session through GraftSession.using; ensure the
  // shared test session exists first so they reuse it instead of
  // building (and then stopping) their own context
  private lazy val spark = TestSpark.spark

  test("KMeansMain runs the reference CLI flow end to end") {
    spark // force init
    val dir = Files.createTempDirectory("graft-cli-km").toString
    PointSources.writeKMeansFixture(dir, seed = 3L, numPoints = 200, k = 3,
      d = 2, stddev = 0.02)
    graft.ml.KMeansMain.main(Array(
      "--points", s"$dir/points",
      "--centroids", s"$dir/centers",
      "--iterations", "5",
      "--output", s"$dir/out"))
    val out = PointSources.centroids(spark, s"$dir/out", d = 2).collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Int]("cid")).sorted.toSeq == Seq(1, 2, 3))
  }

  test("DamdsMain runs from a reference config file and writes outputs") {
    spark
    val dir = Files.createTempDirectory("graft-cli-damds").toString
    val n = 24
    val rnd = new scala.util.Random(29)
    val pts = Array.fill(n * 2)(rnd.nextDouble())
    val dist = new Array[Double](n * n)
    var mx = 0.0
    for (i <- 0 until n; j <- 0 until n) {
      val dx = pts(i * 2) - pts(j * 2); val dy = pts(i * 2 + 1) - pts(j * 2 + 1)
      val d = math.sqrt(dx * dx + dy * dy)
      dist(i * n + j) = d; mx = math.max(mx, d)
    }
    graft.mm.MatrixIO.writeShortMatrix(s"$dir/d.bin",
      dist.map(v => graft.mm.FixedPoint.encode(v / mx)))
    Files.write(java.nio.file.Paths.get(s"$dir/config.properties"),
      (s"DistanceMatrixFile = $dir/d.bin\nNumberDataPoints = $n\n" +
        "TargetDimension = 2\nIsBigEndian = true\n" +
        "MaxTempLoops = 1\nMaxStressLoops = 1\nCGIterations = 5\n").getBytes)
    graft.damds.DamdsMain.main(Array(
      "--config", s"$dir/config.properties", "--output", s"$dir/out"))
    val outPts = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out/points.txt"))).split("\n")
    assert(outPts.length == n)
    assert(outPts.head.split(" ").length == 3) // "i x y"
    val summary = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out/summary.txt")))
    assert(summary.contains("finalStress"))
  }

  test("CollectivesMain times Reduce and AllReduce rounds") {
    spark
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.collectives.CollectivesMain.main(Array(
        "--size", "100", "--itr", "2", "--col", "0"))
      graft.collectives.CollectivesMain.main(Array(
        "--size", "100", "--itr", "2", "--col", "1"))
    }
    val text = out.toString
    // reference harness format: per-iteration create→reduced latency
    // (CollectiveData stamps) plus driver wall time per round
    val lat = text.linesIterator
      .filter(_.startsWith("collective_latency_ms ")).toSeq
    val wall = text.linesIterator
      .filter(_.startsWith("latencies_ms ")).toSeq
    assert(lat.length == 2 && wall.length == 2, text)
    // millis resolution: a warm local round can legitimately stamp 0 ms
    assert(lat.forall(_.split(" ").drop(1).forall(_.toDouble >= 0.0)), text)
    assert(lat.forall(_.split(" ").length == 3), text) // itr=2 values
  }

  test("MatrixMultiplyMain generates, multiplies, and self-checks (-t)") {
    spark
    val dir = Files.createTempDirectory("graft-cli-mm").toString
    graft.mm.MatrixMultiplyMain.main(Array(
      "-n", "50", "-m", "20", "-p", "6",
      "-i", s"$dir/a.bin", "-o", s"$dir/c.bin", "-t"))
    val c = graft.mm.MatrixIO.readDoubleSlice(s"$dir/c.bin", 6, 0, 50,
      bigEndian = true)
    assert(c.length == 300 && c.forall(v => !v.isNaN))
  }
}
