package graft

import java.lang.Double.doubleToLongBits

import org.scalatest.funsuite.AnyFunSuite

/** The probe kit's inputs and checksums, pinned to the literals the
  * construction it replaced produced (Bench's `dd` and `km` blocks), so
  * probe readings compare across code versions. */
class ProbeKitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("DA-MDS probe at n = 256: distance shorts, stress and CG count bit for bit") {
    val size = ProbeKit.damdsSizes("n256")
    assert(size == ProbeKit.DamdsSize(256, 16, 11L, 17L))
    assert(java.util.Arrays.hashCode(
      ProbeKit.damdsShorts(size.n, size.seedPts)) == 1566163743)
    assert(ProbeKit.damdsConfig == graft.damds.Damds.Config(targetDim = 3,
      cgIter = 10, maxStressLoops = 1, maxTempLoops = 2,
      maxGatherDoubles = 1L))
    val probe = ProbeKit.damds(spark, size)
    val r = try probe.run() finally probe.close()
    assert(doubleToLongBits(r.state.stress) == 4540407136463017418L)
    assert(r.state.cgCount == 6)
  }

  test("K-Means probe at 20k points, k = 100, 3 iterations: centroid sum bit for bit") {
    val probe = ProbeKit.kmeans(spark, points = 20000L, k = 100, iters = 3)
    val c = try probe.run() finally probe.close()
    assert(c.length == 100 && c.forall(_.length == ProbeKit.kmeansDim))
    assert(doubleToLongBits(ProbeKit.centroidSum(c)) == 4636857341700228901L)
  }

  test("minOf keeps every run and reads the fastest") {
    var i = 0
    val runs = ProbeKit.minOf(3) { i += 1; Thread.sleep(if (i == 2) 1 else 30); i }
    assert(runs.all.map(_._2) == Seq(1, 2, 3))
    assert(runs.min == runs.secs.min && runs.best == 2)
  }

  test("the stream-progress reader returns wall, state rows and marginal of one run") {
    val progress = new ProbeKit.StreamProgress(spark)
    val r = progress.run("s01") {
      ProbeKit.materialize(
        SparkEntry.queries("s01_stream_hourly")(spark, TestSpark.sf0001))
    }
    assert(r.wall > 0 && r.marginal >= 0 && r.stateRows > 0, r)
    // a throwing body propagates and leaves the listener disarmed
    intercept[IllegalStateException](progress.run("boom")(throw new IllegalStateException))
  }
}
