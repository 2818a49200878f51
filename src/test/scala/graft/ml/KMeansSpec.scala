package graft.ml

import graft.TestSpark
import graft.vec.VectorOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def points() = {
    import spark.implicits._
    spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
  }

  /** Naive driver-side Lloyd loop — the reference-loop oracle. */
  private def naiveKMeans(pts: Array[Array[Double]],
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    var cents = init.map(_.clone())
    for (_ <- 1 to iters) {
      val k = cents.length
      val d = cents(0).length
      val sums = Array.fill(k, d)(0.0)
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        for (c <- 0 until k) {
          var s = 0.0
          for (j <- 0 until d) { val t = p(j) - cents(c)(j); s += t * t }
          if (s < bestD) { bestD = s; best = c }
        }
        counts(best) += 1
        for (j <- 0 until d) sums(best)(j) += p(j)
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(d)(j => sums(c)(j) / counts(c)))
    }
    cents
  }

  test("fit matches a driver-side reference loop after 5 iterations") {
    import spark.implicits._
    val df = points()
    val init = KMeans.initFromLowestIds(df, "vec_id", 4)
    val model = KMeans.fit(df, init, maxIter = 5)
    val local = df.select($"v").as[Seq[Double]].collect().map(_.toArray)
    val want = naiveKMeans(local, init, 5)
    assert(model.iters == 5)
    model.centroids.zip(want).foreach { case (g, w) =>
      g.zip(w).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"centroid drift: $a vs $b")
      }
    }
  }

  test("empty clusters keep their previous centroid (reference refill semantics)") {
    import spark.implicits._
    // all points near origin; one centroid far away gets no assignment
    val pts = Seq.tabulate(20)(i => Seq(0.01 * i, 0.0)).toDF("v")
    val far = Array(1e6, 1e6)
    val next = KMeans.step(pts, Array(Array(0.0, 0.0), far))
    assert(next(1).toSeq == far.toSeq)
    assert(next(0)(0) > 0.0) // near centroid moved to the mean
  }

  test("tol-based early exit sets converged") {
    import spark.implicits._
    val df = points()
    val init = KMeans.initFromLowestIds(df, "vec_id", 2)
    val model = KMeans.fit(df, init, maxIter = 50, tol = 1e12)
    assert(model.converged && model.iters == 1)
    val model2 = KMeans.fit(df, init, maxIter = 3, tol = 0.0)
    assert(!model2.converged && model2.iters == 3)
  }

  test("stepBlock (A5 partition pre-agg) matches step up to FP order") {
    import spark.implicits._
    val df = points()
    val init = KMeans.initFromLowestIds(df, "vec_id", 4)
    val a = KMeans.step(df, init)
    val b = KMeans.stepBlock(df, init)
    a.zip(b).foreach { case (x, y) =>
      x.zip(y).foreach { case (u, w) =>
        assert(math.abs(u - w) < 1e-9, s"$u vs $w")
      }
    }
  }

  test("stepBlock keeps empty clusters at their previous centroid (A5)") {
    import spark.implicits._
    val pts = Seq.tabulate(20)(i => Seq(0.01 * i, 0.0)).toDF("v")
    val far = Array(1e6, 1e6)
    val next = KMeans.stepBlock(pts, Array(Array(0.0, 0.0), far))
    assert(next(1).toSeq == far.toSeq)
    assert(next(0)(0) > 0.0)
  }

  // ---- stepBlock's exactness contract ----

  /** Points as a `v: array<double>` frame over exactly `parts`
    * partitions, in order (more partitions than points leaves some
    * empty). */
  private def frame(pts: Seq[Array[Double]], parts: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(pts.map(p => Row(p.toSeq)), parts),
      StructType(Seq(StructField("v", ArrayType(DoubleType, false)))))

  /** Brute-force stepBlock: per partition, a first-minimum scan (strict
    * `<` over ascending centroid index from (0, MaxValue)) and running
    * sums from 0.0; the partials then fold in partition-index order,
    * each centroid starting from its first contributing partial. */
  private def refStep(df: DataFrame, cents: Array[Array[Double]])
      : Array[Array[Double]] = {
    val k = cents.length
    val d = cents.head.length
    val sums = new Array[Array[Double]](k)
    val counts = new Array[Long](k)
    df.select("v").rdd.glom().collect().foreach { part =>
      val s = Array.fill(k, d)(0.0)
      val n = new Array[Long](k)
      part.foreach { row =>
        val p = row.getSeq[Double](0).toArray
        var best = 0; var bestD = Double.MaxValue
        for (c <- 0 until k) {
          var dist = 0.0
          for (j <- 0 until d) { val t = p(j) - cents(c)(j); dist += t * t }
          if (dist < bestD) { bestD = dist; best = c }
        }
        for (j <- 0 until d) s(best)(j) += p(j)
        n(best) += 1
      }
      for (c <- 0 until k if n(c) > 0) {
        if (sums(c) == null) sums(c) = s(c)
        else for (j <- 0 until d) sums(c)(j) += s(c)(j)
        counts(c) += n(c)
      }
    }
    Array.tabulate(k)(c =>
      if (counts(c) == 0) cents(c).clone() else sums(c).map(_ / counts(c)))
  }

  private def sameBits(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.indices.forall(c => java.util.Arrays.equals(a(c), b(c)))

  private def show(a: Array[Array[Double]]): String =
    a.map(_.mkString("(", ", ", ")")).mkString(" ")

  private def assertMatchesReference(pts: Seq[Array[Double]], parts: Int,
      cents: Array[Array[Double]]): Unit = {
    val df = frame(pts, parts)
    val got = KMeans.stepBlock(df, cents)
    val want = refStep(df, cents)
    assert(sameBits(got, want), s"stepBlock ${show(got)} != reference ${show(want)}")
  }

  // a small grid (with -0.0) makes duplicate centroids, shared x
  // coordinates and exact distance ties common; the range draws break
  // the grid
  private val coord: Gen[Double] = Gen.frequency(
    4 -> Gen.oneOf(-2.0, -1.0, -0.5, -0.0, 0.0, 0.5, 1.0, 1.5, 2.0),
    1 -> Gen.choose(-3.0, 3.0))
  private val point2: Gen[Array[Double]] = Gen.zip(coord, coord).map {
    case (x, y) => Array(x, y)
  }

  test("stepBlock equals the brute-force first-minimum step bit for bit (2-D, random)") {
    // no shrinking: every shrink step would be another Spark job
    val prop = Prop.forAllNoShrink(
        Gen.choose(1, 9).flatMap(Gen.listOfN(_, point2)),
        Gen.choose(0, 40).flatMap(Gen.listOfN(_, point2)),
        Gen.choose(1, 5)) { (cents, pts, parts) =>
      val c = cents.toArray
      val df = frame(pts, parts)
      val got = KMeans.stepBlock(df, c)
      val want = refStep(df, c)
      Prop(sameBits(got, want)) :| s"got ${show(got)} want ${show(want)}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("stepBlock equals the brute-force step bit for bit on the edge cases") {
    val grid = for (x <- -2 to 2; y <- -2 to 2) yield Array(x * 0.5, y * 0.5)
    // duplicate centroids and shared x coordinates; grid points sit
    // equidistant between many of them
    val cents = Array(Array(0.0, 0.0), Array(0.5, 0.0), Array(0.0, 0.0),
      Array(-0.5, 0.0), Array(0.5, 0.5), Array(-0.0, -0.5))
    assertMatchesReference(grid, 3, cents)
    // ±0.0 in points and centroids
    assertMatchesReference(Seq(Array(-0.0, 0.0), Array(0.0, -0.0),
      Array(-0.0, -0.0)), 2, Array(Array(0.0, 0.0), Array(-0.0, -0.0)))
    // a NaN point: no distance is below MaxValue, so centroid 0 takes it
    assertMatchesReference(grid :+ Array(Double.NaN, 1.0), 2, cents)
    // non-finite centroids: every point takes the full scan
    assertMatchesReference(grid, 2, cents :+ Array(Double.PositiveInfinity, 0.0))
    assertMatchesReference(grid, 2, cents :+ Array(0.0, Double.NaN))
    // k = 1
    assertMatchesReference(grid, 2, Array(Array(0.25, -0.25)))
    // empty partitions: 8 slices for 3 points
    assertMatchesReference(grid.take(3), 8, cents)
    // generic d
    val rnd = new scala.util.Random(5)
    val pts3 = Seq.fill(50)(Array.fill(3)(rnd.nextInt(5) * 0.5))
    assertMatchesReference(pts3, 3, pts3.take(4).map(_.clone()).toArray)
  }

  test("stepBlock is deterministic on a multi-partition frame") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(20000)(Array(rnd.nextDouble(), rnd.nextDouble()))
    val df = frame(pts, 8).cache()
    val cents = pts.take(40).map(_.clone()).toArray
    val a = KMeans.stepBlock(df, cents)
    val b = KMeans.stepBlock(df, cents)
    assert(sameBits(a, b))
    assert(sameBits(a, refStep(df, cents)))
    df.unpersist()
  }

  test("one stepBlock is 1 job, 1 stage and 0 shuffle records") {
    // one task per partition of the 4-partition frame
    val rnd = new scala.util.Random(13)
    val pts = Seq.fill(2000)(Array(rnd.nextDouble(), rnd.nextDouble()))
    val df = frame(pts, 4)
    val cents = pts.take(16).map(_.clone()).toArray
    val (_, n) = TestSpark.counting(KMeans.stepBlock(df, cents))
    assert(n == TestSpark.Counts(jobs = 1, stages = 1, tasks = 4,
      shuffleRecords = 0L), n)
  }

  test("fitLocal == fitBlock on a single partition (same update contract)") {
    import spark.implicits._
    val n = 60
    val data = Array.tabulate(n)(i =>
      Array((i * 37 % 97) / 97.0, (i * 11 % 89) / 89.0))
    val pts = data.map(_.toSeq).toSeq.toDF("v").coalesce(1)
    val init = data.take(4)
    val a = KMeans.fitLocal(data, init, maxIter = 5)
    val b = KMeans.fitBlock(pts, init, maxIter = 5)
    // one partition -> identical summation order -> exact equality
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
    assert(a.iters == b.iters && a.converged == b.converged)
  }

  test("scalableInit (k-means||) beats lowest-id seeding on clustered data") {
    import spark.implicits._
    // gaussian fixture with real cluster structure: 4 well-separated
    // means, so a cost-aware init must beat "first 4 points" seeding
    val (_, pts, _) = graft.sources.PointSources.gaussianPoints(
      seed = 7L, numPoints = 4000, k = 4, d = 2)
    val df = spark.createDataset(pts.toIndexedSeq.zipWithIndex
      .map { case (p, i) => (i.toLong, p.toSeq) })
      .toDF("vec_id", "v")
    def cost(cents: Array[Array[Double]]): Double =
      df.select(KMeans.assign($"v", cents).getField("dist2").as("d2"))
        .agg(sum($"d2")).head().getDouble(0)
    val scalable = KMeans.scalableInit(df, "vec_id", k = 4, rounds = 3)
    val lowest = KMeans.initFromLowestIds(df, "vec_id", k = 4)
    assert(scalable.length == 4)
    val (cs, cl) = (cost(scalable), cost(lowest))
    info(f"k-means|| cost $cs%.1f vs lowest-id $cl%.1f")
    assert(cs < cl, s"scalable $cs not better than lowest-id $cl")
    // determinism: a second run is bit-identical
    val again = KMeans.scalableInit(df, "vec_id", k = 4, rounds = 3)
    assert(scalable.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("scalableInit is partition-invariant (the golden-pinning premise)") {
    import spark.implicits._
    // the DECIMAL-folded total + snapped per-row costs make the
    // sampling threshold independent of partial-sum order; assert it
    // by running the same init under very different partitionings
    val base = points()
    val a = KMeans.scalableInit(base.repartition(3), "vec_id", k = 4,
      rounds = 2)
    val b = KMeans.scalableInit(base.repartition(17), "vec_id", k = 4,
      rounds = 2)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("scalableInit degrades gracefully on degenerate all-identical data") {
    import spark.implicits._
    // every point identical: round-1 total cost is 0, so sampling adds
    // nothing — the candidate pool pads from the lowest ids instead of
    // crashing the weighted reduction (initFromLowestIds parity)
    val df = spark.createDataset((0L until 50L)
      .map(i => (i, Seq(1.0, 2.0, 3.0)))).toDF("vec_id", "v")
    val init = KMeans.scalableInit(df, "vec_id", k = 4, rounds = 2)
    assert(init.length == 4)
    init.foreach(c => assert(c.toSeq == Seq(1.0, 2.0, 3.0)))
  }

  test("assignment column is deterministic argmin with cid tiebreak") {
    import spark.implicits._
    val pts = Seq(Seq(0.0, 0.0)).toDF("v")
    // two centroids at identical distance -> lower cid wins
    val a = pts.select(
      KMeans.assign($"v", Array(Array(1.0, 0.0), Array(-1.0, 0.0))).as("a"))
      .select($"a.cid").as[Int].collect()
    assert(a.toSeq == Seq(0))
  }
}
