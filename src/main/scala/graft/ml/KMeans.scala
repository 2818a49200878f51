package graft.ml

import graft.vec.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Lloyd's K-Means re-expressed Spark-first — the reference's headline
  * workload (kmeans/KMeansOriginal.java:62-143, kmeans/KMeansBlock.java:
  * 16-116 and every row of BASELINE.md).
  *
  * Translation of the Flink plan:
  *  - broadcast centroids per iteration (J3/C3) → a *literal* centroid
  *    array folded into one projection: the assignment is a single
  *    codegen'd map stage with zero shuffle and no join at all;
  *  - SelectNearestCenter flatMap + combineGroup/reduceGroup (A3/A5/N6)
  *    → `groupBy(cid, dim).agg(sum, count)`: Catalyst's hash aggregate
  *    does the map-side partial (combine) and final merge automatically;
  *  - bulk iteration (I1/I2) → driver loop (Iterate.loop) holding the
  *    k×d centroid matrix; only k·d doubles cross the driver boundary
  *    per step, so the loop cost is one job per iteration — same as the
  *    reference's per-iteration superstep barrier;
  *  - dead-centroid refill (KMeansOriginal.java:119-142) → clusters with
  *    no assigned points keep their previous centroid.
  *
  * At 1000-executor scale the per-step shuffle is k·d·partitions rows of
  * partial sums — independent of the point count — which is the same
  * asymptotic shape as the reference's combineGroup plan.
  */
object KMeans {

  final case class Model(
      centroids: Array[Array[Double]],
      iters: Int,
      converged: Boolean,
      lastShift: Double)

  /** Nearest-centroid assignment (N5+N6) as a single projection over a
    * literal centroid set, via the native one-pass expression
    * (graft.functions.NearestCentroidExpr): the HOF
    * `array_min(array(struct(sqdist, cid)...))` form built k fold
    * expressions per row, which blows up the expression tree at the
    * reference's k=1000+. Value-identical (same fold order, same
    * lowest-cid tiebreak — proven in HashExprsSpec). Returns
    * struct(dist2, cid).
    */
  def assign(v: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.GraftFunctions.nearestCentroid(v, centroids)

  /** The assigned cell id behind the §4.4 opacity barrier
    * (graft.functions.OpaqueExpr), for a cell column that a filter or
    * join consumes: un-wrapped, the pushed `cell IN (...)` and the
    * join's inferred `isnotnull(cell)` each re-run the centroid scan
    * inside the Filter, and the surviving projection runs it a third
    * time. Values are identical; filters on OTHER columns must be
    * applied before this column is added (the barrier keeps every
    * predicate above its projection).
    */
  def cellOnce(v: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.GraftFunctions.opaque(assign(v, centroids).getField("cid"))

  /** One Lloyd step: assign every point, recompute per-dimension means.
    * `points` must expose `v: array<double>`. Empty clusters keep their
    * old centroid.
    */
  def step(points: DataFrame, centroids: Array[Array[Double]]): Array[Array[Double]] = {
    val rows = points
      .select(assign(col("v"), centroids).getField("cid").as("cid"), col("v"))
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .collect()
    val next = centroids.map(_.clone())
    rows.foreach { r =>
      next(r.getAs[Int]("cid"))(r.getAs[Int]("dim")) =
        r.getAs[Double]("sx") / r.getAs[Long]("n")
    }
    next
  }

  /** A5 variant of `step`: explicit per-partition pre-aggregation, the
    * reference's KMeansBlock plan (kmeans/KMeansBlock.java:139-203
    * SelectNearestCenter flatMap accumulating a local per-centroid map,
    * then combineGroup/reduceGroup :46-99). Each partition scans its
    * points once against the broadcast centroids and keeps k local
    * (sum[d], count) accumulators; the whole step is ONE single-stage
    * job with no shuffle.
    *
    * Merge order: `Collectives.orderedAggregate` fetches one partial per
    * non-empty partition (k·d sums, then k counts) and folds them on the
    * driver in partition-index order; each centroid's sum starts from
    * its first contributing partial. The result is therefore a pure
    * function of the points' partition layout — it repeats bit for bit
    * across runs — and differs from `step` only in FP summation order.
    * Empty clusters keep their old centroid. Driver footprint: P × k ×
    * (d+1) doubles for P non-empty partitions (k=1000, d=2, P=16: 384 kB).
    *
    * Assignment is the first-minimum argmin: the lowest centroid index
    * among those at the smallest `Σ (v_j − c_j)²` (ascending j), and
    * centroid 0 when no distance is below `Double.MaxValue` (a NaN
    * point). At d == 2 it is found by an exact strip search (`Strip`) that
    * returns the same index as the full scan.
    */
  def stepBlock(points: DataFrame, centroids: Array[Array[Double]]): Array[Array[Double]] = {
    val spark = points.sparkSession
    val k = centroids.length
    val d = centroids.head.length
    val flat = new Array[Double](k * d)
    var ci = 0
    while (ci < k) {
      System.arraycopy(centroids(ci), 0, flat, ci * d, d)
      ci += 1
    }
    // d == 2: centroid ids sorted by (x, id) for the strip search; left
    // null (every point takes the full scan) when any coordinate is
    // non-finite, where the search's pruning bound does not hold
    val byX: Array[Int] =
      if (d == 2 && flat.forall(java.lang.Double.isFinite))
        Array.range(0, k).sortBy(c => (flat(2 * c), c))(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      else null
    val tBc = spark.sparkContext.broadcast((flat, byX))
    // points arrive as InternalRows: `getArray(0).getDouble(j)` reads the
    // unsafe array in place, where `.rdd` would box every element into
    // a Seq
    val rows = points.select(col("v")).queryExecution.toRdd
    val merged = graft.collectives.Collectives.orderedAggregate(rows) { it =>
      val (flat, byX) = tBc.value
      // k·d sums, then k counts
      val acc = new Array[Double](k * (d + 1))
      val v = new Array[Double](d)
      val strip = if (byX == null) null else new Strip(flat, byX)
      it.foreach { row =>
        val a = row.getArray(0)
        if (a.numElements() < d)
          throw new IllegalArgumentException(
            s"stepBlock: point of ${a.numElements()} dims, centroids have $d")
        var j = 0
        while (j < d) { v(j) = a.getDouble(j); j += 1 }
        val best =
          if (strip != null && java.lang.Double.isFinite(v(0)) &&
              java.lang.Double.isFinite(v(1))) strip.nearest(v(0), v(1))
          else scanNearest(flat, k, d, v)
        val off = best * d
        j = 0
        while (j < d) { acc(off + j) += v(j); j += 1 }
        acc(k * d + best) += 1
      }
      acc
    } { (a, b) =>
      var c = 0
      while (c < k) {
        val nb = b(k * d + c)
        if (nb > 0) {
          val na = a(k * d + c)
          var j = c * d
          if (na == 0) System.arraycopy(b, j, a, j, d)
          else while (j < (c + 1) * d) { a(j) += b(j); j += 1 }
          a(k * d + c) = na + nb
        }
        c += 1
      }
      a
    }
    tBc.destroy()
    val next = centroids.map(_.clone())
    merged.foreach { acc =>
      var c = 0
      while (c < k) {
        val n = acc(k * d + c)
        if (n > 0) next(c) = Array.tabulate(d)(j => acc(c * d + j) / n)
        c += 1
      }
    }
    next
  }

  /** First-minimum scan of a flattened k×d centroid table: strict `<`
    * over ascending centroid index, starting from (centroid 0,
    * `Double.MaxValue`). */
  private def scanNearest(flat: Array[Double], k: Int, d: Int,
      v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      var dist = 0.0
      val off = c * d
      var j = 0
      while (j < d) { val t = v(j) - flat(off + j); dist += t * t; j += 1 }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Exact 2-D nearest-centroid search over finite centroids sorted by
    * (x, id). A binary search places the point's x, then each side walks
    * outward and stops at the first centroid with `fl(t0²) > bestD`:
    * along a side |t0| only grows (rounded subtraction and squaring are
    * monotone), and `fl(a + b) ≥ a` for b ≥ 0, so no centroid past that
    * point can reach bestD. The distance is the scan's own
    * `t0*t0 + t1*t1` (the scan's leading `0.0 +` changes no value, as a
    * square is never −0.0), and a tie keeps the lower centroid id, so
    * the result equals `scanNearest`'s for every finite point. Per point it
    * visits the centroids in a vertical strip about √bestD wide instead
    * of all k.
    */
  private final class Strip(flat: Array[Double], byX: Array[Int]) {
    private val k = byX.length
    private val xs = byX.map(c => flat(2 * c))
    private val ys = byX.map(c => flat(2 * c + 1))
    private var best = 0
    private var bestD = Double.MaxValue

    def nearest(v0: Double, v1: Double): Int = {
      // (centroid 0, MaxValue) is the full scan's starting state
      best = 0; bestD = Double.MaxValue
      var lo = 0; var hi = k
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (xs(m) < v0) lo = m + 1 else hi = m
      }
      walk(v0, v1, lo, 1)
      walk(v0, v1, lo - 1, -1)
      best
    }

    private def walk(v0: Double, v1: Double, from: Int, step: Int): Unit = {
      var i = from
      while (i >= 0 && i < k) {
        val t0 = v0 - xs(i)
        val t00 = t0 * t0
        if (t00 > bestD) return
        val t1 = v1 - ys(i)
        val dist = t00 + t1 * t1
        val c = byX(i)
        if (dist < bestD || (dist == bestD && c < best)) { bestD = dist; best = c }
        i += step
      }
    }
  }

  private def maxShift(a: Array[Array[Double]], b: Array[Array[Double]]): Double =
    a.zip(b).map { case (x, y) =>
      x.zip(y).map { case (u, w) => (u - w) * (u - w) }.sum
    }.max

  /** Full fit loop (I1/I2). `tol` is squared-L2 centroid shift for
    * early exit; `tol = 0` stops early only on an exact fixed point
    * (shift == 0), otherwise runs `maxIter` iterations.
    *
    * `postStep` transforms the centroids after every Lloyd step. The
    * intended use is fixed-point Lloyd: snapping each coordinate to a
    * decimal grid (`snap6`) makes the whole trajectory reproducible
    * bit-for-bit by an independent engine replaying the same steps,
    * because iteration boundaries stop carrying engine-specific FP
    * summation order. Identity by default (production fit).
    */
  def fit(
      points: DataFrame,
      init: Array[Array[Double]],
      maxIter: Int,
      tol: Double = 0.0,
      postStep: Array[Array[Double]] => Array[Array[Double]] = identity): Model = {
    val cached = points.select(col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var lastShift = Double.NaN
      val r = Iterate.loop(init.map(_.clone()), maxIter) { cur =>
        postStep(step(cached, cur))
      } { (prev, next) =>
        lastShift = maxShift(prev, next)
        lastShift <= tol
      }
      Model(r.state, r.iters, r.converged, lastShift)
    } finally {
      cached.unpersist()
    }
  }

  /** Floor-form half-up rounding to 6 decimals — the same IEEE op
    * sequence (`floor(x * 1e6 + 0.5) / 1e6`) in Spark, plain JVM code
    * and DuckDB, unlike each engine's `round()` which disagree on
    * doubles. Used as the `fit` postStep for cross-engine-checkable
    * fixed-point Lloyd runs.
    */
  def snap6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** `fit` over the A5 block pre-agg step (`stepBlock`) — same loop and
    * convergence contract, one single-pass job per iteration instead of
    * the posexplode plan (which multiplies rows ×d per step). Use for
    * high-d quantizer training (e.g. the IVF coarse quantizer) where
    * the explode cost dominates. Results differ from `fit` only in FP
    * summation order.
    */
  def fitBlock(
      points: DataFrame,
      init: Array[Array[Double]],
      maxIter: Int,
      tol: Double = 0.0): Model = {
    val cached = points.select(col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var lastShift = Double.NaN
      val r = Iterate.loop(init.map(_.clone()), maxIter) { cur =>
        stepBlock(cached, cur)
      } { (prev, next) =>
        lastShift = maxShift(prev, next)
        lastShift <= tol
      }
      Model(r.state, r.iters, r.converged, lastShift)
    } finally {
      cached.unpersist()
    }
  }

  /** Lloyd's on a driver-local sample — the quantizer-training path for
    * IVF-style indexes: at 100 TB the coarse quantizer is trained on a
    * bounded reservoir/sample (FAISS practice), never via distributed
    * jobs over the corpus, so training cost is independent of corpus
    * size. Same update rule, strict-< lowest-index tiebreak, and
    * empty-cluster-keeps-old-centroid contract as `step`/`stepBlock`.
    */
  def fitLocal(
      pts: Array[Array[Double]],
      init: Array[Array[Double]],
      maxIter: Int,
      tol: Double = 0.0): Model = {
    val k = init.length
    val d = init.head.length
    var cur = init.map(_.clone())
    var iters = 0
    var converged = false
    var lastShift = Double.NaN
    while (iters < maxIter && !converged) {
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Long](k)
      pts.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = v(j) - cur(c)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      val next = cur.map(_.clone())
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < d) { next(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      iters += 1
      lastShift = maxShift(cur, next)
      converged = lastShift <= tol
      cur = next
    }
    Model(cur, iters, converged, lastShift)
  }

  /** Deterministic seeding: the k rows with the lowest `idCol` values. */
  def initFromLowestIds(points: DataFrame, idCol: String, k: Int): Array[Array[Double]] =
    points.select(col(idCol), col("v"))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("v").toArray)

  /** k-means|| initialization (Bahmani et al., "Scalable K-Means++",
    * VLDB 2012) — the distributed seeding a 1000-executor fit actually
    * needs: sequential k-means++ makes k full passes; this makes
    * `rounds` passes, each oversampling an expected `l` candidates with
    * probability ∝ cost (squared distance to the nearest current
    * candidate), then reduces the bounded candidate set to k centers by
    * a weighted Lloyd on the driver.
    *
    * Deterministic by construction — the property that makes an init
    * auditable and re-runnable (the paper samples with rand()):
    *  - the per-point coin is u = md5(id:round)/2²⁴ (the d26/d15 hash
    *    trick), so membership is a pure function of the id and round;
    *  - per-point costs snap to the 6dp grid and the total folds
    *    through DECIMAL (exact, order-independent), so the sampling
    *    threshold l·cost/total is bit-identical under ANY partitioning
    *    — a raw double sum would let executor count flip a coin that
    *    sits within 1 ulp of its threshold;
    *  - candidates accumulate in (round, id) order and the final
    *    weighted Lloyd seeds from the top-k weights (count of corpus
    *    points owned, lowest-index tiebreak).
    * Driver memory holds only the ~(1 + rounds·l) candidates; each
    * round is one codegen'd cost projection + a filter — no shuffle at
    * all until the single weight count at the end.
    */
  def scalableInit(points: DataFrame, idCol: String, k: Int,
      rounds: Int = 3, l: Double = 0.0, lloydIter: Int = 10)
      : Array[Array[Double]] = {
    val ell = if (l > 0) l else 2.0 * k
    // one projection, persisted across the 2·rounds+2 actions below
    // (each round runs a total agg + a candidate collect) — same
    // discipline as fit/fitBlock
    val pts = points.select(col(idCol).cast("long").as("id"), col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val first = pts.orderBy(col("id")).limit(1).collect()
      require(first.nonEmpty,
        "scalableInit: points frame is empty (or fully filtered) — " +
          "cannot seed a first candidate")
      val cand = scala.collection.mutable.ArrayBuffer[Array[Double]]()
      cand += first(0).getAs[scala.collection.Seq[Double]]("v").toArray
      var r = 1
      while (r <= rounds) {
        val centers = cand.toArray
        val costed = pts.select(col("id"), col("v"),
          (floor(assign(col("v"), centers).getField("dist2") * 1e6 + 0.5)
            / 1e6).as("cost"))
        // a null decimal sum is ANSI-off overflow of DECIMAL(28,6) —
        // fail with the cause, not an NPE at doubleValue()
        val totalDec = costed
          .agg(sum(col("cost").cast(
            org.apache.spark.sql.types.DecimalType(28, 6))))
          .head().getDecimal(0)
        require(totalDec != null,
          "scalableInit: cost total overflowed DECIMAL(28,6) — " +
            "scale the input or raise the fold precision")
        val total = totalDec.doubleValue()
        if (total <= 0.0) {
          r = rounds + 1 // every point sits on a candidate — done
        } else {
          val u = graft.functions.GraftFunctions.md5Prefix(
            concat(col("id").cast("string"), lit(s":kmpp:$r")).cast("binary"),
            6).cast("double") / lit(16777216.0)
          cand ++= costed
            .filter(u * lit(total) < lit(ell) * col("cost"))
            .select(col("id"), col("v")).collect()
            .sortBy(_.getAs[Long]("id"))
            .map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
          r += 1
        }
      }
      // degenerate corpora (all points identical, or fewer distinct
      // points than k) can leave < k candidates; pad from the lowest
      // ids — duplicate seeds then mirror initFromLowestIds's behavior
      // on the same data instead of crashing the reduction
      if (cand.size < k)
        cand ++= initFromLowestIds(pts, "id", k).take(k - cand.size)
      val centers = cand.toArray
      val owned = pts
        .select(assign(col("v"), centers).getField("cid").as("cid"))
        .groupBy(col("cid")).agg(count(lit(1)).as("n")).collect()
        .map(row => row.getAs[Int]("cid") -> row.getAs[Long]("n")).toMap
      val weights = Array.tabulate(centers.length)(i =>
        owned.getOrElse(i, 0L).toDouble)
      weightedFitLocal(centers, weights, k, lloydIter)
    } finally pts.unpersist()
  }

  /** Weighted Lloyd on a driver-local candidate set (the k-means||
    * reduction step): seeds from the k heaviest candidates
    * (lowest-index tiebreak), assigns with the same strict-< rule as
    * `fitLocal`, recomputes weighted means; empty clusters keep their
    * centroid. Candidates with zero weight still participate as points
    * (they pull nothing). */
  def weightedFitLocal(pts: Array[Array[Double]], weights: Array[Double],
      k: Int, maxIter: Int): Array[Array[Double]] = {
    require(pts.length >= k, s"${pts.length} candidates < k=$k")
    val d = pts.head.length
    val seed = pts.indices.sortBy(i => (-weights(i), i)).take(k)
    var cur = seed.map(pts(_).clone()).toArray
    var it = 0
    while (it < maxIter) {
      val sums = Array.ofDim[Double](k, d)
      val wsum = new Array[Double](k)
      var p = 0
      while (p < pts.length) {
        val v = pts(p)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = v(j) - cur(c)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        val w = weights(p)
        var j = 0
        while (j < d) { sums(best)(j) += w * v(j); j += 1 }
        wsum(best) += w
        p += 1
      }
      val next = cur.map(_.clone())
      var c = 0
      while (c < k) {
        if (wsum(c) > 0) {
          var j = 0
          while (j < d) { next(c)(j) = sums(c)(j) / wsum(c); j += 1 }
        }
        c += 1
      }
      cur = next
      it += 1
    }
    cur
  }
}
