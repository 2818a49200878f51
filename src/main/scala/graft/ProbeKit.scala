package graft

import graft.damds.{Damds, DamdsKernels}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

/** What Bench and BenchIsolate time with: the noop sink, min-of-N, the
  * stream-progress reader and the reference-shaped probes (K-Means,
  * GEMM, distributed DA-MDS) over seeded synthetic inputs, so a probe's
  * checksum compares across code versions. */
object ProbeKit {
  /** Materialize a query's FULL output through Spark's noop sink.
    *
    * Timing via `.count()` lets Catalyst column-prune every projection
    * above the last aggregation or join: `groupBy().count()` needs no
    * columns, so a map-only query's whole compute chain is optimized
    * out and the row measures scan+filter only (d84: 0.16 s counted vs
    * 1.8 s materialized, same session). The noop DataSourceV2 sink
    * consumes every row with no pruning and no write cost, so a timed
    * row is the cost of producing the query's output. Pre-r18 bench
    * rows used count() and are not comparable for projection-terminal
    * queries (BENCH_NOTES.md). */
  def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Seconds `body` took, and its value. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** Back-to-back timed runs: each run's seconds and value. */
  final case class Runs[T](all: Seq[(Double, T)]) {
    def secs: Seq[Double] = all.map(_._1)
    def min: Double = secs.min
    /** The fastest run's value. */
    def best: T = all.minBy(_._1)._2
  }

  /** `n` back-to-back timed runs of `body`; read `.min`. Adjacent
    * samples share host conditions, so the min is the steady-state
    * cost, robust to transient JIT/GC/host stalls. */
  def minOf[T](n: Int)(body: => T): Runs[T] =
    Runs((1 to n).map(_ => timed(body)))

  /** One stream run: wall seconds, the max state-store rows over its
    * progress events and the summed in-batch `triggerExecution`
    * seconds (the marginal). Both readings are -1 when no progress
    * arrived: a listener-delivery failure, not "no state" or "no
    * work". */
  final case class StreamRun(wall: Double, stateRows: Long, marginal: Double)

  /** Reads the progress of the streams one session runs. A session
    * listener is the only way to reach a TERMINATED stream's progress
    * from outside its runner (the queries stop their own streams
    * before returning). The listener collects only inside [[run]], so
    * progress does not pile up across a long sweep, and a late event
    * of one run stays out of the next. */
  final class StreamProgress(spark: SparkSession) {
    private val buf =
      scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]()
    private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (armed.get) buf.synchronized { buf += e.progress }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })

    /** Times `body` (which runs the streams) and reads their progress.
      * Delivery is async: the buffer is polled until it holds still
      * for 100 ms (at most 2 s), outside the timed window. */
    def run(label: String)(body: => Unit): StreamRun = {
      buf.synchronized(buf.clear())
      armed.set(true)
      val wall =
        try timed(body)._1
        catch { case e: Throwable => armed.set(false); throw e }
      var prev = -1
      var cur = buf.synchronized(buf.size)
      var tries = 0
      while ((cur != prev || cur == 0) && tries < 20) {
        Thread.sleep(100)
        prev = cur
        cur = buf.synchronized(buf.size)
        tries += 1
      }
      armed.set(false)
      val ps = buf.synchronized(buf.toList)
      if (ps.isEmpty) {
        System.err.println(s"[probe] $label: progress drain timed out " +
          "with an EMPTY buffer; its -1 state/marginal reading is a " +
          "listener-delivery failure, not a state shape")
        StreamRun(wall, -1L, -1.0)
      } else StreamRun(wall,
        ps.map(_.stateOperators.map(_.numRowsTotal).sum).max,
        ps.map(p => Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L)).sum / 1000.0)
    }
  }

  /** A probe whose input is built: `run()` is one timed unit and
    * `close()` frees the input. */
  final class Probe[T](body: () => T, cleanup: () => Unit) {
    def run(): T = body()
    def close(): Unit = cleanup()
    def map[U](f: T => U): Probe[U] = new Probe(() => f(body()), cleanup)
  }

  /** The K-Means probes' point dimension. */
  val kmeansDim = 2

  /** The K-Means probe: `points` deterministic hash points in d = 2
    * (persisted), the first `k` as initial centroids, one untimed
    * warmup step (JIT + codegen), then each run is `iters` block steps
    * from those centroids and returns the final ones. At 1M points,
    * k = 1000 and 10 iterations it is BASELINE.md's headline row (Flink,
    * p = 320, 49.1 s). */
  def kmeans(spark: SparkSession, points: Long, k: Int, iters: Int)
      : Probe[Array[Array[Double]]] = {
    import org.apache.spark.sql.functions._
    val pts = spark.range(points).select(
      array((0 until kmeansDim).map(j =>
        (pmod(xxhash64(col("id"), lit(j)), lit(1000000L)) / 1e6)): _*)
        .as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    pts.count()
    val init = pts.limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
    graft.ml.KMeans.stepBlock(pts, init)
    new Probe(() => {
      var c = init
      for (_ <- 1 to iters) c = graft.ml.KMeans.stepBlock(pts, c)
      c
    }, () => pts.unpersist())
  }

  /** The K-Means checksum: the sum of every centroid coordinate. */
  def centroidSum(c: Array[Array[Double]]): Double = c.flatten.sum

  /** The GEMM probe's shape: seeded A (m x k, persisted as rows) times
    * a broadcast column-major B (k x n). */
  val gemmM = 65536
  val gemmK = 256
  val gemmN = 128

  /** The GEMM probe: one run multiplies every partition's row block of
    * A by B with the register-tiled kernel and returns the sum of C (the
    * checksum). One untimed warmup run (JIT + codegen). */
  def gemm(spark: SparkSession): Probe[Double] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val kk = gemmK; val nn = gemmN
    val bBc = spark.sparkContext.broadcast(graft.mm.Gemm.toColMajor(
      graft.mm.MatrixIO.randomMatrix(kk, nn, seed = 5L), kk, nn))
    val a = spark.range(gemmM).select(
      $"id", array((0 until kk).map(j =>
        (pmod(xxhash64($"id", lit(j)), lit(1000L)) / 1000.0)): _*).as("v"))
      .as[(Long, Seq[Double])]
      .persist(StorageLevel.MEMORY_AND_DISK)
    a.count()
    def sweep(): Double = a.mapPartitions { it =>
      val rows = it.toArray
      if (rows.isEmpty) Iterator.empty
      else {
        val nr = rows.length
        val flat = new Array[Double](nr * kk)
        var i = 0
        while (i < nr) {
          val v = rows(i)._2
          var j = 0
          while (j < kk) { flat(i * kk + j) = v(j); j += 1 }
          i += 1
        }
        val c = graft.mm.Gemm.gemm(flat, nr, kk, bBc.value, nn)
        var s = 0.0; var x = 0
        while (x < c.length) { s += c(x); x += 1 }
        Iterator.single(s)
      }
    }.reduce(_ + _)
    sweep()
    new Probe(() => sweep(), () => { a.unpersist(); bBc.destroy() })
  }

  /** A synthetic DA-MDS input: `n` points of `seedPts`-seeded uniform
    * noise in 8 latent dimensions, `splits` row blocks. */
  final case class DamdsSize(n: Int, splits: Int, seedPts: Long,
      seedInit: Long)

  /** The DA-MDS probe sizes. At n = 256 the anneal is orchestration-
    * bound; at 4096 and 16384 each CG matvec moves real data through
    * the allgather, so the curve has a slope; 32768 (2.1 GB of shorts)
    * needs a ~40 GB heap and a JVM of its own. */
  val damdsSizes: Map[String, DamdsSize] = Map(
    "n256" -> DamdsSize(256, 16, 11L, 17L),
    "n4k" -> DamdsSize(4096, 32, 29L, 31L),
    "n16k" -> DamdsSize(16384, 32, 41L, 43L),
    "n32k" -> DamdsSize(32768, 32, 53L, 59L))

  /** The probe anneal: n02's loop shape (2 temperature loops x 1 stress
    * loop, cgIter 10) in 3-D, with a 1-double gather cap forcing the
    * distributed path (`DamdsDistributed`). */
  val damdsConfig: Damds.Config = Damds.Config(targetDim = 3, cgIter = 10,
    maxStressLoops = 1, maxTempLoops = 2, maxGatherDoubles = 1L)

  /** `seed`'s points: `n` uniform draws in 8 latent dimensions. */
  private def damdsPoints(n: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(n, 8)(rnd.nextDouble())
  }

  private def damdsDist(pts: Array[Array[Double]], i: Int, j: Int): Double = {
    val a = pts(i); val b = pts(j)
    var s2 = 0.0; var k = 0
    while (k < a.length) { val t = a(k) - b(k); s2 += t * t; k += 1 }
    math.sqrt(s2)
  }

  /** The largest distance between any two of `pts`, from parallel row
    * maxima: `max` is exact, so it does not depend on the split. */
  private def damdsMax(pts: Array[Array[Double]]): Double = {
    val n = pts.length
    val rowMax = new Array[Double](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      var mx = 0.0
      var j = 0
      while (j < n) {
        val dv = damdsDist(pts, i, j)
        if (dv > mx) mx = dv
        j += 1
      }
      rowMax(i) = mx
    }
    rowMax.foldLeft(0.0)(math.max)
  }

  /** Rows `start until start + rows` of the row-major distance matrix of
    * `pts`, scaled to [0, 1] by `mx` and fixed-point encoded. */
  private def damdsRows(pts: Array[Array[Double]], mx: Double, start: Int,
      rows: Int): Array[Short] = {
    val n = pts.length
    val out = new Array[Short](rows * n)
    var r = 0
    while (r < rows) {
      var j = 0
      while (j < n) {
        out(r * n + j) =
          graft.mm.FixedPoint.encode(damdsDist(pts, start + r, j) / mx)
        j += 1
      }
      r += 1
    }
    out
  }

  /** The row-major n x n distance matrix of `seed`'s points, scaled to
    * [0, 1] by its max and fixed-point encoded: what [[damdsInput]]'s
    * blocks hold, row block by row block. */
  def damdsShorts(n: Int, seed: Long): Array[Short] = {
    val pts = damdsPoints(n, seed)
    damdsRows(pts, damdsMax(pts), 0, n)
  }

  /** `size`'s blocks, persisted, and its `seedInit`-seeded initial 3-D
    * embedding. The driver computes only the global max distance; each
    * task rebuilds the points from the seed and encodes its own blocks,
    * so no task binary carries distance shorts. The blocks are
    * materialized once here, outside any timed run; unpersist them when
    * done. */
  def damdsInput(spark: SparkSession, size: DamdsSize)
      : (Dataset[DamdsKernels.DamdsBlock], Array[Double]) = {
    import spark.implicits._
    val n = size.n
    val seed = size.seedPts
    val mx = damdsMax(damdsPoints(n, seed))
    val specs = graft.mm.MatrixIO.rowSplits(n, size.splits).zipWithIndex
      .map { case ((start, rows), idx) => (idx, start, rows) }
    val ds = specs.toDS().map { case (idx, start, rows) =>
      DamdsKernels.DamdsBlock(idx, start, rows, n,
        damdsRows(damdsPoints(n, seed), mx, start, rows),
        Array.empty[Short])
    }(org.apache.spark.sql.Encoders.product[DamdsKernels.DamdsBlock])
      .persist(StorageLevel.MEMORY_AND_DISK)
    ds.count()
    val rInit = new java.util.Random(size.seedInit)
    (ds, Array.fill(n * damdsConfig.targetDim)(rInit.nextDouble() - 0.5))
  }

  /** The distributed DA-MDS probe: one run is one [[damdsConfig]]
    * anneal of `size`'s input; its stress and CG count are the
    * checksum. */
  def damds(spark: SparkSession, size: DamdsSize): Probe[Damds.RunResult] = {
    val (ds, initX) = damdsInput(spark, size)
    new Probe(() => Damds.run(spark, ds, initX, size.n, damdsConfig),
      () => ds.unpersist())
  }
}
