package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{SparkEntry, Tables}
import graft.collectives.Collectives
import graft.damds.{Damds, DamdsKernels}
import graft.ml.KMeans
import graft.mm.{DoubleMatrixBlock, FixedPoint, Gemm}
import graft.operators.DigestGate

/** One operation of a pass: `construct` builds what `execute` runs, both
  * timed; `check` verifies the output outside the timed region and
  * returns the reason when it is wrong. */
final case class Op(name: String, construct: () => Unit, execute: () => Unit,
    check: () => Option[String] = () => None)

final case class Metric(value: Double, unit: String)

/** What one workload runs. Ops of one pass run one after another. */
trait Workload {
  def name: String
  /** Session preparation counted in set-up time. */
  def open(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, index: Int): Seq[Op]
  /** Releases what a pass holds, outside the timed region. */
  def endPass(spark: SparkSession): Unit = ()
  /** Per query, the output digest of its first run; reported so that
    * the pinned file can be renewed from a report of verified code. */
  def digests: collection.Map[String, Digest] = Map.empty
}

object Noop {
  /** Materializes every row of `df` through Spark's no-op sink. */
  def write(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}

/** A digest of a query's full output, as `DigestGate.digest` folds it. */
final case class Digest(rows: Long, xorA: Long, sumB: Long) {
  def render: Seq[Long] = Seq(rows, xorA, sumB)
}

object Digest {
  def of(df: DataFrame): Digest = {
    val r = DigestGate.digest(df).collect().head
    // the folds of an empty output are null
    def at(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Digest(at(0), at(1), at(2))
  }
}

/** Registered engine queries by name (`corpus` and `stream`). The
  * cold pass runs them in the listed order; each warm pass runs them in
  * an order drawn from the seed. Executing a query consumes its whole
  * output, every row and column, into its `DigestGate` digest, so every
  * timed execution is also checked against the pinned digest at no
  * extra run. */
final class QueryWorkload(val name: String, queries: Seq[String],
    tables: Seq[String], fixtures: String, seed: Long,
    pinned: Map[String, Digest]) extends Workload {
  override val digests = mutable.LinkedHashMap.empty[String, Digest]

  override def open(spark: SparkSession): Unit =
    tables.foreach(t => Tables(spark, fixtures, t).schema)

  def pass(spark: SparkSession, index: Int): Seq[Op] = {
    val order =
      if (index == 0) queries
      else new scala.util.Random(seed * 1000003L + index).shuffle(queries)
    order.map { q =>
      var df: DataFrame = null
      var got: Digest = null
      Op(q,
        () => df = SparkEntry.queries(q)(spark, fixtures),
        () => got = Digest.of(df),
        () => {
          digests.getOrElseUpdate(q, got)
          pinned.get(q) match {
            case None => Some("no pinned digest")
            case Some(want) if want != got =>
              Some(s"digest ${got.render} != pinned ${want.render}")
            case _ => None
          }
        })
    }
  }

  override def endPass(spark: SparkSession): Unit =
    // memory-sink tables of finished streams hold their rows on the heap
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_sink_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
}

object QueryWorkload {
  // The full families (24 and 14 queries) take 37 s and 42 s for a cold
  // pass on the sf0.01 fixtures on a 4-core host; these subsets keep
  // each family's layers (artifact builds, native kernels, exchanges,
  // state stores) in a run short enough to repeat many times. See
  // NOTES.md.
  val corpus: Seq[String] = Seq(
    "d06_minhash_lsh", "d86_bpe_encode", "v04_cosine_dup_lsh",
    "v09_knn_ivfpq")

  val stream: Seq[String] = Seq(
    "s02_stream_sessions", "s20_stream_dedup_ledger",
    "s23_stream_bloom_screen")
}

/** Shapes of the four reference subsystems in the `iterative` workload. */
final case class IterShape(
    kmeansPoints: Long, kmeansK: Int, kmeansDim: Int, kmeansIters: Int,
    gemmRows: Int, gemmInner: Int, gemmCols: Int, gemmBlocks: Int,
    damdsN: Int, damdsBlocks: Int,
    reduceParts: Int, reduceLen: Int, reduceRounds: Int)

/** Seeded input generators. Pure functions of (seed, index), so tasks
  * and the driver-side checks regenerate identical values. */
object Inputs {
  def gemmBlock(seed: Long, i: Int, s: IterShape): DoubleMatrixBlock = {
    val (start, rows) = graft.mm.MatrixIO.rowSplits(s.gemmRows, s.gemmBlocks)(i)
    val rnd = new java.util.Random(seed * 1000003L + i)
    DoubleMatrixBlock(i, start, rows, s.gemmRows, s.gemmInner,
      Array.fill(rows * s.gemmInner)(rnd.nextInt(10).toDouble))
  }

  def gemmB(seed: Long, s: IterShape): Array[Double] = {
    val rnd = new java.util.Random(seed * 7919L + 1)
    Gemm.toColMajor(Array.fill(s.gemmInner * s.gemmCols)(rnd.nextInt(10).toDouble),
      s.gemmInner, s.gemmCols)
  }

  /** Latent points whose pairwise distances, scaled into [0, 1] by the
    * largest possible distance, form the DA-MDS input matrix. */
  def damdsLatent(seed: Long, n: Int): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed * 31L + 17)
    Array.fill(n, 8)(rnd.nextDouble())
  }

  def damdsBlock(latent: Array[Array[Double]], i: Int, blocks: Int)
      : DamdsKernels.DamdsBlock = {
    val n = latent.length
    val (start, rows) = graft.mm.MatrixIO.rowSplits(n, blocks)(i)
    val scale = 1.0 / math.sqrt(8.0)
    val dist = new Array[Short](rows * n)
    var r = 0
    while (r < rows) {
      val p = latent(start + r)
      var j = 0
      while (j < n) {
        val q = latent(j)
        var s2 = 0.0
        var k = 0
        while (k < 8) { val t = p(k) - q(k); s2 += t * t; k += 1 }
        dist(r * n + j) = FixedPoint.encode(math.sqrt(s2) * scale)
        j += 1
      }
      r += 1
    }
    DamdsKernels.DamdsBlock(i, start, rows, n, dist, Array.empty[Short])
  }

  def damdsInit(seed: Long, n: Int, d: Int): Array[Double] = {
    val rnd = new java.util.Random(seed * 131L + 7)
    Array.fill(n * d)(rnd.nextDouble() - 0.5)
  }

  /** Integer-valued, so every summation order gives the exact sum. */
  def vector(seed: Long, i: Int, len: Int): Array[Double] = {
    val rnd = new java.util.Random(seed * 104729L + i)
    Array.fill(len)(rnd.nextInt(1000).toDouble)
  }
}

/** The reference's four timed subsystems: K-Means `stepBlock`
  * iterations, block GEMM, distributed DA-MDS and AllReduce rounds.
  * All inputs derive from the seed. */
final class IterativeWorkload(seed: Long, val shape: IterShape)
    extends Workload {
  val name = "iterative"
  // one temperature, one stress loop, 10 CG iterations, X kept
  // distributed (a gather cap of one double)
  val damdsConfig: Damds.Config = Damds.Config(targetDim = 3, cgIter = 10,
    maxStressLoops = 1, maxTempLoops = 0, maxGatherDoubles = 1L)
  private val s = shape
  private val held = mutable.ArrayBuffer.empty[Dataset[_]]
  // per checked pass: the final centroid checksum, and DA-MDS (stress,
  // cg_count); the first pass's values are the reference for the rest
  val kmeansChecksums = mutable.ArrayBuffer.empty[Double]
  val damdsResults = mutable.ArrayBuffer.empty[(Double, Int)]
  // the same anneal with X gathered to the driver: its result and time
  private var damdsRef: Option[(Double, Int)] = None
  var damdsGatheredSeconds: Double = Double.NaN
  private lazy val reduceExpected: Array[Double] = {
    val acc = new Array[Double](s.reduceLen)
    (0 until s.reduceParts).foreach { i =>
      val v = Inputs.vector(seed, i, s.reduceLen)
      var j = 0
      while (j < acc.length) { acc(j) += v(j); j += 1 }
    }
    acc
  }

  private def keep[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    held += p
    p
  }

  def pass(spark: SparkSession, index: Int): Seq[Op] =
    kmeansOps(spark, index) ++ gemmOps(spark) ++ damdsOps(spark) ++ reduceOps(spark)

  override def endPass(spark: SparkSession): Unit = {
    held.foreach(_.unpersist(true))
    held.clear()
  }

  // ---- K-Means ----
  private def kmeansOps(spark: SparkSession, index: Int): Seq[Op] = {
    var pts: DataFrame = null
    var init: Array[Array[Double]] = null
    var cents: Array[Array[Double]] = null
    val seedLit = lit(seed)
    def build(): Unit = {
      pts = keep(spark.range(0L, s.kmeansPoints, 1L, 4 * spark.sparkContext.defaultParallelism)
        .select(col("id"), array((0 until s.kmeansDim).map(j =>
          pmod(xxhash64(col("id"), lit(j), seedLit), lit(1000000L)) / 1e6): _*)
          .as("v")).toDF())
      init = pts.where(col("id") < s.kmeansK).orderBy("id").collect()
        .map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
      cents = init
    }
    (1 to s.kmeansIters).map { it =>
      Op(s"kmeans.step_block#$it",
        if (it == 1) () => build() else () => (),
        () => cents = KMeans.stepBlock(pts, cents),
        () => {
          if (it == 1 && index == 0) checkFirstStep(pts, init, cents)
          else if (it == s.kmeansIters) {
            val sum = cents.iterator.flatMap(_.iterator).sum
            kmeansChecksums += sum
            val ref = kmeansChecksums.head
            if (close(ref, sum, 1e-9)) None
            else Some(s"centroid checksum $sum != first pass $ref")
          } else None
        })
    }
  }

  private def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))

  /** One Lloyd step computed serially on the driver from the same
    * initial centroids; `stepBlock` may only differ in summation order. */
  private def checkFirstStep(pts: DataFrame, init: Array[Array[Double]],
      got: Array[Array[Double]]): Option[String] = {
    val k = init.length
    val d = init.head.length
    val sums = Array.ofDim[Double](k, d)
    val counts = new Array[Long](k)
    pts.select("v").collect().foreach { r =>
      val v = r.getAs[scala.collection.Seq[Double]](0)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var dist = 0.0
        var j = 0
        while (j < d) { val t = v(j) - init(c)(j); dist += t * t; j += 1 }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      var j = 0
      while (j < d) { sums(best)(j) += v(j); j += 1 }
      counts(best) += 1
    }
    val bad = (0 until k).find { c =>
      (0 until d).exists { j =>
        val want = if (counts(c) == 0) init(c)(j) else sums(c)(j) / counts(c)
        !close(want, got(c)(j), 1e-9)
      }
    }
    bad.map(c => s"first K-Means step differs from the serial step at centroid $c")
  }

  // ---- GEMM ----
  private def gemmOps(spark: SparkSession): Seq[Op] = {
    var a: Dataset[DoubleMatrixBlock] = null
    var b: Array[Double] = null
    var c: Dataset[DoubleMatrixBlock] = null
    val (sd, sh) = (seed, s)
    Seq(Op("gemm.multiply",
      () => {
        a = keep(spark.range(0L, s.gemmBlocks.toLong, 1L, s.gemmBlocks)
          .map(i => Inputs.gemmBlock(sd, i.toInt, sh))(
            Encoders.product[DoubleMatrixBlock]))
        a.count()
        b = Inputs.gemmB(seed, s)
      },
      () => {
        c = Gemm.multiply(spark, a, b, s.gemmCols)
        Noop.write(c.toDF())
      },
      () => checkGemm(c, b)))
  }

  /** Rows sampled from a few blocks must equal the serial kernel's
    * product exactly (both accumulate each cell in ascending k). */
  private def checkGemm(c: Dataset[DoubleMatrixBlock], b: Array[Double])
      : Option[String] = {
    val rnd = new java.util.Random(seed)
    val picked = Seq.fill(3)(rnd.nextInt(s.gemmBlocks)).distinct
    val got = c.filter(bl => picked.contains(bl.index)).collect()
    if (got.length != picked.length) return Some("GEMM blocks missing")
    got.flatMap { bl =>
      val a = Inputs.gemmBlock(seed, bl.index, s)
      val rows = Seq(0, bl.blockRows / 2, bl.blockRows - 1).distinct
      rows.find { r =>
        val aRow = java.util.Arrays.copyOfRange(a.data, r * s.gemmInner,
          (r + 1) * s.gemmInner)
        val want = Gemm.serialMultiply(aRow, 1, s.gemmInner, b, s.gemmCols)
        val have = java.util.Arrays.copyOfRange(bl.data, r * s.gemmCols,
          (r + 1) * s.gemmCols)
        !java.util.Arrays.equals(want, have)
      }.map(r => s"GEMM row ${bl.start + r} differs from the serial product")
    }.headOption
  }

  // ---- DA-MDS ----
  def damdsInput(spark: SparkSession): Dataset[DamdsKernels.DamdsBlock] = {
    val (sd, n, nb) = (seed, s.damdsN, s.damdsBlocks)
    spark.range(0L, nb.toLong, 1L, nb)
      .map(i => Inputs.damdsBlock(Inputs.damdsLatent(sd, n), i.toInt, nb))(
        Encoders.product[DamdsKernels.DamdsBlock])
  }

  private def damdsOps(spark: SparkSession): Seq[Op] = {
    var ds: Dataset[DamdsKernels.DamdsBlock] = null
    var init: Array[Double] = null
    var r: Damds.RunResult = null
    Seq(Op("damds.run",
      () => {
        ds = keep(damdsInput(spark))
        ds.count()
        init = Inputs.damdsInit(seed, s.damdsN, damdsConfig.targetDim)
      },
      () => r = Damds.run(spark, ds, init, s.damdsN, damdsConfig),
      () => {
        damdsResults += ((r.state.stress, r.state.cgCount))
        if (damdsRef.isEmpty) {
          // the same anneal with X gathered to the driver every CG step
          val t0 = System.nanoTime()
          val g = Damds.run(spark, ds, init, s.damdsN,
            damdsConfig.copy(maxGatherDoubles = Damds.maxGatherDoubles))
          damdsGatheredSeconds = (System.nanoTime() - t0) / 1e9
          damdsRef = Some((g.state.stress, g.state.cgCount))
        }
        val (stress, cg) = damdsRef.get
        val serial = serialStress(r.x)
        if (r.state.cgCount != cg)
          Some(s"DA-MDS cg_count ${r.state.cgCount} != gathered $cg")
        else if (!close(r.state.stress, stress, 1e-9))
          Some(s"DA-MDS stress ${r.state.stress} != gathered $stress")
        else if (!close(r.state.stress, serial, 1e-9))
          Some(s"DA-MDS stress ${r.state.stress} != serial $serial")
        else None
      }))
  }

  /** The stress of embedding `x` at the run's one temperature, computed
    * on the driver with none of the engine's DA-MDS code. With unit
    * weights, δ the input distances as decoded from their fixed-point
    * blocks, T = α·max δ / √(2d) and h = √(2d)·T:
    *
    *   stress = Σ_ij (max(δ_ij − h, 0) − ‖x_i − x_j‖)² / Σ_ij δ_ij²
    *
    * The engine floors zero distances (the diagonal) at the smallest
    * positive δ before the sum; that floor lies below h, so it adds
    * nothing here. */
  private def serialStress(x: Array[Double]): Double = {
    val n = s.damdsN
    val d = damdsConfig.targetDim
    val latent = Inputs.damdsLatent(seed, n)
    val blocks = (0 until s.damdsBlocks).map(i => Inputs.damdsBlock(latent, i, s.damdsBlocks))
    val delta = (b: DamdsKernels.DamdsBlock, k: Int) => b.dist(k) / Short.MaxValue.toDouble
    var vmax = 0.0
    var sumSq = 0.0
    blocks.foreach { b =>
      (0 until b.dist.length).foreach { k =>
        val v = delta(b, k)
        vmax = math.max(vmax, v)
        sumSq += v * v
      }
    }
    val t = damdsConfig.alpha * vmax / math.sqrt(2.0 * d)
    val h = math.sqrt(2.0 * d) * t
    var sigma = 0.0
    blocks.foreach { b =>
      var r = 0
      while (r < b.blockRows) {
        val i = b.start + r
        var j = 0
        while (j < n) {
          var e2 = 0.0
          var k = 0
          while (k < d) { val u = x(i * d + k) - x(j * d + k); e2 += u * u; k += 1 }
          val diff = math.max(delta(b, r * n + j) - h, 0.0) - math.sqrt(e2)
          sigma += diff * diff
          j += 1
        }
        r += 1
      }
    }
    sigma / sumSq
  }

  // ---- AllReduce ----
  private def reduceOps(spark: SparkSession): Seq[Op] = {
    import spark.implicits._
    var vecs: Dataset[Array[Double]] = null
    val (sd, len) = (seed, s.reduceLen)
    val cpus = spark.sparkContext.defaultParallelism
    (1 to s.reduceRounds).map { round =>
      var result: Array[Double] = null
      var seen: Array[Double] = null
      Op(s"collectives.all_reduce#$round",
        if (round == 1) () => {
          vecs = keep(spark.range(0L, s.reduceParts.toLong, 1L, s.reduceParts)
            .map(i => Inputs.vector(sd, i.toInt, len)))
          vecs.count()
        } else () => (),
        () => {
          val bc = Collectives.allReduce(spark, vecs, Collectives.vectorSum)
          val probe = round % len
          // every task reads the reduced vector, as an AllReduce requires
          seen = spark.sparkContext.parallelize(0 until cpus, cpus)
            .map(_ => bc.value(probe)).collect()
          result = bc.value
          bc.destroy()
        },
        () => {
          val want = reduceExpected
          if (!java.util.Arrays.equals(result, want))
            Some("AllReduce sum differs from the serial sum")
          else if (seen.exists(_ != want(round % len)))
            Some("a task saw a different AllReduce result")
          else None
        })
    }
  }
}
