package graft.damds

import graft.collectives.Collectives.{orderedAggregate, orderedReduce}
import graft.damds.DamdsKernels._
import graft.mm.DoubleMatrixBlock
import graft.mm.Gemm
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** DA-MDS pipeline (reference damds/DAMDS.java:154-253 + CG.java:23-163),
  * redesigned for Spark's execution model per SURVEY §3.1:
  *
  *  - the reference re-submits a fresh Flink job (re-scanning all inputs)
  *    for every temperature/stress step and round-trips loop state
  *    through CSV files; here the decoded distance/weight blocks are
  *    persisted ONCE and every step reuses the cache — loop state is a
  *    driver case class;
  *  - the `Matrix.properties` side-band scalar map (tCur, invs, rTr,
  *    break…) is eliminated: scalars live on the driver and ship to
  *    tasks via closure/broadcast;
  *  - ordered gathers (A4, parallelism-1 reduceGroup) become collect +
  *    Gemm.assemble of the small N×d partials;
  *  - the CG inner iteration (I2) is a driver loop: each step runs one
  *    distributed V·p over the cached blocks (the only big-data op) and
  *    does the scalar updates locally. One action per CG step — same
  *    superstep count as the reference, minus the per-step re-scan.
  *
  * At scale the N×N matrix is the big operand (100 TB-class when N~10⁷);
  * it stays partitioned by row blocks, and only N×d embeddings (d=2–3)
  * ever cross the driver.
  */
object Damds {

  final case class Config(
      targetDim: Int = 3,
      alpha: Double = 0.95,
      tMinFactor: Double = 0.5,
      threshold: Double = 1e-6,
      cgIter: Int = 20,
      cgThreshold: Double = 1e-5,
      exactCG: Boolean = false,
      maxStressLoops: Int = -1,
      maxTempLoops: Int = -1,
      sammonFactor: Double = 0.0, // > 0 enables Sammon weighting (N11)
      // N×d above which `run` keeps X distributed (DamdsDistributed)
      // instead of gathering it to the driver every CG step
      maxGatherDoubles: Long = Damds.maxGatherDoubles)

  final case class State(
      tCur: Double, tMin: Double,
      stress: Double, preStress: Double,
      tItr: Int, stressItr: Int, cgCount: Int)

  final case class RunResult(x: Array[Double], state: State,
      stressLog: Seq[Double])

  /** A6/A1: global DoubleStatistics over the distance blocks. */
  def statistics(blocks: Dataset[DamdsBlock]): DStats =
    orderedReduce(blocks.rdd.map(b => stats(b.dist)))(_ combine _)

  /** N8: distance floor repair applied per block. */
  def updateDistances(blocks: Dataset[DamdsBlock], positiveMin: Double)
      : Dataset[DamdsBlock] =
    blocks.map(b => b.copy(dist = floorRepair(b.dist, positiveMin)))(
      blocks.encoder)

  /** N4/A7/A1: global stress σ·invs at the given temperature. */
  def stress(spark: SparkSession, blocks: Dataset[DamdsBlock],
      x: Array[Double], d: Int, tCur: Double, invs: Double): Double = {
    val xBc = spark.sparkContext.broadcast(x)
    val sigma = orderedReduce(blocks.rdd
      .map(b => stressSigma(b, xBc.value, d, tCur)))(_ + _)
    xBc.destroy()
    sigma * invs
  }

  /** N3 + A4: BC = B(Z)·X, gathered to the driver as a flat N×d array. */
  def bc(spark: SparkSession, blocks: Dataset[DamdsBlock],
      x: Array[Double], d: Int, tCur: Double, n: Int): Array[Double] = {
    val xBc = spark.sparkContext.broadcast(x)
    val parts = blocks.rdd.map { b =>
      DoubleMatrixBlock(b.index, b.start, b.blockRows, n, d,
        bcBlock(b, xBc.value, d, tCur))
    }.collect()
    xBc.destroy()
    Gemm.assemble(parts.toSeq)
  }

  /** N4+N3 fused (r21): stress σ and BC at the same (x, tCur) from ONE
    * pass over the cached blocks (`stressBcBlock`) and one job: each
    * partition returns its σ partial (summed in the same order as
    * `stress`) with its BC parts (identical to `bc`'s), and
    * `orderedAggregate` folds them in partition-index order, so σ is
    * bit-identical to `stress` at the same point. Used where the
    * annealed loop needs both values: the first stress iteration of
    * every temperature step.
    */
  private[damds] def stressAndBc(spark: SparkSession,
      blocks: Dataset[DamdsBlock], x: Array[Double], d: Int, tCur: Double,
      invs: Double, n: Int): (Double, Array[Double]) = {
    val xBc = spark.sparkContext.broadcast(x)
    val (sigma, parts) = orderedAggregate(blocks.rdd) { it =>
      val pairs = it.map { b =>
        val (sig, out) = stressBcBlock(b, xBc.value, d, tCur)
        (sig, DoubleMatrixBlock(b.index, b.start, b.blockRows, n, d, out))
      }.toArray
      (pairs.map(_._1).reduceLeft(_ + _), pairs.map(_._2))
    } { case ((s1, p1), (s2, p2)) => (s1 + s2, p1 ++ p2) }.get
    xBc.destroy()
    (sigma * invs, Gemm.assemble(parts.toSeq))
  }

  /** Largest N×d gather (in doubles) `mm`/`bc` will pull through the
    * driver per CG step — 64M doubles = 512 MB, past which the
    * parallelism-1 gather contract stops being sane. The reference's
    * DAMDS has exactly this gather (its reduceGroup at parallelism 1,
    * SURVEY §2.4 A4/O9), so up to the cap we keep parity. Beyond it
    * `run` dispatches to `DamdsDistributed`: X stays partitioned as row
    * blocks co-located with V, the gather+broadcast pair becomes a
    * shuffle allgather, CG's vector updates are per-block map jobs and
    * its dot products ordered reductions. `mm` itself (the
    * gathered kernel) still fail-fasts past the cap rather than OOM the
    * driver.
    */
  val maxGatherDoubles: Long = 64L * 1024 * 1024

  /** N2 + A4: one distributed V·x multiply, gathered to N×d. */
  def mm(spark: SparkSession,
      vblocks: org.apache.spark.rdd.RDD[(WeightBlock, Array[Double])],
      x: Array[Double], d: Int, n: Int): Array[Double] = {
    require(n.toLong * d <= maxGatherDoubles,
      s"DAMDS driver gather of ${n.toLong * d} doubles (N=$n × d=$d) " +
        s"exceeds $maxGatherDoubles; distribute X instead of gathering " +
        "(see Damds.maxGatherDoubles)")
    val xBc = spark.sparkContext.broadcast(x)
    val parts = vblocks.map { case (b, v) =>
      DoubleMatrixBlock(b.index, b.start, b.blockRows, n, d,
        mmBlock(b, v, xBc.value, d))
    }.collect()
    xBc.destroy()
    Gemm.assemble(parts.toSeq)
  }

  /** N10/I2: conjugate-gradient solve of V·X = BC, reference loop
    * structure (CG.java:74-153): the break flag is evaluated mid-body
    * and honored at the loop close, so the final iteration still
    * completes its r/p updates. Returns (X, cg iterations used).
    */
  def cg(spark: SparkSession,
      vblocks: org.apache.spark.rdd.RDD[(WeightBlock, Array[Double])],
      x0: Array[Double], bcM: Array[Double], d: Int, n: Int,
      cgIter: Int, cgThreshold: Double, exactCG: Boolean)
      : (Array[Double], Int) = {
    val x = x0.clone()
    val mmr = mm(spark, vblocks, x, d, n) // V·x0
    // calculateMMRBC (CG.java:361-377): p = bc − V·x0; r = p
    val p = new Array[Double](bcM.length)
    val r = new Array[Double](bcM.length)
    var i = 0
    while (i < bcM.length) {
      p(i) = bcM(i) - mmr(i); r(i) = p(i); i += 1
    }
    var rTr = selfDot(r)
    val testEnd = rTr * cgThreshold
    var cgCount = 0
    var break = false
    while (cgCount < cgIter && !break) {
      val ap = mm(spark, vblocks, p, d, n) // V·p
      cgCount += 1
      val alpha = rTr / dot(p, ap)
      var j = 0
      while (j < x.length) { x(j) += alpha * p(j); j += 1 }
      if (rTr < testEnd && !exactCG) break = true
      j = 0
      while (j < r.length) { r(j) -= alpha * ap(j); j += 1 }
      val rTr1 = selfDot(r)
      val beta = rTr1 / rTr
      rTr = rTr1
      j = 0
      while (j < p.length) { p(j) = r(j) + beta * p(j); j += 1 }
    }
    (x, cgCount)
  }

  /** N9 cooling step (reference DAMDS.java:234-238): geometric decay
    * by `alpha`, snapping to exactly 0 once below `tMin` (the run
    * terminates on tCur == 0). */
  def cooledTemp(tCur: Double, tMin: Double, alpha: Double): Double = {
    val c = tCur * alpha
    if (c < tMin) 0.0 else c
  }

  /** Full annealed run (I3): temperature loop → stress loop → CG,
    * reference control flow (DAMDS.java:169-253, N9 schedule at
    * :121-152, :234-238).
    */
  def run(spark: SparkSession, rawBlocks: Dataset[DamdsBlock],
      initX: Array[Double], n: Int, cfg: Config): RunResult = {
    if (n.toLong * cfg.targetDim > cfg.maxGatherDoubles)
      return runViaDistributed(spark, rawBlocks, initX, n, cfg)
    val d = cfg.targetDim
    val st = statistics(rawBlocks)
    val invs = 1.0 / st.sumSq
    // Sammon weighting needs the global average distance from the
    // stats pass (reference DAMDS.java wires distanceSummary.getAverage
    // into RowBlock.useSammonWeights)
    val repaired = updateDistances(rawBlocks, st.positiveMin)
    val blocks = (
      if (cfg.sammonFactor > 0.0)
        repaired.map(b => b.copy(sammonFactor = cfg.sammonFactor,
          avgDist = st.sum / st.count))(repaired.encoder)
      else repaired
    ).persist(StorageLevel.MEMORY_AND_DISK)
    // slim weight-only view: caching full DamdsBlocks here would hold
    // the N×N dist array twice (it already lives in `blocks`)
    val vblocks = blocks.rdd.map(b => (weightView(b), vArray(b)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val tMax = st.vmax / math.sqrt(2.0 * d)
      var state = State(
        tCur = cfg.alpha * tMax,
        tMin = cfg.tMinFactor * st.positiveMin / math.sqrt(2.0 * d),
        stress = 0.0, preStress = 0.0, tItr = 0, stressItr = 0, cgCount = 0)
      var x = initX.clone()
      val log = scala.collection.mutable.ArrayBuffer[Double]()
      var done = false
      while (!done) {
        // init stress at this temperature, fused with the first BC of
        // the stress loop below — both need the same (x, tCur) pass
        val (pre, bc0) = stressAndBc(spark, blocks, x, d, state.tCur,
          invs, n)
        state = state.copy(preStress = pre)
        var firstBc = bc0
        var diffStress = cfg.threshold + 1
        var stressIterations = 0
        var continueStress = true
        while (continueStress &&
            (diffStress >= cfg.threshold || cfg.maxStressLoops > 0)) {
          val bcM =
            if (firstBc != null) firstBc
            else bc(spark, blocks, x, d, state.tCur, n)
          firstBc = null
          val (newX, cgc) = cg(spark, vblocks, x, bcM, d, n,
            cfg.cgIter, cfg.cgThreshold, cfg.exactCG)
          x = newX
          val post = stress(spark, blocks, x, d, state.tCur, invs)
          diffStress = state.preStress - post
          state = state.copy(stress = post, preStress = post,
            stressItr = state.stressItr + 1, cgCount = state.cgCount + cgc)
          log += post
          stressIterations += 1
          if (cfg.maxStressLoops >= 0 && stressIterations == cfg.maxStressLoops)
            continueStress = false
        }
        if (cfg.maxTempLoops >= 0) {
          if (state.tItr == cfg.maxTempLoops) done = true
        } else if (state.tCur == 0) done = true
        if (!done) {
          state = state.copy(tItr = state.tItr + 1,
            tCur = cooledTemp(state.tCur, state.tMin, cfg.alpha))
        }
      }
      RunResult(x, state, log.toSeq)
    } finally {
      blocks.unpersist()
      vblocks.unpersist()
    }
  }

  /** Past the gather cap: run the anneal with X distributed
    * (DamdsDistributed) and touch the driver with an N×d array exactly
    * twice — splitting the caller's init and assembling the final
    * result (both bounded by the array the caller already holds) —
    * instead of once per CG step. For a fully driver-free pipeline call
    * `DamdsDistributed.run` with block-structured init directly.
    */
  private def runViaDistributed(spark: SparkSession,
      rawBlocks: Dataset[DamdsBlock], initX: Array[Double], n: Int,
      cfg: Config): RunResult = {
    val d = cfg.targetDim
    val r = DamdsDistributed.run(spark, rawBlocks, n, cfg) { meta =>
      DamdsDistributed.split(spark, initX, meta, d)
    }
    val x = DamdsDistributed.gather(r.xBlocks, r.meta, n, d)
    r.xBlocks.unpersist(false)
    RunResult(x, r.state, r.stressLog)
  }
}
