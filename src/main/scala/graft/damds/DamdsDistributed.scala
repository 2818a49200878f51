package graft.damds

import scala.reflect.ClassTag

import graft.collectives.Collectives.{orderedAggregate, vectorSum}
import graft.damds.DamdsKernels._
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Distributed-X DA-MDS: the annealed SMACOF loop of `Damds.run` with
  * the N×d embedding (and the CG solver's p/r vectors) kept as row
  * blocks co-located with the V/distance blocks, never gathered to the
  * driver.
  *
  * The reference gathers X through a parallelism-1 reduceGroup every CG
  * step (damds/CG.java:289-331, `setParallelism(1)` at :331) and
  * re-broadcasts it; `Damds.mm`/`Damds.bc` mirror that contract up to
  * `maxGatherDoubles` and fail fast beyond it. This path removes the
  * driver from the data plane entirely:
  *
  *  - **allgather instead of gather+broadcast**: each X/p block is
  *    shipped once to every block key through one shuffle and
  *    assembled into the full N×d array locally — the same total
  *    volume a broadcast would move (every task needs all of X because
  *    V and B(Z) are dense), but peer-to-peer, with no single node
  *    holding an assembly role and no driver-memory cap;
  *  - **CG vector updates are per-block map jobs**: x += αp, r −= αAp,
  *    p = r + βp run on co-partitioned (x, p, r) blocks (narrow joins,
  *    no shuffle) — only the SCALARS α, β, rᵀr cross the driver, via
  *    `blockReduce` over per-block partial dots (A9): one single-stage
  *    job whose per-block values the driver folds in block-index
  *    order, so every scalar — and with it X and the stress — repeats
  *    bit for bit from run to run;
  *  - **one partition per core, not per block**: the blocks hash onto
  *    min(#blocks, cores) partitions. The loop is many short jobs, and
  *    at fixture sizes a stage costs what its tasks cost to launch;
  *    `blockReduce` makes the results independent of the
  *    partitioning;
  *  - **plan-reset discipline**: each CG step's state is
  *    localCheckpoint-pinned, so lineage stays O(1) per step instead of
  *    accumulating one join chain per iteration (same reason the CC
  *    rounds checkpoint — task serialization goes superlinear
  *    otherwise).
  *
  * Jobs, each one single-stage reduction or collect over persisted
  * inputs (no job runs only to materialize a cache):
  *  - per run: 1 for the statistics and the block metadata together
  *    (it also fixes the partitioner; the first σ/BC job keys,
  *    repairs and caches the blocks, and allgathers the init X
  *    straight from its blocks, in whatever partitioning they came);
  *  - per temperature: 1 σ/BC pass for the pre-stress and the first
  *    BC, which also computes the CG's opening r0 = BC − V·x0 and
  *    folds its rᵀr with σ — none under a fixed stress schedule after
  *    the first temperature, where the previous post pass computed all
  *    three;
  *  - per stress iteration: 2 per CG step (pAp, then rTr₁) and 1 post
  *    pass, which also materializes the new X (and, under a fixed
  *    schedule, opens the next CG); a threshold-driven schedule adds 1
  *    BC pass before every CG but the temperature's first;
  *  - `Damds.runViaDistributed` adds 1 to gather the final X.
  * A fixed-schedule run of T temperatures with S stress loops and c
  * CG steps each is therefore 3 + T·S·(2c + 1) jobs through
  * `Damds.run` (stats, first σ/BC pass, the iterations, gather).
  *
  * `Damds.run` auto-dispatches here when N×d exceeds
  * `cfg.maxGatherDoubles`; call `run` directly (with block-structured
  * init) to keep the driver out of the loop end to end.
  */
object DamdsDistributed {

  /** (index, start, blockRows) for every block — O(#blocks) driver
    * state, never O(N×d). */
  final case class BlockMeta(index: Int, start: Int, blockRows: Int)

  final case class RunResultD(
      xBlocks: RDD[(Int, Array[Double])],
      meta: Seq[BlockMeta],
      state: Damds.State,
      stressLog: Seq[Double])

  private def pinned[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.localCheckpoint()
    rdd
  }

  /** A reduction over per-block values folded in block-index order,
    * whatever the partitioning: one single-stage job returns every
    * (index, value) pair, and the driver folds them left by index.
    * So each scalar repeats bit for bit and equals the fold of one
    * block per partition. Meant for scalar or short-vector values. */
  private[damds] def blockReduce[T: ClassTag](rdd: RDD[(Int, T)])(
      op: (T, T) => T): T =
    orderedAggregate(rdd)(_.toVector)(_ ++ _)
      .getOrElse(throw new UnsupportedOperationException("empty collection"))
      .sortBy(_._1).map(_._2).reduceLeft(op)

  /** Shuffle-based allgather: every destination block key receives each
    * source block once and assembles the full flat N×d array locally.
    * One shuffle of nb·(N×d) doubles per call — identical volume to the
    * reference's broadcast of the gathered X, without the gather. */
  private[damds] def allgather(x: RDD[(Int, Array[Double])], nb: Int,
      part: HashPartitioner, starts: Map[Int, Int], n: Int, d: Int)
      : RDD[(Int, Array[Double])] = {
    x.flatMap { case (i, a) =>
      Iterator.range(0, nb).map(j => (j, (i, a)))
    }.groupByKey(part).mapValues { pieces =>
      val out = new Array[Double](n * d)
      pieces.foreach { case (i, a) =>
        System.arraycopy(a, 0, out, starts(i) * d, a.length)
      }
      out
    }
  }

  /** Split a driver-resident flat N×d array into row blocks, at most
    * one partition per core (entry/test convenience — at true scale
    * initialize blocks directly, e.g. seeded per block). Not
    * co-partitioned with the distance blocks: `run` only allgathers its
    * init, which ships every block to every partition anyway. */
  def split(spark: SparkSession, x: Array[Double], meta: Seq[BlockMeta],
      d: Int): RDD[(Int, Array[Double])] =
    spark.sparkContext.parallelize(
      meta.map(m => (m.index,
        java.util.Arrays.copyOfRange(x, m.start * d,
          (m.start + m.blockRows) * d))),
      math.min(meta.size, spark.sparkContext.defaultParallelism))

  /** Driver-side assemble of the final embedding (one-time, bounded by
    * the caller's own memory budget — the iterations never do this). */
  def gather(xb: RDD[(Int, Array[Double])], meta: Seq[BlockMeta],
      n: Int, d: Int): Array[Double] = {
    val starts = meta.map(m => m.index -> m.start).toMap
    val out = new Array[Double](n * d)
    xb.collect().foreach { case (i, a) =>
      System.arraycopy(a, 0, out, starts(i) * d, a.length)
    }
    out
  }

  /** The CG's opening state for one row block: x0's rows, the
    * residual r0 = BC − V·x0 (reference calculateMMRBC,
    * CG.java:361-377) and r0ᵀr0, the block's share of the first rTr. */
  private[damds] final case class CgStart(x: Array[Double],
      r: Array[Double], rTr: Double)

  /** `CgStart` of one block from the fully gathered x0 and the block's
    * BC: x0's rows are sliced out of `xAll`, so the pass that computes
    * BC opens the CG without a join on the X blocks. */
  private[damds] def cgStartBlock(w: WeightBlock, v: Array[Double],
      xAll: Array[Double], bc: Array[Double], d: Int): CgStart = {
    val mm = mmBlock(w, v, xAll, d)
    val r = new Array[Double](bc.length)
    var i = 0
    while (i < bc.length) { r(i) = bc(i) - mm(i); i += 1 }
    CgStart(java.util.Arrays.copyOfRange(xAll, w.start * d,
      (w.start + w.blockRows) * d), r, selfDot(r))
  }

  /** N10/I2 with distributed vectors: same loop structure and break
    * semantics as `Damds.cg` (reference CG.java:74-153 — the break flag
    * is evaluated mid-body and honored at the loop close, so the final
    * iteration still completes its r/p updates). Scalars differ from
    * the gathered path only in floating summation order (per-block
    * partials folded in block-index order vs one driver loop).
    *
    * Two jobs per iteration and no others: pAp (whose job also
    * materializes V·p) and rTr₁ (whose job materializes and
    * checkpoints the updated (x, p, r) blocks). α must be known before
    * rTr₁ exists, so the two cannot merge without a different
    * recurrence, and with it different floating-point results.
    *  - `start` and `rTr0` come from the caller's σ/BC pass, which
    *    computed r0 = BC − V·x0 and folded its rTr with the stress;
    *  - the p-direction update `p₁ = r + βp` is a lazy O(N·d) map over
    *    the checkpoint, recomputed per consumer;
    *  - the returned X is a lazy view over the final checkpoint
    *    (`holder`), which the caller unpersists once its successor is
    *    materialized.
    * Each reduction is one single-stage `blockReduce` that folds the
    * per-block partials in block-index order, so the scalar sequences
    * (rTr, pAp, alpha, beta) repeat bit for bit. */
  private[damds] final case class CgResult(
      x: RDD[(Int, Array[Double])],
      holder: RDD[(Int, (Array[Double], Array[Double], Array[Double]))],
      cgCount: Int)

  private[damds] def cg(
      vb: RDD[(Int, (WeightBlock, Array[Double]))],
      start: RDD[(Int, CgStart)], rTr0: Double,
      nb: Int, part: HashPartitioner, starts: Map[Int, Int],
      n: Int, d: Int, cgIter: Int, cgThreshold: Double, exactCG: Boolean)
      : CgResult = {
    def mmD(p: RDD[(Int, Array[Double])]): RDD[(Int, Array[Double])] =
      vb.join(allgather(p, nb, part, starts, n, d), part)
        .mapValues { case ((w, v), pAll) => mmBlock(w, v, pAll, d) }
    // state: (x, p, r) blocks, co-partitioned with vb; every join below
    // is narrow (same partitioner), the only shuffle per step is the
    // allgather inside mmD. p = r = r0 to start; nothing below writes
    // into an array it did not allocate, so p may share r0's
    var holder = pinned(start.mapValues(c => (c.x, c.r, c.r.clone())))
    var state: RDD[(Int, (Array[Double], Array[Double], Array[Double]))] =
      holder
    var rTr = rTr0
    val testEnd = rTr * cgThreshold
    var cgCount = 0
    var break = false
    while (cgCount < cgIter && !break) {
      val ap = mmD(state.mapValues(_._2))
        .persist(StorageLevel.MEMORY_AND_DISK)
      cgCount += 1
      val pAp = blockReduce(state.join(ap, part)
        .mapValues { case ((_, p, _), apA) => dot(p, apA) })(_ + _)
      val alpha = rTr / pAp
      if (rTr < testEnd && !exactCG) break = true
      val updated = pinned(state.join(ap, part).mapValues {
        case ((xA, pA, rA), apA) =>
          val x1 = xA.clone(); val r1 = rA.clone()
          var i = 0
          while (i < x1.length) { x1(i) += alpha * pA(i); i += 1 }
          i = 0
          while (i < r1.length) { r1(i) -= alpha * apA(i); i += 1 }
          (x1, pA, r1)
      })
      // this reduction is the job that materializes (and checkpoints)
      // `updated` — the scalar it returns is needed for beta anyway
      val rTr1 = blockReduce(updated.mapValues(t => selfDot(t._3)))(_ + _)
      val beta = rTr1 / rTr
      rTr = rTr1
      val prevHolder = holder
      holder = updated
      state = updated.mapValues { case (x1, pA, r1) =>
        val p1 = new Array[Double](pA.length)
        var i = 0
        while (i < p1.length) { p1(i) = r1(i) + beta * pA(i); i += 1 }
        (x1, p1, r1)
      }
      prevHolder.unpersist(false)
      ap.unpersist(false)
    }
    CgResult(state.mapValues(_._1), holder, cgCount)
  }

  /** A σ/BC pass that has also opened the CG on its BC: per block, the
    * pass's σ partials and the `CgStart`. */
  private type Opening = RDD[(Int, (Array[Double], CgStart))]

  /** Full annealed run (I3) with X distributed: `Damds.run`'s control
    * flow (temperature loop → stress loop → CG) where every N×d operand
    * lives as co-partitioned row blocks.
    *
    * `initX` builds the initial X blocks, in any partitioning, from the
    * block metadata this run collects anyway, so a caller holding a
    * flat N×d init splits it (`split`) without a metadata job of its
    * own, which would decode every N×N block one extra time. A caller
    * with block-structured init ignores the argument. */
  def run(spark: SparkSession, rawBlocks: Dataset[DamdsBlock], n: Int,
      cfg: Damds.Config)(
      initX: Seq[BlockMeta] => RDD[(Int, Array[Double])])
      : RunResultD = {
    val d = cfg.targetDim
    // A6 statistics and the block metadata in one job; the stats fold
    // as `Damds.statistics` folds them (in order within a partition,
    // then in partition-index order)
    val (st, unsorted) = orderedAggregate(rawBlocks.rdd) { it =>
      val b0 = it.next()
      var s = stats(b0.dist)
      val ms = Vector.newBuilder[BlockMeta]
      ms += BlockMeta(b0.index, b0.start, b0.blockRows)
      it.foreach { b =>
        s = s combine stats(b.dist)
        ms += BlockMeta(b.index, b.start, b.blockRows)
      }
      (s, ms.result())
    } { case ((s1, m1), (s2, m2)) => (s1 combine s2, m1 ++ m2) }
      .getOrElse(throw new IllegalArgumentException("no DA-MDS blocks"))
    val meta = unsorted.sortBy(_.index)
    val invs = 1.0 / st.sumSq
    val nb = meta.size
    val starts = meta.map(m => m.index -> m.start).toMap
    // one partition per core, not per block (see the header); the
    // blocks' keying shuffle reads them coalesced to as many tasks
    val part = new HashPartitioner(
      math.min(nb, spark.sparkContext.defaultParallelism))
    // the blocks keyed and co-partitioned with every X block, with the
    // N8 floor repair and the N11 Sammon weighting of `Damds.run`
    // applied per block; the first σ/BC job materializes them
    val positiveMin = st.positiveMin
    val sammonFactor = cfg.sammonFactor
    val avgDist = st.sum / st.count
    val blocksK = rawBlocks.rdd.coalesce(part.numPartitions)
      .map(b => (b.index, b)).partitionBy(part)
      .mapValues { b =>
        val repaired = b.copy(dist = floorRepair(b.dist, positiveMin))
        if (sammonFactor > 0.0)
          repaired.copy(sammonFactor = sammonFactor, avgDist = avgDist)
        else repaired
      }.persist(StorageLevel.MEMORY_AND_DISK)
    val vbK = blocksK.mapValues(b => (weightView(b), vArray(b)))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // r21 (guide §2.4): every consumer of a given X joins one persisted
    // allgather instead of re-shuffling it.
    def gatherX(x: RDD[(Int, Array[Double])]): RDD[(Int, Array[Double])] =
      allgather(x, nb, part, starts, n, d)
        .persist(StorageLevel.MEMORY_AND_DISK)

    def stressG(xAll: RDD[(Int, Array[Double])], tCur: Double): Double =
      blockReduce(blocksK.join(xAll, part)
        .mapValues { case (b, xA) => stressSigma(b, xA, d, tCur) })(_ + _) * invs

    // the pass that opens the next CG and its folded rTr, set by
    // `openNext` and taken by the CG
    var open: Opening = null
    var openRTr = 0.0

    // One N×N pass over xAll that yields σ partials and a BC per block
    // (`kernel`), and opens the next CG on that BC in the same task:
    // blocksK ⋈ vbK ⋈ xAll are co-partitioned, so the join is narrow.
    // Where a pass needs σ and BC at the same point it is the fused
    // stressBcBlock (r21); where the temperature advances after a
    // post-stress σ, the triple stressStressBcBlock (r22). Returns the
    // σ sums. The pass's scalars (σ partials…, rTr) fold together in
    // block-index order: each component sums in the same order as a
    // reduction of its own would, and the one job materializes the pass
    def openNext(xAll: RDD[(Int, Array[Double])])(
        kernel: (DamdsBlock, Array[Double]) => (Array[Double], Array[Double]))
        : Array[Double] = {
      open = blocksK.join(vbK, part).join(xAll, part).mapValues {
        case ((b, (w, v)), xA) =>
          val (sigmas, bc) = kernel(b, xA)
          (sigmas, cgStartBlock(w, v, xA, bc, d))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      val sums = blockReduce(open.mapValues { case (s, c) => s :+ c.rTr })(
        vectorSum)
      openRTr = sums.last
      sums.init
    }

    def sigmaBc(tCur: Double)(b: DamdsBlock, xA: Array[Double]) = {
      val (s, bc) = stressBcBlock(b, xA, d, tCur)
      (Array(s), bc)
    }

    try {
      val tMax = st.vmax / math.sqrt(2.0 * d)
      var state = Damds.State(
        tCur = cfg.alpha * tMax,
        tMin = cfg.tMinFactor * st.positiveMin / math.sqrt(2.0 * d),
        stress = 0.0, preStress = 0.0, tItr = 0, stressItr = 0, cgCount = 0)
      // X as self-contained pinned blocks: the init, then each CG's
      // result. The job that runs X's allgather materializes it
      var xb = pinned(initX(meta).mapValues(identity))
      var xAll = gatherX(xb)
      val log = scala.collection.mutable.ArrayBuffer[Double]()
      var done = false
      // r22: under a FIXED-COUNT stress schedule (maxStressLoops > 0)
      // the loop's control flow never depends on a stress value, so
      // the evaluation point following every post-stress is known
      // before the post pass runs — the post pass can compute the next
      // (σ, BC) in the same N×N sweep (stressStressBcBlock when the
      // temperature advances, the r21 pair kernel when the stress loop
      // continues), and the plain post-only pass survives solely for
      // the last temperature. Threshold-driven schedules
      // (maxStressLoops <= 0) branch on the post value itself, so they
      // keep the r21 flow — speculation there could waste a BC pass.
      val spec = cfg.maxStressLoops > 0
      // σ·invs at the next temperature, when the post pass that opened
      // its first CG (`open`) computed it
      var nextPre = 0.0
      while (!done) {
        // preStress and the first BC (and CG opening) of this
        // temperature share one block pass and one job
        val pre =
          if (open == null) openNext(xAll)(sigmaBc(state.tCur))(0) * invs
          else nextPre
        state = state.copy(preStress = pre)
        var diffStress = cfg.threshold + 1
        var stressIterations = 0
        var continueStress = true
        while (continueStress &&
            (diffStress >= cfg.threshold || cfg.maxStressLoops > 0)) {
          if (open == null) {
            val tCur = state.tCur
            openNext(xAll) { (b, xA) =>
              (Array.empty[Double], bcBlock(b, xA, d, tCur))
            }
          }
          val opened = open
          open = null
          val res = cg(vbK, opened.mapValues(_._2), openRTr, nb, part,
            starts, n, d, cfg.cgIter, cfg.cgThreshold, cfg.exactCG)
          // the post job runs newX's allgather, which materializes the
          // pinned copy; after it the CG's checkpoint can go
          val newXb = pinned(res.x.mapValues(identity))
          val newXAll = gatherX(newXb)
          // deterministic speculation targets (spec only)
          val willContinueStress =
            spec && stressIterations + 1 < cfg.maxStressLoops
          val isLastTemp =
            (cfg.maxTempLoops >= 0 && state.tItr == cfg.maxTempLoops) ||
              (cfg.maxTempLoops < 0 && state.tCur == 0)
          val post =
            if (willContinueStress) {
              // next iteration needs BC at the SAME tCur over newX —
              // the r21 pair kernel gives post-σ + that BC in one pass
              openNext(newXAll)(sigmaBc(state.tCur))(0) * invs
            } else if (spec && !isLastTemp) {
              // stress loop ends, temperature advances: post-σ@tCur +
              // (σ, BC)@tNext over the same newX in ONE pass
              val tCur = state.tCur
              val tNext = Damds.cooledTemp(tCur, state.tMin, cfg.alpha)
              val Array(sigma, sigmaNext) = openNext(newXAll) { (b, xA) =>
                val (sc, sn, bc) = stressStressBcBlock(b, xA, d, tCur, tNext)
                (Array(sc, sn), bc)
              }
              nextPre = sigmaNext * invs
              sigma * invs
            } else stressG(newXAll, state.tCur)
          res.holder.unpersist(false)
          opened.unpersist(false)
          xb.unpersist(false)
          xAll.unpersist(false)
          xb = newXb
          xAll = newXAll
          diffStress = state.preStress - post
          state = state.copy(stress = post, preStress = post,
            stressItr = state.stressItr + 1,
            cgCount = state.cgCount + res.cgCount)
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
            tCur = Damds.cooledTemp(state.tCur, state.tMin, cfg.alpha))
        }
      }
      // an opened pass can only be left over if the done-decision ever
      // diverged from isLastTemp — defensive cleanup, not an expected
      // path
      if (open != null) open.unpersist(false)
      xAll.unpersist(false)
      // xb is pinned and materialized, and holds no CG state: the
      // caller unpersists it (RunResultD.xBlocks)
      RunResultD(xb, meta, state, log.toSeq)
    } finally {
      blocksK.unpersist()
      vbK.unpersist()
    }
  }
}
