package graft.damds

import graft.collectives.Collectives.orderedReduce
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
  *    shipped once to every block's partition through one shuffle and
  *    assembled into the full N×d array locally — the same total
  *    volume a broadcast would move (every task needs all of X because
  *    V and B(Z) are dense), but peer-to-peer, with no single node
  *    holding an assembly role and no driver-memory cap;
  *  - **CG vector updates are per-block map jobs**: x += αp, r −= αAp,
  *    p = r + βp run on co-partitioned (x, p, r) blocks (narrow joins,
  *    no shuffle) — only the SCALARS α, β, rᵀr cross the driver, via
  *    `Collectives.orderedReduce` over per-block partial dots (A9): one
  *    single-stage job whose partials the driver folds in block-index
  *    order, so every scalar — and with it X and the stress — repeats
  *    bit for bit from run to run;
  *  - **plan-reset discipline**: each CG step's state is
  *    localCheckpoint-pinned, so lineage stays O(1) per step instead of
  *    accumulating one join chain per iteration (same reason the CC
  *    rounds checkpoint — task serialization goes superlinear
  *    otherwise).
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

  /** Split a driver-resident flat N×d array into co-partitioned row
    * blocks (entry/test convenience — at true scale initialize blocks
    * directly, e.g. seeded per block). */
  def split(spark: SparkSession, x: Array[Double], meta: Seq[BlockMeta],
      d: Int, part: HashPartitioner): RDD[(Int, Array[Double])] =
    spark.sparkContext.parallelize(
      meta.map(m => (m.index,
        java.util.Arrays.copyOfRange(x, m.start * d,
          (m.start + m.blockRows) * d))),
      meta.size).partitionBy(part)

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

  /** N10/I2 with distributed vectors: same loop structure and break
    * semantics as `Damds.cg` (reference CG.java:74-153 — the break flag
    * is evaluated mid-body and honored at the loop close, so the final
    * iteration still completes its r/p updates). Scalars differ from
    * the gathered path only in floating summation order (per-block
    * partials folded in block-index order vs one driver loop).
    *
    * r21 orchestration diet (guide §2.4 — remove shuffles/jobs outright):
    *  - `x0All` is the caller's already-persisted allgather of x0, so
    *    the first matvec does not re-shuffle the X the caller just
    *    gathered for the stress/BC pass;
    *  - each iteration's (x,p,r) checkpoint is the `updated` RDD itself
    *    (materialized by the rTr1 reduction that must run anyway); the
    *    p-direction update `p₁ = r + βp` is a lazy O(N·d) map over it,
    *    so the old per-iteration `state.count()` job is gone;
    *  - the returned X is a lazy view over the final checkpoint
    *    (`holder`), which the caller unpersists once its successor is
    *    materialized — the old `xOut.count()` job is gone too.
    * Scalar sequences (rTr, pAp, alpha, beta) are computed from the
    * same per-block partials as the r20 loop; each reduction is one
    * single-stage `orderedReduce` that folds the partials in
    * block-index order, so the sequences repeat bit for bit. */
  private[damds] final case class CgResult(
      x: RDD[(Int, Array[Double])],
      holder: RDD[(Int, (Array[Double], Array[Double], Array[Double]))],
      cgCount: Int)

  private[damds] def cg(
      vb: RDD[(Int, (WeightBlock, Array[Double]))],
      x0: RDD[(Int, Array[Double])],
      bcB: RDD[(Int, Array[Double])],
      x0All: RDD[(Int, Array[Double])],
      nb: Int, part: HashPartitioner, starts: Map[Int, Int],
      n: Int, d: Int, cgIter: Int, cgThreshold: Double, exactCG: Boolean)
      : CgResult = {
    def mmD(p: RDD[(Int, Array[Double])]): RDD[(Int, Array[Double])] =
      vb.join(allgather(p, nb, part, starts, n, d), part)
        .mapValues { case ((w, v), pAll) => mmBlock(w, v, pAll, d) }
    // state: (x, p, r) blocks, co-partitioned with vb; every join below
    // is narrow (same partitioner), the only shuffle per step is the
    // allgather inside mmD
    val mmr = vb.join(x0All, part)
      .mapValues { case ((w, v), pAll) => mmBlock(w, v, pAll, d) }
    var holder = pinned(x0.join(bcB, part).join(mmr, part).mapValues {
      case ((xA, bcA), mmA) =>
        val p = new Array[Double](bcA.length)
        var i = 0
        while (i < bcA.length) { p(i) = bcA(i) - mmA(i); i += 1 }
        (xA, p, p.clone())
    })
    var state: RDD[(Int, (Array[Double], Array[Double], Array[Double]))] =
      holder
    var rTr = orderedReduce(state.values.map(t => selfDot(t._3)))(_ + _)
    val testEnd = rTr * cgThreshold
    var cgCount = 0
    var break = false
    while (cgCount < cgIter && !break) {
      val ap = mmD(state.mapValues(_._2))
        .persist(StorageLevel.MEMORY_AND_DISK)
      cgCount += 1
      val pAp = orderedReduce(state.join(ap, part).values
        .map { case ((_, p, _), apA) => dot(p, apA) })(_ + _)
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
      val rTr1 = orderedReduce(updated.values.map(t => selfDot(t._3)))(_ + _)
      val beta = rTr1 / rTr
      rTr = rTr1
      val prevHolder = holder
      holder = updated
      // lazy O(N·d) view over the checkpoint — recomputed per consumer,
      // which is cheaper than the extra materialization job it replaces
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

  /** Full annealed run (I3) with X distributed: `Damds.run`'s control
    * flow (temperature loop → stress loop → CG) where every N×d operand
    * lives as co-partitioned row blocks.
    *
    * `initX` builds the initial X blocks from the block metadata and
    * partitioner this run collects anyway, so a caller holding a flat
    * N×d init splits it (`split`) without a metadata job of its own,
    * which would decode every N×N block one extra time. A caller with
    * block-structured init ignores both arguments. */
  def run(spark: SparkSession, rawBlocks: Dataset[DamdsBlock], n: Int,
      cfg: Damds.Config)(
      initX: (Seq[BlockMeta], HashPartitioner) => RDD[(Int, Array[Double])])
      : RunResultD = {
    val d = cfg.targetDim
    val st = Damds.statistics(rawBlocks)
    val invs = 1.0 / st.sumSq
    val repaired = Damds.updateDistances(rawBlocks, st.positiveMin)
    val blocks = (
      if (cfg.sammonFactor > 0.0)
        repaired.map(b => b.copy(sammonFactor = cfg.sammonFactor,
          avgDist = st.sum / st.count))(repaired.encoder)
      else repaired
    )
    // key the blocks first and read the (tiny) metadata through the
    // persisted RDD — collecting meta from the raw Dataset would run
    // the whole decode chain one extra time
    val keyed = blocks.rdd.map(b => (b.index, b))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val meta = keyed
      .map { case (i, b) => BlockMeta(i, b.start, b.blockRows) }.collect()
      .sortBy(_.index).toSeq
    val nb = meta.size
    val starts = meta.map(m => m.index -> m.start).toMap
    val part = new HashPartitioner(nb)
    val blocksK = keyed.partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    blocksK.count()
    keyed.unpersist(false)
    val vbK = blocksK.mapValues(b => (weightView(b), vArray(b)))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // r21 (guide §2.4): every consumer of a given X joins one persisted
    // allgather instead of re-shuffling it — stress, BC and the CG's
    // first matvec previously each ran their own identical allgather.
    def gatherX(x: RDD[(Int, Array[Double])]): RDD[(Int, Array[Double])] =
      allgather(x, nb, part, starts, n, d)
        .persist(StorageLevel.MEMORY_AND_DISK)

    def stressG(xAll: RDD[(Int, Array[Double])], tCur: Double): Double =
      orderedReduce(blocksK.join(xAll, part).values
        .map { case (b, xA) => stressSigma(b, xA, d, tCur) })(_ + _) * invs

    // fused σ+BC evaluation (one N×N pass, stressBcBlock): used where a
    // stress value and a BC at the same (x, tCur) are both needed —
    // i.e. the first stress iteration of every temperature step
    def sigmaBcG(xAll: RDD[(Int, Array[Double])], tCur: Double)
        : RDD[(Int, (Double, Array[Double]))] =
      blocksK.join(xAll, part)
        .mapValues { case (b, xA) => stressBcBlock(b, xA, d, tCur) }
        .persist(StorageLevel.MEMORY_AND_DISK)

    def bcG(xAll: RDD[(Int, Array[Double])], tCur: Double)
        : RDD[(Int, Array[Double])] =
      blocksK.join(xAll, part)
        .mapValues { case (b, xA) => bcBlock(b, xA, d, tCur) }

    // r22 triple fusion (VERDICT r21 next 6): post-stress σ at tCur
    // AND the next evaluation point's (σ, BC) at tNext in ONE N×N
    // pass — see stressStressBcBlock
    def sigmaSigmaBcG(xAll: RDD[(Int, Array[Double])], tCur: Double,
        tNext: Double): RDD[(Int, (Double, Double, Array[Double]))] =
      blocksK.join(xAll, part)
        .mapValues { case (b, xA) => stressStressBcBlock(b, xA, d, tCur, tNext) }
        .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      val tMax = st.vmax / math.sqrt(2.0 * d)
      var state = Damds.State(
        tCur = cfg.alpha * tMax,
        tMin = cfg.tMinFactor * st.positiveMin / math.sqrt(2.0 * d),
        stress = 0.0, preStress = 0.0, tItr = 0, stressItr = 0, cgCount = 0)
      var xb = pinned(initX(meta, part).partitionBy(part).mapValues(identity))
      xb.count()
      var xbHolder: RDD[_] = xb // backing cache of the current xb view
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
      // (σ@tCur, BC@tCur) over the CURRENT xAll, carried from the
      // previous temperature's speculative pass: (view, persisted holder)
      var carried: (RDD[(Int, (Double, Array[Double]))], RDD[_]) = null
      while (!done) {
        // preStress and the first BC of this temperature share one
        // fused block pass (the reduction below materializes it) —
        // or arrive precomputed from the previous post pass
        var fused: RDD[(Int, (Double, Array[Double]))] = null
        var fusedHolder: RDD[_] = null
        if (carried != null) {
          fused = carried._1; fusedHolder = carried._2; carried = null
        } else {
          fused = sigmaBcG(xAll, state.tCur); fusedHolder = fused
        }
        state = state.copy(preStress =
          orderedReduce(fused.values.map(_._1))(_ + _) * invs)
        var diffStress = cfg.threshold + 1
        var stressIterations = 0
        var continueStress = true
        while (continueStress &&
            (diffStress >= cfg.threshold || cfg.maxStressLoops > 0)) {
          val bcB =
            if (fused != null) fused.mapValues(_._2)
            else bcG(xAll, state.tCur)
              .persist(StorageLevel.MEMORY_AND_DISK)
          val bcHolder: RDD[_] = if (fused != null) fusedHolder else bcB
          val res = cg(vbK, xb, bcB, xAll, nb, part, starts, n, d,
            cfg.cgIter, cfg.cgThreshold, cfg.exactCG)
          fused = null; fusedHolder = null
          // the CG state is checkpointed, so its inputs can be released
          // as soon as the post-stress job materializes the new X
          val newXAll = gatherX(res.x)
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
              val f2 = sigmaBcG(newXAll, state.tCur)
              val p = orderedReduce(f2.values.map(_._1))(_ + _) * invs
              fused = f2; fusedHolder = f2
              p
            } else if (spec && !isLastTemp) {
              // stress loop ends, temperature advances: post-σ@tCur +
              // (σ, BC)@tNext over the same newX in ONE pass
              val tNext = Damds.cooledTemp(state.tCur, state.tMin, cfg.alpha)
              val f3 = sigmaSigmaBcG(newXAll, state.tCur, tNext)
              val p = orderedReduce(f3.values.map(_._1))(_ + _) * invs
              carried = (f3.mapValues(t => (t._2, t._3)), f3)
              p
            } else stressG(newXAll, state.tCur)
          val prevXHolder = xbHolder
          val prevXAll = xAll
          xb = res.x
          xbHolder = res.holder
          xAll = newXAll
          prevXHolder.unpersist(false)
          prevXAll.unpersist(false)
          bcHolder.unpersist(false)
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
      // a carried pass can only leak if the done-decision ever diverged
      // from isLastTemp — defensive cleanup, not an expected path
      if (carried != null) carried._2.unpersist(false)
      // hand back a self-contained pinned X (callers unpersist
      // RunResultD.xBlocks; the (x,p,r) holder must not leak past run)
      val xFinal = pinned(xb.mapValues(identity))
      xFinal.count()
      xAll.unpersist(false)
      xbHolder.unpersist(false)
      RunResultD(xFinal, meta, state, log.toSeq)
    } finally {
      blocksK.unpersist()
      vbK.unpersist()
    }
  }
}
