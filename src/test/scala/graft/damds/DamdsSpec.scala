package graft.damds

import graft.TestSpark
import graft.damds.DamdsKernels._
import graft.mm.FixedPoint
import org.apache.spark.sql.{Dataset, Encoders}
import org.scalatest.funsuite.AnyFunSuite

class DamdsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ---- synthetic fixture: n seeded 3-D points, normalized distances ----
  private val n = 48
  private val origDim = 3
  private lazy val points: Array[Double] = {
    val rnd = new scala.util.Random(11)
    Array.fill(n * origDim)(rnd.nextDouble())
  }
  private lazy val trueDist: Array[Double] = {
    val d = new Array[Double](n * n)
    var mx = 0.0
    for (i <- 0 until n; j <- 0 until n) {
      d(i * n + j) = euclidean(points, i, j, origDim)
      mx = math.max(mx, d(i * n + j))
    }
    d.map(_ / mx)
  }
  private lazy val distShorts: Array[Short] =
    trueDist.map(FixedPoint.encode)

  private def mkBlocks(numSplits: Int): Seq[DamdsBlock] = {
    graft.mm.MatrixIO.rowSplits(n, numSplits).zipWithIndex.map {
      case ((start, rows), idx) =>
        DamdsBlock(idx, start, rows, n,
          java.util.Arrays.copyOfRange(distShorts, start * n,
            (start + rows) * n),
          Array.empty[Short]) // constant weight 1.0
    }
  }

  private def blocksDs(numSplits: Int): Dataset[DamdsBlock] =
    spark.createDataset(mkBlocks(numSplits))(Encoders.product[DamdsBlock])

  test("statistics: count/max/positiveMin over all entries (A6)") {
    val st = Damds.statistics(blocksDs(4))
    assert(st.count == n.toLong * n)
    assert(math.abs(st.vmax - 1.0) < 1e-3)
    assert(st.positiveMin > 0 && st.positiveMin < 1.0)
    assert(st.vmin == 0.0) // diagonal
  }

  test("floor repair leaves no value in (0, positiveMin) (N8)") {
    val st = Damds.statistics(blocksDs(4))
    val repaired = floorRepair(distShorts, st.positiveMin)
    val eps = 1e-12
    repaired.foreach { s =>
      val d = FixedPoint.decode(s)
      assert(d < 0 || d >= st.positiveMin - FixedPoint.InvShortMax - eps)
    }
  }

  test("vArray with constant weights = n (1 + (n-1) off-diagonals) (A8)") {
    mkBlocks(3).foreach { b =>
      vArray(b).foreach(v => assert(v == n.toDouble))
    }
  }

  test("mm kernel equals dense V*x multiply (N2)") {
    val d = 2
    val rnd = new scala.util.Random(3)
    val x = Array.fill(n * d)(rnd.nextGaussian())
    val blocks = mkBlocks(4)
    val vs = blocks.map(vArray)
    // dense V: V_ii = v_i, V_ij = -w_ij = -1
    val got = blocks.zip(vs).flatMap { case (b, v) =>
      mmBlock(WeightBlock(b.index, b.start, b.blockRows, b.n, b.weight),
        v, x, d)
    }.toArray
    val want = new Array[Double](n * d)
    for (i <- 0 until n; k <- 0 until d) {
      var s = n.toDouble * x(i * d + k) // V_ii = n
      for (j <- 0 until n if j != i) s -= x(j * d + k)
      want(i * d + k) = s
    }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("bcBlock equals explicit BofZ build + multiply (N3)") {
    val d = 2
    val rnd = new scala.util.Random(5)
    val x = Array.fill(n * d)(rnd.nextGaussian())
    val tCur = 0.05
    val diff = heatDiff(d, tCur)
    val blocks = mkBlocks(4)
    val got = blocks.flatMap(b => bcBlock(b, x, d, tCur)).toArray
    // naive: build full B then multiply
    val bMat = new Array[Double](n * n)
    for (i <- 0 until n) {
      var diag = 0.0
      for (j <- 0 until n if j != i) {
        val origD = distShorts(i * n + j) * FixedPoint.InvShortMax
        val dist = euclidean(x, i, j, d)
        val bij =
          if (origD >= 0 && dist >= 1e-10 && diff < origD)
            -(origD - diff) / dist
          else 0.0
        bMat(i * n + j) = bij
        diag -= bij
      }
      bMat(i * n + i) = diag
    }
    val want = new Array[Double](n * d)
    for (i <- 0 until n; k <- 0 until d) {
      var s = 0.0
      for (j <- 0 until n) s += bMat(i * n + j) * x(j * d + k)
      want(i * d + k) = s
    }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("mmBlock/bcBlock d=3 register path is BIT-identical to the generic ascending-gc loop (r20)") {
    // the d==3 fast path keeps each output component's FP op sequence
    // (ascending gc, diagonal term last) and only moves the
    // accumulator from an `out` array slot into a register — so
    // equality against an in-spec replica of the GENERIC loop is
    // EXACT (==, not tolerance). This is the contract every
    // golden-pinned n-query and the DD32K stress checksum ride on.
    val d = 3
    val rnd = new scala.util.Random(13)
    val x = Array.fill(n * d)(rnd.nextGaussian())
    val tCur = 0.05
    val diff = heatDiff(d, tCur)
    val blocks = mkBlocks(5)
    // generic-loop replicas (the pre-r20 kernel bodies, verbatim order)
    def mmGeneric(b: WeightBlock, v: Array[Double]): Array[Double] = {
      val out = new Array[Double](b.blockRows * d)
      for (localRow <- 0 until b.blockRows) {
        val globalRow = localRow + b.start
        val rowOff = localRow * d
        for (gc <- 0 until b.n if gc != globalRow) {
          val weight = b.w(localRow, gc)
          if (weight != 0)
            for (k <- 0 until d) out(rowOff + k) -= weight * x(gc * d + k)
        }
        for (k <- 0 until d)
          out(rowOff + k) += v(localRow) * x(globalRow * d + k)
      }
      out
    }
    def bcGeneric(b: DamdsBlock): Array[Double] = {
      val out = new Array[Double](b.blockRows * d)
      for (localRow <- 0 until b.blockRows) {
        val globalRow = localRow + b.start
        var diag = 0.0
        val rowOff = localRow * d
        for (gc <- 0 until b.n if gc != globalRow) {
          val origD = b.dist(localRow * b.n + gc) * FixedPoint.InvShortMax
          val weight = b.w(localRow, gc)
          if (origD >= 0 && weight != 0) {
            val dist = euclidean(x, globalRow, gc, d)
            val bij =
              if (dist >= 1.0e-10 && diff < origD)
                weight * -1.0 * (origD - diff) / dist
              else 0.0
            if (bij != 0.0) {
              for (k <- 0 until d) out(rowOff + k) += bij * x(gc * d + k)
              diag -= bij
            }
          }
        }
        for (k <- 0 until d)
          out(rowOff + k) += diag * x(globalRow * d + k)
      }
      out
    }
    blocks.foreach { b =>
      val wb = WeightBlock(b.index, b.start, b.blockRows, b.n, b.weight)
      val v = vArray(b)
      assert(mmBlock(wb, v, x, d).toSeq == mmGeneric(wb, v).toSeq,
        s"mmBlock d=3 diverged from the generic loop on block ${b.index}")
      assert(bcBlock(b, x, d, tCur).toSeq == bcGeneric(b).toSeq,
        s"bcBlock d=3 diverged from the generic loop on block ${b.index}")
    }
  }

  test("stressBcBlock is BIT-identical to (stressSigma, bcBlock) in every weight mode (r21)") {
    // the fused kernel interleaves the two accumulations in one
    // (localRow asc, gc asc) sweep without touching either's op order,
    // so equality is EXACT (==, not tolerance) — this is what lets the
    // annealed loops evaluate σ and BC from one N×N pass while keeping
    // every golden n-query and the probe stress checksums unchanged.
    val rnd = new scala.util.Random(31)
    for (d <- Seq(2, 3); tCur <- Seq(0.0, 0.05, 0.4)) {
      val x = Array.fill(n * d)(rnd.nextGaussian())
      val wCells = Array.fill(n * n)((rnd.nextInt(Short.MaxValue)).toShort)
      // inject missing cells (negative shorts) to exercise the
      // origD < 0 skip on both accumulation paths
      val distHoles = distShorts.clone()
      for (_ <- 0 until 64)
        distHoles(rnd.nextInt(distHoles.length)) = (-1 - rnd.nextInt(5)).toShort
      val rowW = Array.fill(n)(rnd.nextDouble() + 0.1)
      val variants = mkBlocks(5).flatMap { b0 =>
        val b = b0.copy(dist = java.util.Arrays.copyOfRange(
          distHoles, b0.start * n, (b0.start + b0.blockRows) * n))
        Seq(
          b, // constant weight 1.0
          b.copy(weight = java.util.Arrays.copyOfRange(
            wCells, b.start * n, (b.start + b.blockRows) * n)),
          b.copy(rowWeight = rowW),
          b.copy(sammonFactor = 0.001, avgDist = 0.37))
      }
      variants.foreach { b =>
        val (sig, out) = stressBcBlock(b, x, d, tCur)
        assert(sig == stressSigma(b, x, d, tCur),
          s"fused sigma diverged (d=$d tCur=$tCur block=${b.index})")
        assert(out.toSeq == bcBlock(b, x, d, tCur).toSeq,
          s"fused bc diverged (d=$d tCur=$tCur block=${b.index})")
      }
    }
  }

  test("stressStressBcBlock is BIT-identical to (stressSigma×2, bcBlock) in every weight mode (r22)") {
    // the r22 triple fusion: post-σ at tCur plus the NEXT evaluation
    // point's (σ, BC) at tNext in one sweep. Same argument as the r21
    // pair kernel — three independent accumulators in the identical
    // (localRow asc, gc asc) cell order — so equality is EXACT. tNext
    // covers the cooled-temperature case (tNext < tCur), the
    // stress-loop-continue case (tNext == tCur) and the tCur → 0 tail.
    val rnd = new scala.util.Random(53)
    for (d <- Seq(2, 3); (tCur, tNext) <- Seq(
        (0.4, 0.38), (0.4, 0.4), (0.05, 0.0475), (0.05, 0.0), (0.0, 0.0))) {
      val x = Array.fill(n * d)(rnd.nextGaussian())
      val wCells = Array.fill(n * n)((rnd.nextInt(Short.MaxValue)).toShort)
      val distHoles = distShorts.clone()
      for (_ <- 0 until 64)
        distHoles(rnd.nextInt(distHoles.length)) = (-1 - rnd.nextInt(5)).toShort
      val rowW = Array.fill(n)(rnd.nextDouble() + 0.1)
      val variants = mkBlocks(5).flatMap { b0 =>
        val b = b0.copy(dist = java.util.Arrays.copyOfRange(
          distHoles, b0.start * n, (b0.start + b0.blockRows) * n))
        Seq(
          b, // constant weight 1.0
          b.copy(weight = java.util.Arrays.copyOfRange(
            wCells, b.start * n, (b.start + b.blockRows) * n)),
          b.copy(rowWeight = rowW),
          b.copy(sammonFactor = 0.001, avgDist = 0.37))
      }
      variants.foreach { b =>
        val (sigC, sigN, out) = stressStressBcBlock(b, x, d, tCur, tNext)
        assert(sigC == stressSigma(b, x, d, tCur),
          s"fused post sigma diverged (d=$d tCur=$tCur block=${b.index})")
        assert(sigN == stressSigma(b, x, d, tNext),
          s"fused next sigma diverged (d=$d tNext=$tNext block=${b.index})")
        assert(out.toSeq == bcBlock(b, x, d, tNext).toSeq,
          s"fused next bc diverged (d=$d tNext=$tNext block=${b.index})")
      }
    }
  }

  test("CG solves V*X = B against a dense direct solve (N10/I2)") {
    val d = 2
    val rnd = new scala.util.Random(7)
    val b = Array.fill(n * d)(rnd.nextGaussian())
    val x0 = Array.fill(n * d)(0.0)
    val blocks = blocksDs(4)
    val vblocks = blocks.rdd.map(bl =>
      (WeightBlock(bl.index, bl.start, bl.blockRows, bl.n, bl.weight),
        vArray(bl)))
    val (got, iters) = Damds.cg(spark, vblocks, x0, b, d, n,
      cgIter = 200, cgThreshold = 1e-14, exactCG = false)
    assert(iters > 0)
    // dense solve via Gaussian elimination on V (n x n, per column of B)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) n.toDouble else -1.0)
    for (k <- 0 until d) {
      val rhs = Array.tabulate(n)(i => b(i * d + k))
      val a = v.map(_.clone())
      // forward elimination
      for (p <- 0 until n) {
        val piv = a(p)(p)
        for (r <- p + 1 until n) {
          val f = a(r)(p) / piv
          for (c <- p until n) a(r)(c) -= f * a(p)(c)
          rhs(r) -= f * rhs(p)
        }
      }
      val sol = new Array[Double](n)
      for (r <- n - 1 to 0 by -1) {
        var s = rhs(r)
        for (c <- r + 1 until n) s -= a(r)(c) * sol(c)
        sol(r) = s / a(r)(r)
      }
      for (i <- 0 until n)
        assert(math.abs(got(i * d + k) - sol(i)) < 1e-7,
          s"row $i dim $k: ${got(i * d + k)} vs ${sol(i)}")
    }
  }

  test("stress is ~0 at the true embedding, positive at a random one (N4)") {
    val st = Damds.statistics(blocksDs(4))
    val invs = 1.0 / st.sumSq
    // scale the true points by 1/maxDist so embedded distances match the
    // normalized decoded distances
    var mx = 0.0
    for (i <- 0 until n; j <- 0 until n)
      mx = math.max(mx, euclidean(points, i, j, origDim))
    val xTrue = points.map(_ / mx)
    val s0 = Damds.stress(spark, blocksDs(4), xTrue, origDim, 0.0, invs)
    assert(s0 < 1e-6, s"stress at truth: $s0")
    val rnd = new scala.util.Random(13)
    val xRand = Array.fill(n * origDim)(rnd.nextGaussian())
    val s1 = Damds.stress(spark, blocksDs(4), xRand, origDim, 0.0, invs)
    assert(s1 > s0 * 100)
  }

  test("cooledTemp decays geometrically and snaps to exactly 0 below tMin (N9)") {
    assert(Damds.cooledTemp(1.0, 1e-6, 0.95) == 0.95)
    assert(Damds.cooledTemp(1e-6, 1e-6, 0.95) == 0.0) // 9.5e-7 < tMin
    // the snap is exact zero, not merely small — run() terminates on == 0
    assert(Damds.cooledTemp(1e-300, 1e-6, 0.95) == 0.0)
  }

  test("mm refuses a driver gather beyond maxGatherDoubles") {
    // N=30M x d=3 is ~90M doubles through the driver per CG step —
    // past the documented parity cap; must fail fast with the
    // redesign pointer, not OOM mid-anneal
    val empty = spark.sparkContext
      .emptyRDD[(graft.damds.DamdsKernels.WeightBlock, Array[Double])]
    val e = intercept[IllegalArgumentException] {
      graft.damds.Damds.mm(spark, empty, Array(0.0), d = 3, n = 30000000)
    }
    assert(e.getMessage.contains("maxGatherDoubles"))
  }

  test("distributed CG solves V*X = B to the same solution as the gathered CG") {
    val d = 2
    val rnd = new scala.util.Random(7)
    val b = Array.fill(n * d)(rnd.nextGaussian())
    val x0 = Array.fill(n * d)(0.0)
    val blocks = blocksDs(4)
    val vblocks = blocks.rdd.map(bl =>
      (WeightBlock(bl.index, bl.start, bl.blockRows, bl.n, bl.weight),
        vArray(bl)))
    val (want, _) = Damds.cg(spark, vblocks, x0, b, d, n,
      cgIter = 200, cgThreshold = 1e-14, exactCG = false)
    val meta = mkBlocks(4).map(bl =>
      DamdsDistributed.BlockMeta(bl.index, bl.start, bl.blockRows))
    val part = new org.apache.spark.HashPartitioner(meta.size)
    val starts = meta.map(m => m.index -> m.start).toMap
    val vbK = blocks.rdd.map(bl => (bl.index,
      (WeightBlock(bl.index, bl.start, bl.blockRows, bl.n, bl.weight),
        vArray(bl)))).partitionBy(part)
    val x0b = DamdsDistributed.split(spark, x0, meta, d)
    val x0All = DamdsDistributed.allgather(x0b, meta.size, part, starts, n, d)
      .persist()
    val start = vbK.join(x0All, part)
      .join(DamdsDistributed.split(spark, b, meta, d), part)
      .mapValues { case (((w, v), xA), bA) =>
        DamdsDistributed.cgStartBlock(w, v, xA, bA, d) }
    val rTr0 = graft.collectives.Collectives.orderedReduce(
      start.values.map(_.rTr))(_ + _)
    val res = DamdsDistributed.cg(vbK, start, rTr0,
      meta.size, part, starts, n, d,
      cgIter = 200, cgThreshold = 1e-14, exactCG = false)
    assert(res.cgCount > 0)
    val got = DamdsDistributed.gather(res.x, meta, n, d)
    x0All.unpersist(false)
    res.holder.unpersist(false)
    // both paths solve the same SPD system to 1e-14 residual; they may
    // take different step counts (treeReduce vs driver-loop dot order)
    // but must land on the same solution
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-7, s"$g vs $w")
    }
  }

  test("run dispatches to distributed X above the gather cap and matches the gathered path") {
    val rnd = new scala.util.Random(23)
    val initX = Array.fill(n * 2)(rnd.nextDouble() * 0.1)
    // exactCG pins the CG iteration count so both paths execute the
    // identical superstep schedule; remaining divergence is float
    // summation order in the dots (per-block partials vs driver loop)
    val cfgBase = Damds.Config(targetDim = 2, alpha = 0.3, cgIter = 15,
      exactCG = true, maxStressLoops = 2, maxTempLoops = 2)
    val viaGather = Damds.run(spark, blocksDs(4), initX, n, cfgBase)
    // N×d = 96 doubles > 64 = cap → auto-routes through DamdsDistributed
    val viaDist = Damds.run(spark, blocksDs(4), initX, n,
      cfgBase.copy(maxGatherDoubles = 64L))
    assert(viaDist.state.cgCount == viaGather.state.cgCount)
    assert(viaDist.state.stressItr == viaGather.state.stressItr)
    viaDist.x.zip(viaGather.x).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6, s"$g vs $w")
    }
    viaDist.stressLog.zip(viaGather.stressLog).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-9, s"stress $g vs $w")
    }
  }

  test("distributed dispatch matches the gathered path under Sammon weighting") {
    // pins the weightView dist-retention path through the distributed
    // engine: Sammon mode divides weights by the cell distance, so a
    // block that dropped its dist array would silently fall back to
    // constant weights
    val rnd = new scala.util.Random(29)
    val initX = Array.fill(n * 2)(rnd.nextDouble() * 0.1)
    val cfgBase = Damds.Config(targetDim = 2, alpha = 0.3, cgIter = 10,
      exactCG = true, maxStressLoops = 1, maxTempLoops = 1,
      sammonFactor = 0.001)
    val viaGather = Damds.run(spark, blocksDs(3), initX, n, cfgBase)
    val viaDist = Damds.run(spark, blocksDs(3), initX, n,
      cfgBase.copy(maxGatherDoubles = 64L))
    viaDist.x.zip(viaGather.x).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-6, s"$g vs $w")
    }
  }

  test("distributed anneal: pinned job and stage counts, bit-identical repeats") {
    // every reduction is one single-stage ordered fold, the init is
    // split from the anneal's own metadata collect, and the σ/BC passes
    // open the CG: a reintroduced tree level, metadata, count or rTr
    // job, or a re-partitioning of the init, moves these counters
    val rnd = new scala.util.Random(41)
    val initX = Array.fill(n * 2)(rnd.nextDouble() * 0.1)
    val cfg = Damds.Config(targetDim = 2, alpha = 0.3, cgIter = 3,
      exactCG = true, maxStressLoops = 1, maxTempLoops = 1,
      maxGatherDoubles = 1L)
    // 6 blocks on the 4 partitions of local[4]: two partitions hold two
    // blocks, so a reduction that folded per partition instead of per
    // block would miss the bit pins below
    val (a, counts) = graft.TestSpark.counting(
      Damds.run(spark, blocksDs(6), initX, n, cfg))
    // 17 jobs (DamdsDistributed's header: 3 + 2 temperatures × 1
    // stress loop × (2 × 3 CG steps + 1 post pass))
    assert((counts.jobs, counts.stages) == ((17, 27)), counts)
    // stress, stress log and X, bit for bit as the 24-job anneal
    // computed them: cutting jobs must not reorder any fold
    assert(java.lang.Double.doubleToLongBits(a.state.stress) ==
      4594767110467463626L)
    assert(a.stressLog.map(java.lang.Double.doubleToLongBits) ==
      Seq(4591917928058464646L, 4594767110467463626L))
    assert(java.util.Arrays.hashCode(a.x) == -1627722356)
    val b = Damds.run(spark, blocksDs(6), initX, n, cfg)
    // the partials fold in block-index order, not task completion order
    assert(java.lang.Double.doubleToLongBits(a.state.stress) ==
      java.lang.Double.doubleToLongBits(b.state.stress))
    assert(a.stressLog.map(java.lang.Double.doubleToLongBits) ==
      b.stressLog.map(java.lang.Double.doubleToLongBits))
    assert(java.util.Arrays.equals(a.x, b.x))
  }

  test("full annealed run improves the embedding (I3/N9)") {
    val rnd = new scala.util.Random(17)
    val initX = Array.fill(n * 2)(rnd.nextDouble() * 0.1)
    val st = Damds.statistics(blocksDs(4))
    val invs = 1.0 / st.sumSq
    // true (tCur=0) stress before vs after — the annealed target moves
    // with temperature, so stressLog values are only comparable within
    // one temperature step
    val before = Damds.stress(spark, blocksDs(4), initX, 2, 0.0, invs)
    // fast cooling (alpha=0.3) and anneal all the way to tCur=0 so the
    // final stress loops optimize against the true distances
    val r = Damds.run(spark, blocksDs(4), initX, n,
      Damds.Config(targetDim = 2, alpha = 0.3, cgIter = 20,
        maxStressLoops = 2, maxTempLoops = -1))
    val after = Damds.stress(spark, blocksDs(4), r.x, 2, 0.0, invs)
    assert(after < before, s"true stress did not improve: $before -> $after")
    // within each temperature the annealed stress is non-increasing
    r.stressLog.grouped(2).foreach { pair =>
      if (pair.length == 2)
        assert(pair(1) <= pair(0) * (1 + 1e-9),
          s"within-temperature increase: $pair")
    }
    assert(r.state.cgCount > 0)
    assert(r.x.forall(v => !v.isNaN && !v.isInfinite))
  }
}
