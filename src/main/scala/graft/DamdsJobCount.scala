package graft

/** Orchestration-floor instrument (r22, VERDICT r21 next 6): counts
  * Spark jobs/stages/tasks of ONE dd256 anneal (3 temps x 1 stress loop
  * x cgIter 10, the probe config) after an untimed warmup, so the
  * scheduler-floor claim in OPTIMIZATION_r22.md is reproducible:
  * 28 jobs / 62 stages / 728 tasks at ~2.0-2.5 s wall means ~80 ms per
  * job-equivalent - the dd probes are orchestration-bound, and the
  * stress-pass fusion (stressStressBcBlock) cannot move wall time at
  * fixture N because the N x N passes are <5% of it. (Those counts
  * predate the single-stage ordered reductions and the cuts listed in
  * the `DamdsDistributed` header: one stats-and-metadata job, no
  * cache-materializing count jobs, and a CG opened by the sigma/BC
  * pass before it. That header's formula gives at most 3 + 3 x 21 =
  * 66 jobs for this config, fewer when a CG breaks early; rerun for
  * current counts.) Also prints the
  * FULL-precision stress, which repeats bit for bit from run to run:
  * every partial is folded in block-index order
  * (`DamdsDistributed.blockReduce`), not in task completion order. */
object DamdsJobCount {
  def main(args: Array[String]): Unit = {
    import graft.damds.{Damds, DamdsKernels}
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", JvmScratch.warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
      }
    })
    val nD = 256; val dDim = 3; val splits = 16; val latent = 8
    val rnd = new java.util.Random(53L)
    val pts = Array.fill(nD, latent)(rnd.nextDouble())
    val shorts = new Array[Short](nD * nD)
    var mx = 0.0
    val dm = Array.tabulate(nD, nD) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < latent) { val e = pts(i)(k) - pts(j)(k); s += e * e; k += 1 }
      val dv = math.sqrt(s); if (dv > mx) mx = dv; dv
    }
    for (i <- 0 until nD; j <- 0 until nD)
      shorts(i * nD + j) = (dm(i)(j) / mx * Short.MaxValue).toShort
    val blocks = graft.mm.MatrixIO.rowSplits(nD, splits).zipWithIndex.map {
      case ((start, rows), idx) =>
        DamdsKernels.DamdsBlock(idx, start, rows, nD,
          java.util.Arrays.copyOfRange(shorts, start * nD, (start + rows) * nD),
          Array.empty[Short])
    }
    val ds = spark.createDataset(blocks)(
      org.apache.spark.sql.Encoders.product[DamdsKernels.DamdsBlock])
    val rInit = new java.util.Random(59L)
    val initX = Array.fill(nD * dDim)(rInit.nextDouble() - 0.5)
    val cfg = Damds.Config(targetDim = dDim, cgIter = 10,
      maxStressLoops = 1, maxTempLoops = 2, maxGatherDoubles = 1L)
    Damds.run(spark, ds, initX, nD, cfg) // warmup
    val j0 = jobs.get; val s0 = stages.get; val t0 = tasks.get
    val t0n = System.nanoTime()
    val r = Damds.run(spark, ds, initX, nD, cfg)
    val sec = (System.nanoTime() - t0n) / 1e9
    println(s"JOBS=${jobs.get - j0} STAGES=${stages.get - s0} TASKS=${tasks.get - t0} SEC=$sec STRESS=${r.state.stress} CG=${r.state.cgCount} LOG=${r.stressLog.map(_.toString).mkString(",")} PRE=${r.state.preStress}")
    spark.stop()
  }
}
