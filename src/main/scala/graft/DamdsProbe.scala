package graft

import org.apache.spark.sql.SparkSession

/** Isolated A/B harness for the distributed-DAMDS probes — the
  * `BenchIsolate` counterpart for probe legs, which the sweep times
  * only once (dd4k/dd16k) or min-of-2 (dd) inside a 20-minute window
  * that can be contended end to end (the r20 VERDICT's top finding:
  * probe legs have no contention defense, so before/after claims for
  * kernel work must come from PAIRED isolated runs, not sweep rows).
  *
  * Runs each requested size in a fresh session, `runs` timed samples
  * after one untimed warmup, and prints per-run seconds plus the
  * stress/cg_count determinism checksums (bit-compare across code
  * versions: the r21 orchestration changes must not move them).
  *
  * Usage: runMain graft.DamdsProbe [runs] [n256] [n4k] [n16k]
  *   (size flags default to all three; pass a subset to focus)
  */
object DamdsProbe {
  def main(args: Array[String]): Unit = {
    val runs = args.headOption.flatMap(_.toIntOption).getOrElse(2)
    val rest = args.drop(if (args.headOption.exists(_.toIntOption.isDefined)) 1 else 0)
    val sizes = if (rest.isEmpty) Seq("n256", "n4k", "n16k") else rest.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    sizes.foreach { sz =>
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.sql.warehouse.dir", JvmScratch.warehouse)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val (nD, splits, seedPts, seedInit) = sz match {
          case "n256" => (256, 16, 11L, 17L)
          case "n4k"  => (4096, 32, 29L, 31L)
          case "n16k" => (16384, 32, 41L, 43L)
          case other  => sys.error(s"unknown size $other (n256|n4k|n16k)")
        }
        val dDim = 3; val latent = 8
        val rnd = new java.util.Random(seedPts)
        val pts = Array.fill(nD, latent)(rnd.nextDouble())
        val shorts = new Array[Short](nD * nD)
        val rowMx = new Array[Double](nD)
        java.util.stream.IntStream.range(0, nD).parallel().forEach { i =>
          var mx = 0.0
          var j = 0
          while (j < nD) {
            var s2 = 0.0; var k = 0
            while (k < latent) {
              val t = pts(i)(k) - pts(j)(k); s2 += t * t; k += 1
            }
            val dv = math.sqrt(s2)
            if (dv > mx) mx = dv
            j += 1
          }
          rowMx(i) = mx
        }
        val mx = rowMx.max
        java.util.stream.IntStream.range(0, nD).parallel().forEach { i =>
          var j = 0
          while (j < nD) {
            var s2 = 0.0; var k = 0
            while (k < latent) {
              val t = pts(i)(k) - pts(j)(k); s2 += t * t; k += 1
            }
            shorts(i * nD + j) = graft.mm.FixedPoint.encode(math.sqrt(s2) / mx)
            j += 1
          }
        }
        import graft.damds.{Damds, DamdsKernels}
        val blocks = graft.mm.MatrixIO.rowSplits(nD, splits).zipWithIndex
          .map { case ((start, rows), idx) =>
            DamdsKernels.DamdsBlock(idx, start, rows, nD,
              java.util.Arrays.copyOfRange(shorts, start * nD, (start + rows) * nD),
              Array.empty[Short])
          }
        val ds = spark.createDataset(blocks)(
          org.apache.spark.sql.Encoders.product[DamdsKernels.DamdsBlock])
        val rInit = new java.util.Random(seedInit)
        val initX = Array.fill(nD * dDim)(rInit.nextDouble() - 0.5)
        val cfg = Damds.Config(targetDim = dDim, cgIter = 10,
          maxStressLoops = 1, maxTempLoops = 2, maxGatherDoubles = 1L)
        Damds.run(spark, ds, initX, nD, cfg) // warmup
        val timed = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val r = Damds.run(spark, ds, initX, nD, cfg)
          ((System.nanoTime() - t0) / 1e9, r)
        }
        val (_, r0) = timed.head
        println(s"""{"probe":"damds_$sz","n":$nD,"blocks":$splits,""" +
          s""""runs":[${timed.map(t => Bench.fmt("%.3f", t._1)).mkString(",")}],""" +
          s""""min":${Bench.fmt("%.3f", timed.map(_._1).min)},""" +
          s""""stress":${Bench.fmt("%.6e", r0.state.stress)},""" +
          s""""cg_count":${r0.state.cgCount}}""")
      } finally spark.stop()
    }
  }
}
