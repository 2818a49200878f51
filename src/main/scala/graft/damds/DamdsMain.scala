package graft.damds

import graft.GraftSession

/** Reference-compatible DA-MDS CLI (damds/DAMDSProgram.java:27, the
  * shaded-jar main): takes the config.properties path, runs the full
  * annealed pipeline, writes the final embedding as "i x y [z]" lines
  * plus a driver-side summary (K1/K2 sinks).
  *
  * {{{
  * runMain graft.damds.DamdsMain --config config.properties --output out/
  * }}}
  */
object DamdsMain {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cfgPath = a("config")
    val outDir = a.getOrElse("output", "damds_out")

    GraftSession.using { spark =>
      val job = DamdsConfig.fromProperties(cfgPath,
        splits = GraftSession.cores)
      val n = job.numberDataPoints
      val d = job.cfg.targetDim
      // InitialPointsFile when configured, else deterministic random
      val res = DamdsConfig.run(spark, job, DamdsConfig.initialX(job))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      // K1: final embedding text
      val lines = (0 until n).map { i =>
        (0 until d).map(j => res.x(i * d + j)).mkString(s"$i ", " ", "")
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/points.txt"),
        lines.mkString("\n").getBytes)
      // K2: driver summary file (reference DAMDS.writeFile)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/summary.txt"),
        (s"n $n targetDim $d\n" +
          s"finalStress ${res.state.stress}\n" +
          s"tempLoops ${res.state.tItr} stressLoops ${res.state.stressItr} " +
          s"cgCount ${res.state.cgCount}\n").getBytes)
      println(s"wrote $outDir/points.txt and summary.txt " +
        s"(stress ${res.state.stress})")
    }
  }
}
