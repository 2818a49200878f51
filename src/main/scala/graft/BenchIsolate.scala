package graft
import org.apache.spark.sql.{GraftShims, SparkSession}

/** Isolation probe: run the named queries or probes N times back-to-back
  * each in a FRESH session (default) and print per-run seconds. The
  * full-sweep Bench main times queries after ~250 others have run in the
  * same JVM, so a regression seen there can be (a) the query itself,
  * (b) session state accumulated by the sweep (cached relations, state
  * stores, shuffle temp files, heap pressure), or (c) host conditions
  * during that wall-clock window. This main isolates (a): same code,
  * same data, same session shape as the sweep (`GraftSession.Sweep`),
  * cold session — if the isolated time matches the historical number,
  * the sweep measurement was (b) or (c).
  *
  * Usage: runMain graft.BenchIsolate [runs] <name> [name ...]
  *   where a name is a registered query or one of the reference-shaped
  *   probes of [[ProbeKit]]:
  *     probe:kmeans                  1M points, k = 100, 10 iterations
  *     probe:kmeans_baseline_shape   1M points, k = 1000 (BASELINE.md's row)
  *     probe:gemm                    65536 x 256 times 256 x 128
  *     probe:damds_n256|n4k|n16k|n32k  the distributed DA-MDS anneal
  *   A probe prints its min, its checksum (centroid sum, C sum, or
  *   stress and CG count) and the jobs/stages/tasks of its timed runs,
  *   summed. probe:damds_n32k needs a ~40 GB heap
  *   (SPARK_DRIVER_MEM=40g) and a JVM of its own.
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_SHARED=1 to reuse ONE session for all runs
  *      (reproduces the sweep's accumulation behavior on purpose).
  */
object BenchIsolate {
  private val probePrefix = "probe:"

  /** A probe by name, its result rendered as checksum JSON fields. */
  private def probe(name: String, spark: SparkSession)
      : ProbeKit.Probe[String] = {
    def kmeans(k: Int) = ProbeKit.kmeans(spark, 1000000L, k, 10)
      .map(c => s""""checksum":${ProbeKit.centroidSum(c)}""")
    name match {
      case "kmeans" => kmeans(100)
      case "kmeans_baseline_shape" => kmeans(1000)
      case "gemm" => ProbeKit.gemm(spark).map(sum => s""""checksum":$sum""")
      case _ => ProbeKit.damds(spark,
        ProbeKit.damdsSizes(name.stripPrefix("damds_")))
        .map(r => s""""stress":${r.state.stress},"cg_count":${r.state.cgCount}""")
    }
  }
  private val probeNames = Seq("kmeans", "kmeans_baseline_shape", "gemm") ++
    ProbeKit.damdsSizes.keys.toSeq.sorted.map("damds_" + _)

  def main(args: Array[String]): Unit = {
    val runs = args.headOption.flatMap(_.toIntOption).getOrElse(3)
    val names = args.drop(if (args.headOption.exists(_.toIntOption.isDefined)) 1 else 0).toSeq
    if (names.isEmpty) {
      System.err.println(
        "usage: runMain graft.BenchIsolate [runs] <query|probe:name> ...\n" +
          s"  probes: ${probeNames.map(probePrefix + _).mkString(" ")}\n" +
          "  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), " +
          "SPARK_GRAFT_SHARED=1 for one shared session")
      return
    }
    val unknown = names.filterNot(n =>
      if (n.startsWith(probePrefix)) probeNames.contains(n.stripPrefix(probePrefix))
      else SparkEntry.queries.contains(n))
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries or probes: ${unknown.mkString(", ")}")
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val shared = sys.env.get("SPARK_GRAFT_SHARED").contains("1")
    val mode = if (shared) "shared" else "fresh"
    def secsJson(secs: Seq[Double]): String =
      secs.map(s => Bench.fmt("%.3f", s)).mkString("[", ",", "]")
    val sparkShared = if (shared) Some(GraftSession(GraftSession.Sweep)) else None
    // stream rows' cross-round axis is the MARGINAL (summed in-batch
    // triggerExecution); wall carries the micro-batch fixed machinery
    // the calib axis can't correct, so s-queries record it per run, the
    // axis the sweep and its stream recheck commit
    val sharedProgress = sparkShared.map(new ProbeKit.StreamProgress(_))
    names.foreach { n =>
      val spark = sparkShared.getOrElse(GraftSession(GraftSession.Sweep))
      if (n.startsWith(probePrefix)) {
        // input build and one untimed run first, then `runs` timed
        val name = n.stripPrefix(probePrefix)
        try {
          val p = probe(name, spark)
          try {
            p.run()
            val (timed, c) = GraftShims.counting(spark.sparkContext)(
              ProbeKit.minOf(runs)(p.run()))
            println(s"""{"probe":"$name","mode":"$mode","runs":${secsJson(timed.secs)},""" +
              s""""min":${Bench.fmt("%.3f", timed.min)},${timed.best},""" +
              s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks}}""")
          } finally p.close()
        } catch { case e: Throwable =>
          System.err.println(s"[isolate] $n FAILED: ${e.getMessage}")
        }
      } else {
        val isStream = n.startsWith("s")
        lazy val prog = sharedProgress.getOrElse(new ProbeKit.StreamProgress(spark))
        def query(): Unit = ProbeKit.materialize(SparkEntry.queries(n)(spark, sfDir))
        // one untimed warmup (codegen + footers), then `runs` timed
        try query()
        catch { case e: Throwable =>
          System.err.println(s"[isolate] $n warmup FAILED: ${e.getMessage}")
        }
        // a timed run that throws marks only ITSELF (negative seconds)
        // and the remaining queries still run — an unguarded throw here
        // silently aborted the whole requested list (ADVICE r17)
        val timed = Seq.fill(runs) {
          val t0 = System.nanoTime()
          try {
            if (isStream) { val r = prog.run(n)(query()); (r.wall, r.marginal) }
            else (ProbeKit.timed(query())._1, -1.0)
          } catch { case e: Throwable =>
            System.err.println(s"[isolate] $n timed run FAILED: ${e.getMessage}")
            (-(System.nanoTime() - t0) / 1e9, -1.0)
          }
        }
        val margJson =
          if (isStream) s""","marginals":${secsJson(timed.map(_._2))}""" else ""
        println(s"""{"query":"$n","mode":"$mode","runs":${secsJson(timed.map(_._1))}$margJson}""")
      }
      if (sparkShared.isEmpty) spark.stop()
    }
    sparkShared.foreach(_.stop())
  }
}
