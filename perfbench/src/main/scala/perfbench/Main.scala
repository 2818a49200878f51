package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

/** Runs one workload in a fresh single-process session and prints one
  * result line, `PERFBENCH_RESULT <json>`, on standard output.
  *
  * Usage: perfbench.Main --workload corpus|iterative|stream --seed N
  *   --seconds S --trace 0|1 --fixtures DIR --work DIR --out DIR
  *   [--pinned FILE]
  *
  * Set-up opens one session with an empty warehouse and local dir under
  * `--work`, then prints `PERFBENCH_READY` on standard output, so that
  * the launcher can time process start to ready. The session runs a cold
  * pass and then at least three warm passes, until `--seconds` have
  * passed. Checks run after each operation, outside the timed region. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, fixtures: String, work: String, out: String,
      pinned: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fixtures"), need("work"), need("out"),
      m.getOrElse("pinned", null))
  }

  /** The reference subsystems at the shapes this benchmark runs them. */
  val iterShape: IterShape = IterShape(
    kmeansPoints = 200000L, kmeansK = 1000, kmeansDim = 2, kmeansIters = 5,
    gemmRows = 32768, gemmInner = 256, gemmCols = 128, gemmBlocks = 16,
    damdsN = 2048, damdsBlocks = 16,
    reduceParts = 32, reduceLen = 100000, reduceRounds = 3)

  /** Warm passes per run at least, whatever `--seconds` says: each
    * operation's warm time is a median over them. */
  val MinWarm = 3

  final case class OpResult(pass: Int, key: String, name: String,
      construct: Double, execute: Double, error: Option[String]) {
    def wall: Double = construct + execute
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try { run(a); 0 } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def openSession(a: Args, tracer: Tracer): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val dir = new File(a.work, "session")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      // keep the status store from growing over a long run
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "64")
      .config("spark.ui.retainedStages", "128")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.streams.addListener(tracer.streamListener)
    if (tracer.enabled) {
      s.sparkContext.addSparkListener(tracer.sparkListener)
      s.listenerManager.register(tracer.executionListener)
    }
    s
  }

  def closeSession(s: SparkSession, a: Args): Unit = {
    s.stop()
    deleteTree(new File(a.work, "session"))
  }

  def run(a: Args): Unit = {
    val tracer = new Tracer(a.trace)
    val cpus = Runtime.getRuntime.availableProcessors
    val pinned = Option(a.pinned).map(PinnedDigests.read).getOrElse(Map.empty)
    val wl: Workload = a.workload match {
      case "corpus" => new QueryWorkload("corpus", QueryWorkload.corpus,
        Seq("documents", "embeddings"), a.fixtures, a.seed, pinned)
      case "stream" => new QueryWorkload("stream", QueryWorkload.stream,
        Seq("events"), a.fixtures, a.seed, pinned)
      case "iterative" => new IterativeWorkload(a.seed, iterShape)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wlSpan = tracer.newId()
    val wlStart = tracer.now()

    // ---- set-up: the launcher times process start to the ready line ----
    val t0 = tracer.now()
    val spark = openSession(a, tracer)
    wl.open(spark)
    spark.range(0L, 1L, 1L, 1).count() // the scheduler has run a job
    val t1 = tracer.now()
    println("PERFBENCH_READY")
    System.out.flush()
    tracer.record(Span(tracer.newId(), wlSpan, "setup", "setup", "setup", t0, t1))
    val sc = spark.sparkContext

    // ---- passes ----
    var liveHeap = 0L
    def runPass(index: Int): Seq[OpResult] = {
      val passSpan = tracer.newId()
      val p0 = tracer.now()
      val results = wl.pass(spark, index).zipWithIndex.map { case (op, j) =>
        val key = f"p$index%02d.$j%02d.${op.name}"
        val opSpan = tracer.newId()
        val cSpan = tracer.newId()
        val eSpan = tracer.newId()
        var err: Option[String] = None
        def guarded(what: String)(body: => Unit): Unit =
          try body catch {
            case NonFatal(e) => err = Some(s"$what threw ${e.getClass.getName}: ${e.getMessage}")
          }
        sc.setJobGroup(tracer.enter(key, "construct", cSpan), key)
        val t0 = tracer.now()
        guarded("construct")(op.construct())
        val t1 = tracer.now()
        if (err.isEmpty) {
          sc.setJobGroup(tracer.enter(key, "execute", eSpan), key)
          guarded("execute")(op.execute())
        }
        val t2 = tracer.now()
        sc.clearJobGroup()
        tracer.record(Span(opSpan, passSpan, key, op.name, "op", t0, t2))
        tracer.record(Span(cSpan, opSpan, key, "construct", "construct", t0, t1))
        tracer.record(Span(eSpan, opSpan, key, "execute", "execute", t1, t2))
        if (tracer.enabled) ListenerBusDrain(sc)
        tracer.enter("check", "check", 0L)
        if (err.isEmpty) guarded("check") { err = op.check() }
        if (tracer.enabled) ListenerBusDrain(sc)
        System.err.println(f"[perfbench] $key construct ${(t1 - t0) / 1e9}%.3f s, " +
          f"execute ${(t2 - t1) / 1e9}%.3f s" + err.fold("")(e => s", FAILED: $e"))
        OpResult(index, key, op.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, err)
      }
      wl.endPass(spark)
      // a full collection between passes, outside the timed region:
      // each pass starts from the same heap; what survives the cold pass
      // (run in a fixed order) is the live set the session retains
      System.gc()
      if (index == 0) {
        // Spark's cleaner frees shuffles and broadcasts the collection
        // found unreachable; let it run, then collect again
        Thread.sleep(500)
        System.gc()
        val rt = Runtime.getRuntime
        liveHeap = rt.totalMemory - rt.freeMemory
      }
      tracer.record(Span(passSpan, wlSpan, s"pass $index", s"pass $index", "pass",
        p0, tracer.now()))
      results
    }

    val cold = runPass(0)
    val warmStart = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Seq[OpResult]]
    while (warm.size < MinWarm || (System.nanoTime() - warmStart) / 1e9 < a.seconds)
      warm += runPass(warm.size + 1)
    ListenerBusDrain(sc)

    // ---- layer probes (traced run only) ----
    val probes: Map[String, Metric] =
      if (!tracer.enabled) Map.empty
      else {
        tracer.enter("probes", "probes", 0L)
        wl match {
          case w: IterativeWorkload => Probes.iterativeLayers(spark, w, a.seed)
          case w: QueryWorkload if w.name == "corpus" =>
            Probes.corpusLayers(spark, a.fixtures)
          case _ => Probes.streamLayers(spark, a.fixtures)
        }
      }
    tracer.record(Span(wlSpan, 0L, "workload", a.workload, "workload", wlStart,
      tracer.now()))

    // ---- metrics ----
    val all = cold +: warm.toSeq
    val attempted = all.map(_.size).sum
    val failures = all.flatten.filter(_.error.isDefined)
    val warmOps = warm.toSeq.flatten.filter(_.error.isEmpty)
    val walls = warmOps.map(_.wall)
    def passWall(p: Seq[OpResult]): Double = p.map(_.wall).sum
    // per operation, its median over the warm passes; summed over a pass
    val warmPass = warmOps.groupBy(_.name).values
      .map(rs => Stats.median(rs.map(_.wall))).sum
    // `setup_s` and `peak_rss_mb` are added by the launcher
    val e2e = mutable.LinkedHashMap[String, Metric](
      "cold_pass_s" -> Metric(passWall(cold), "s"),
      "warm_pass_s" -> Metric(warmPass, "s"),
      "live_heap_mb" -> Metric(liveHeap / (1024.0 * 1024.0), "MB"))
    val extra = mutable.LinkedHashMap[String, Metric](
      "failed_frac" -> Metric(failures.size.toDouble / attempted, "1"),
      "session_s" -> Metric((t1 - t0) / 1e9, "s"),
      "op_p50_s" -> Metric(Stats.median(walls), "s"))
    // a tail is reported only where ten samples lie beyond the median
    def tail(prefix: String, xs: Seq[Double], nMin: Int, unit: String): Unit = {
      val p = Stats.tailPercentile(nMin)
      if (p >= 50) {
        extra(s"${prefix}_tail_$unit") = Metric(Stats.quantile(xs, p / 100.0), unit)
        extra(s"${prefix}_tail_percentile") = Metric(p, "1")
      }
      extra(s"${prefix}_samples") = Metric(xs.size, "count")
    }
    tail("op", walls, MinWarm * cold.size, "s")
    val layers = mutable.LinkedHashMap.empty[String, Metric]
    val counters = mutable.LinkedHashMap.empty[String, Seq[Double]]

    // per warm pass: attributed Spark work
    def passAgg(p: Seq[OpResult]): Agg = {
      val t = new Agg
      p.foreach(o => t.add(tracer.aggOf(o.key)))
      t
    }
    val warmAggs = warm.toSeq.map(passAgg)
    def med(f: Agg => Double): Double = Stats.median(warmAggs.map(f))
    def count(f: Agg => Long): Metric =
      Metric(Stats.median(warmAggs.map(g => f(g).toDouble)), "count")
    val mb = 1024.0 * 1024.0

    wl match {
      case _: QueryWorkload if wl.name == "stream" =>
        val batches = warmAggs.flatMap(_.batchTriggerMs.map(_.toDouble))
        extra("batch_p50_ms") = Metric(Stats.median(batches), "ms")
        tail("batch", batches, batches.size * MinWarm / warm.size, "ms")
        if (tracer.enabled) {
          def dur(k: String)(g: Agg): Double = g.durationsMs(k) / 1000.0
          layers ++= Seq(
            "streaming.batches" -> Metric(med(_.batchTriggerMs.size), "count"),
            "streaming.trigger_s" -> Metric(med(dur("triggerExecution")), "s"),
            "streaming.add_batch_s" -> Metric(med(dur("addBatch")), "s"),
            "streaming.query_planning_s" -> Metric(med(dur("queryPlanning")), "s"),
            "streaming.wal_commit_s" -> Metric(med(dur("walCommit")), "s"),
            "streaming.commit_offsets_s" -> Metric(med(dur("commitOffsets")), "s"),
            "streaming.latest_offset_s" -> Metric(med(dur("latestOffset")), "s"),
            "streaming.state_rows" -> count(_.stateRows),
            "streaming.state_rows_updated" -> count(_.stateRowsUpdated),
            "streaming.state_mem_mb" -> Metric(med(_.stateMemBytes / mb), "MB"),
            "streaming.state_commit_s" -> Metric(med(_.stateCommitMs / 1000.0), "s"),
            "streaming.startup_s" -> Metric(Stats.median(warm.toSeq.zip(warmAggs).map {
              case (p, g) => passWall(p) - g.durationsMs("triggerExecution") / 1000.0
            }), "s"))
          counters("streaming.state_rows_updated") = warmAggs.map(_.stateRowsUpdated.toDouble)
        }
      case w: IterativeWorkload =>
        val s = w.shape
        def warmOf(prefix: String): Seq[OpResult] = warmOps.filter(_.name.startsWith(prefix))
        val perPass = warm.toSeq.map(_.filter(_.error.isEmpty))
        val kmeans = perPass.map(_.filter(_.name.startsWith("kmeans.")).map(_.execute).sum)
        val gemm = warmOf("gemm.").map(_.execute)
        val flops = 2.0 * s.gemmRows * s.gemmInner * s.gemmCols
        extra("kmeans_s") = Metric(Stats.median(kmeans), "s")
        extra("gemm_gflops") = Metric(flops / Stats.median(gemm) / 1e9, "GFLOP/s")
        extra("damds_s") = Metric(Stats.median(warmOf("damds.").map(_.execute)), "s")
        extra("allreduce_ms") = Metric(
          Stats.median(warmOf("collectives.").map(_.execute)) * 1000.0, "ms")
        val warmCg = w.damdsResults.drop(1).map(_._2.toDouble).toSeq
        extra("kmeans_checksum") = Metric(w.kmeansChecksums.head, "1")
        extra("damds_stress") = Metric(w.damdsResults.head._1, "1")
        if (tracer.enabled) {
          def aggsOf(prefix: String): Seq[Agg] =
            warmOf(prefix).map(o => tracer.aggOf(o.key))
          val bytes = 8.0 * (s.gemmRows.toDouble * s.gemmInner +
            s.gemmInner.toDouble * s.gemmCols + s.gemmRows.toDouble * s.gemmCols)
          val damdsAggs = aggsOf("damds.")
          val reduceAggs = aggsOf("collectives.")
          layers ++= Seq(
            "ml.step_block_s" -> Metric(Stats.median(warmOf("kmeans.").map(_.execute)), "s"),
            "ml.step_block_jobs" -> Metric(Stats.median(aggsOf("kmeans.").map(_.jobs.toDouble)), "count"),
            "mm.multiply_s" -> Metric(Stats.median(gemm), "s"),
            "mm.flops" -> Metric(flops, "flop"),
            "mm.bytes_computed" -> Metric(bytes, "B"),
            "mm.flops_per_byte" -> Metric(flops / bytes, "flop/B"),
            "damds.jobs" -> Metric(Stats.median(damdsAggs.map(_.jobs.toDouble)), "count"),
            "damds.cg_iters" -> Metric(Stats.median(warmCg), "count"),
            "damds.allgather_mb" -> Metric(Stats.median(damdsAggs.map(_.shuffleWriteBytes / mb)), "MB"),
            "collectives.allreduce_jobs" -> Metric(Stats.median(reduceAggs.map(_.jobs.toDouble)), "count"),
            "collectives.allreduce_mb" -> Metric(Stats.median(reduceAggs.map(g =>
              (g.shuffleWriteBytes + g.resultBytes) / mb)), "MB"))
          counters("damds.cg_iters") = warmCg
        }
      case _ =>
    }

    if (tracer.enabled) {
      val warmKeys = warm.toSeq.map(_.map(_.key).toSet)
      def self(kind: String): Double =
        Stats.median(warmKeys.map(k => tracer.selfSeconds(kind, k)))
      val wallPerPass = warm.toSeq.map(passWall)
      layers ++= Seq(
        "operators.construct_s" -> Metric(Stats.median(warm.toSeq.map(_.map(_.construct).sum)), "s"),
        "operators.construct_jobs" -> count(_.constructJobs),
        "operators.execute_s" -> Metric(Stats.median(warm.toSeq.map(_.map(_.execute).sum)), "s"),
        "operators.construct_self_s" -> Metric(self("construct"), "s"),
        "operators.execute_self_s" -> Metric(self("execute"), "s"),
        "spark.analysis_s" -> Metric(med(_.analysisMs / 1000.0), "s"),
        "spark.optimization_s" -> Metric(med(_.optimizationMs / 1000.0), "s"),
        "spark.planning_s" -> Metric(med(_.planningMs / 1000.0), "s"),
        "spark.jobs" -> count(_.jobs),
        "spark.stages" -> count(_.stages),
        "spark.tasks" -> count(_.tasks),
        "spark.sched_delay_s" -> Metric(med(_.schedDelayMs / 1000.0), "s"),
        "spark.task_run_s" -> Metric(med(_.taskRunMs / 1000.0), "s"),
        "spark.task_cpu_s" -> Metric(med(_.taskCpuNs / 1e9), "s"),
        "spark.gc_s" -> Metric(med(_.gcMs / 1000.0), "s"),
        "spark.core_util" -> Metric(Stats.median(warmAggs.zip(wallPerPass).map {
          case (g, w) => g.taskRunMs / 1000.0 / (w * cpus) }), "1"),
        "spark.shuffle_write_mb" -> Metric(med(_.shuffleWriteBytes / mb), "MB"),
        "spark.shuffle_read_mb" -> Metric(med(_.shuffleReadBytes / mb), "MB"),
        "spark.shuffle_records" -> count(_.shuffleWriteRecords),
        "spark.spill_mb" -> Metric(med(_.spillBytes / mb), "MB"),
        "spark.scan_mb" -> Metric(med(_.inputBytes / mb), "MB"))
      layers ++= probes
      counters("spark.jobs") = warmAggs.map(_.jobs.toDouble)
      counters("spark.tasks") = warmAggs.map(_.tasks.toDouble)
      counters("spark.shuffle_records") = warmAggs.map(_.shuffleWriteRecords.toDouble)
      // compressed sizes repeat only where the shuffled values do; the
      // iterative kernels' tree reductions merge in completion order, so
      // their last bits, and the compressed bytes, may differ
      if (!wl.isInstanceOf[IterativeWorkload])
        counters("spark.shuffle_write_bytes") = warmAggs.map(_.shuffleWriteBytes.toDouble)
      extra("trace_listener_s") = Metric(tracer.listenerSeconds, "s")
    }

    val traceFile =
      if (!tracer.enabled) null
      else {
        val f = new File(a.out, s"trace-${a.workload}-seed${a.seed}-${System.currentTimeMillis()}.jsonl")
        val perKind = tracer.spanSummary()
        tracer.write(f.getPath, Map("workload" -> a.workload, "seed" -> a.seed,
          "self_s_by_kind" -> perKind.map { case (k, (_, s)) => k -> s },
          "duration_s_by_kind" -> perKind.map { case (k, (d, _)) => k -> d }))
        f.getPath
      }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.map(f => Map("op" -> f.key, "error" -> f.error.get)),
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "warm_passes" -> warm.size,
      "ops_per_pass" -> cold.size,
      "end_to_end" -> render(e2e),
      "extra" -> render(extra),
      "per_layer" -> render(layers),
      "counters" -> counters,
      "counters_repeat" -> counters.values.forall(v => v.distinct.size <= 1),
      "digests" -> wl.digests.map { case (q, d) => q -> d.render },
      "ops" -> all.flatten.map(o => mutable.LinkedHashMap[String, Any](
        "key" -> o.key, "construct_s" -> o.construct, "execute_s" -> o.execute,
        "ok" -> o.error.isEmpty)),
      "trace_file" -> traceFile)
    closeSession(spark, a)
    println("PERFBENCH_RESULT " + Json.render(result))
  }

  private def render(m: mutable.LinkedHashMap[String, Metric]): collection.Map[String, Any] =
    m.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) }
}

/** The digests a correct engine produces, one file per fixture set:
  * `{"<workload>": {"<query>": [rows, xor_a, sum_b], ...}, ...}`. */
object PinnedDigests {
  def read(path: String): Map[String, Digest] = {
    val root = Json.mapper.readTree(new File(path))
    val out = mutable.Map.empty[String, Digest]
    root.properties().forEach { wl =>
      wl.getValue.properties().forEach { q =>
        val v = q.getValue
        out(q.getKey) = Digest(v.get(0).asLong, v.get(1).asLong, v.get(2).asLong)
      }
    }
    out.toMap
  }
}
