package graft
import org.apache.spark.sql.SparkSession

/** Isolation probe: run the named queries N times back-to-back each in
  * a FRESH session (default) and print per-run seconds. The full-sweep
  * Bench main times queries after ~250 others have run in the same JVM,
  * so a regression seen there can be (a) the query itself, (b) session
  * state accumulated by the sweep (cached relations, state stores,
  * shuffle temp files, heap pressure), or (c) host conditions during
  * that wall-clock window. This main isolates (a): same code, same
  * data, cold session — if the isolated time matches the historical
  * number, the sweep measurement was (b) or (c).
  *
  * Usage: runMain graft.BenchIsolate <runs> <query1> [query2 ...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_SHARED=1 to reuse ONE session for all runs
  *      (reproduces the sweep's accumulation behavior on purpose),
  *      SPARK_GRAFT_BENCH_CONFS=1 to apply Bench's session pins
  *      (listener retention, state-store maintenance interval) so a
  *      suspected conf-induced regression can be A/B'd: run a query
  *      with and without the pins on the same host window.
  */
object BenchIsolate {
  def main(args: Array[String]): Unit = {
    val runs = args.headOption.flatMap(_.toIntOption).getOrElse(3)
    val names = args.drop(if (args.headOption.exists(_.toIntOption.isDefined)) 1 else 0).toSeq
    if (names.isEmpty) {
      System.err.println(
        "usage: runMain graft.BenchIsolate [runs] <query> [query ...]\n" +
          "  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), " +
          "SPARK_GRAFT_SHARED=1 for one shared session")
      return
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val shared = sys.env.get("SPARK_GRAFT_SHARED").contains("1")
    val benchConfs = sys.env.get("SPARK_GRAFT_BENCH_CONFS").contains("1")
    def newSession(): SparkSession = {
      var b = SparkSession.builder()
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.sql.warehouse.dir", JvmScratch.warehouse)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
      if (benchConfs)
        b = b.config("spark.sql.ui.retainedExecutions", "8")
          .config("spark.ui.retainedJobs", "64")
          .config("spark.ui.retainedStages", "128")
          .config("spark.ui.retainedTasks", "2000")
          .config("spark.sql.streaming.numRecentProgressUpdates", "10")
          .config("spark.sql.streaming.stateStore.maintenanceInterval", "10s")
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // r18: time through the noop sink like Bench — count() lets
    // Catalyst prune the projection/aggregate work being measured
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // r20: stream rows' cross-round axis is the MARGINAL (summed
    // in-batch triggerExecution — queries_stream_marginal in the
    // detail JSON; wall carries the micro-batch fixed machinery the
    // calib axis can't correct), so for s-queries each timed run also
    // records it — an isolated stream forensic then reads the same
    // axis the sweep and the stream recheck commit. One listener per
    // SESSION (sessions that already have one keep it — the buffer is
    // cleared per run).
    val progBuf = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    val listened = new java.util.IdentityHashMap[SparkSession, java.lang.Boolean]
    def ensureListener(s: SparkSession): Unit =
      if (!listened.containsKey(s)) {
        listened.put(s, java.lang.Boolean.TRUE)
        s.streams.addListener(
          new org.apache.spark.sql.streaming.StreamingQueryListener {
            import org.apache.spark.sql.streaming.StreamingQueryListener._
            override def onQueryStarted(e: QueryStartedEvent): Unit = ()
            override def onQueryProgress(e: QueryProgressEvent): Unit =
              progBuf.synchronized { progBuf += e.progress }
            override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          })
      }
    def drainMarginal(): Double = {
      var prev = -1
      var cur = progBuf.synchronized(progBuf.size)
      var tries = 0
      while ((cur != prev || cur == 0) && tries < 20) {
        Thread.sleep(100)
        prev = cur
        cur = progBuf.synchronized(progBuf.size)
        tries += 1
      }
      val ps = progBuf.synchronized(progBuf.toList)
      if (ps.isEmpty) -1.0 // drain timeout, not "zero work"
      else ps.map(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(0L)).sum / 1000.0
    }
    val sparkShared = if (shared) Some(newSession()) else None
    names.foreach { n =>
      val spark = sparkShared.getOrElse(newSession())
      val isStream = n.startsWith("s")
      if (isStream) ensureListener(spark)
      // one untimed warmup (codegen + footers), then `runs` timed
      try materialize(SparkEntry.queries(n)(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[isolate] $n warmup FAILED: ${e.getMessage}")
      }
      // a timed run that throws marks only ITSELF (negative seconds)
      // and the remaining queries still run — an unguarded throw here
      // silently aborted the whole requested list (ADVICE r17)
      val timed = (1 to runs).map { _ =>
        if (isStream) progBuf.synchronized(progBuf.clear())
        val t0 = System.nanoTime()
        val ok =
          try { materialize(SparkEntry.queries(n)(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[isolate] $n timed run FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        val marg = if (isStream && ok) drainMarginal() else -1.0
        (if (ok) dt else -dt, marg)
      }
      val secs = timed.map(_._1)
      val margJson =
        if (isStream)
          s""","marginals":[${timed.map(t => Bench.fmt("%.3f", t._2)).mkString(",")}]"""
        else ""
      println(s"""{"query":"$n","mode":"${if (shared) "shared" else "fresh"}","bench_confs":$benchConfs,"runs":[${secs.map(s => Bench.fmt("%.3f", s)).mkString(",")}]$margJson}""")
      if (sparkShared.isEmpty) spark.stop()
    }
    sparkShared.foreach(_.stop())
  }
}
