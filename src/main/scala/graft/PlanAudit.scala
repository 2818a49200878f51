package graft

/** Plan-audit tool: prints the formatted physical plan of selected
  * queries so shuffle/pushdown/broadcast regressions are visible in
  * review. Usage: runMain graft.PlanAudit [sfDir] [query ...]
  *
  * `--summary` sweeps EVERY registered query and prints one audit line
  * each (scan / exchange / generate / all-pairs-join / global-sort
  * node counts) — the cheap way to spot a query whose plan re-scans
  * the corpus for each branch (how d17's triple explode was caught) or
  * quietly grew a cartesian.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val summary = args.drop(1).contains("--summary")
    // --dump <outdir> <suffix>: write each query's explain("formatted")
    // to <outdir>/<query>_<suffix>.txt (the optimization-round evidence
    // format — plans/rNN/<query>_{before,after}.txt)
    val dumpIx = args.indexOf("--dump")
    // bounds-checked + positional (ADVICE r21): a bare `--dump` must
    // fail with usage, not an ArrayIndexOutOfBounds; and the two
    // operands are sliced by POSITION so a query name that happens to
    // equal the dump dir/suffix string is never dropped
    require(dumpIx < 0 || dumpIx + 2 < args.length,
      "--dump needs two operands: --dump <outdir> <suffix>")
    val dumpDir = if (dumpIx >= 0) Some((args(dumpIx + 1), args(dumpIx + 2))) else None
    val dumpArgIxs = if (dumpIx >= 0) Set(dumpIx, dumpIx + 1, dumpIx + 2)
      else Set.empty[Int]
    val names = if (summary) SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1)
        args.zipWithIndex.drop(1)
          .collect { case (a, i) if !dumpArgIxs(i) && !a.startsWith("--") => a }
          .toSeq
      else Seq("q01_pricing_summary", "q03_join_agg", "q10_topk",
        "d01_dedup_exact", "d06_minhash_lsh", "v01_knn_exact",
        "v04_cosine_dup_lsh", "m01_kmeans_assign", "v14_knn_graph",
        "d34_incremental_dedup", "d35_partitioned_corpus",
        "d71_dup_spans", "v32_pca_power", "v34_whitened_dedup",
        "x12_phash_neardup")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    if (summary) {
      println(f"${"query"}%-28s scans exch gen bnlj cart sort")
      for (n <- names) {
        try {
          // Catalog.auditPlan dispatches eager queries (q35) to their
          // registered plan hook — the real DAG, not the local rows
          val p = operators.Catalog.auditPlan(spark, sfDir, n).toString
          def c(pat: String) = p.linesIterator.count(_.contains(pat))
          println(f"$n%-28s ${c("FileScan") + c("Scan graft")}%5d " +
            f"${c("Exchange hashpartitioning")}%4d ${c("Generate")}%3d " +
            f"${c("BroadcastNestedLoopJoin")}%4d ${c("CartesianProduct")}%4d " +
            f"${c("rangepartitioning")}%4d")
        } catch {
          case e: Throwable => println(f"$n%-28s FAILED: ${e.getMessage}")
        }
      }
    } else if (dumpDir.isDefined) {
      val (outDir, suffix) = dumpDir.get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      for (n <- names) {
        try {
          val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
        } catch {
          case e: Throwable => println(s"[plandump] $n FAILED: ${e.getMessage}")
        }
      }
    } else for (n <- names) {
      println(s"\n===================== $n =====================")
      try {
        // same eager-query dispatch as --summary: print the real DAG
        println(operators.Catalog.auditPlan(spark, sfDir, n).toString)
      } catch {
        case e: Throwable => println(s"FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
