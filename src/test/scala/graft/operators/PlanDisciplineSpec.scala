package graft.operators

import graft.TestSpark
import graft.functions.KernelPlans
import graft.streaming.StreamRunner
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{array, size}
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the physical-plan properties the engine
  * promises at scale (README "Design rules"): filter pushdown into the
  * parquet scan, column pruning, broadcast of small join sides, bounded
  * top-k without a global sort, and no Window node in the argmin
  * queries that were rewritten to hash aggregates (round-1 verdict
  * findings 5/6).
  */
class PlanDisciplineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    Catalog.queries(name)(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString

  /** The parquet scans of a plan, read off the tree (AQE stages,
    * subqueries and cached relations included), not off the rendered
    * string: the rendering cuts a scan's location at 100 characters,
    * so a layout name after a long warehouse path would not show. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    KernelPlans.collectWithSubqueries(p) {
      case f: FileSourceScanExec => Seq(f)
      case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
    }.flatten

  /** Whether `scan` reads a directory whose path names `layout`. */
  private def reads(scan: FileSourceScanExec, layout: String): Boolean =
    scan.relation.location.rootPaths.exists(_.toString.contains(layout))

  /** Whether `scan` prunes on partition column `col` before listing. */
  private def prunes(scan: FileSourceScanExec, col: String): Boolean =
    scan.partitionFilters.exists(_.references.exists(_.name == col))

  test("composed retrieval queries read the memoized ranking fronts") {
    // r22: v13/v22/v25 read the session-memoized bounded rankings
    // (exactTop/annTop/bm25Top) instead of re-deriving the exact-
    // cosine / ANN / BM25 corpus passes per invocation (paired −44..
    // −74%). A revert to inline derivation would keep the oracle green
    // and silently re-pay the passes — pin the cache provenance.
    for (name <- Seq("v13_ann_recall", "v22_rrf_fusion",
        "v25_ivf_recall_curve")) {
      val p = plan(name)
      assert(p.contains("InMemoryTableScan"),
        s"$name: not reading a memoized ranking front:\n$p")
    }
  }

  test("q02 filter is pushed into the parquet scan and columns pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"no pushed filters:\n$p")
    // projection should not read the full 11-column lineitem schema;
    // count the columns inside the FileScan's bracket list
    val scanCols = p.linesIterator.find(_.contains("FileScan parquet"))
      .flatMap(l => "\\[([^\\]]*)\\]".r.findFirstMatchIn(l).map(_.group(1)))
      .map(_.split(",").length).getOrElse(99)
    assert(scanCols < 8, s"scan reads $scanCols columns:\n$p")
  }

  test("q03 joins broadcast the small dimension sides") {
    val p = plan("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q10 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q10_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("argmin queries q11/q21 contain no Window node") {
    assert(!plan("q11_argmin_window").contains("Window"))
    assert(!plan("q21_kmeans_assign").contains("Window"))
  }

  test("kmeans assignment m01 is shuffle-free up to the argmin projection") {
    // one projection over the scan: the only Exchange allowed is none
    val p = plan("m01_kmeans_assign")
    assert(!p.contains("Exchange"), s"assignment should not shuffle:\n$p")
  }

  test("d38 quality classifier scores in one projection: no Exchange, no Generate") {
    // the hashing-trick scorer's scale contract: gram walk as a HOF
    // aggregate over the token array — a map-only pass a scan can
    // pipeline. An explode+groupBy rewrite would pass the oracle and
    // put a gram-key shuffle on every scored corpus.
    val p = plan("d38_quality_classifier")
    assert(!p.contains("Exchange"), s"classifier scoring shuffles:\n$p")
    assert(!p.contains("Generate"), s"classifier scoring explodes:\n$p")
  }

  test("d84 entropy screen is one map-only projection: no Exchange, no Generate") {
    // the secret/entropy screen's scale contract (the d38 discipline):
    // per-char counts come from length-difference folds over the
    // literal alphabet, never a char-level explode + per-doc groupBy —
    // a rewrite that way would pass the oracle and put a (doc, char)
    // shuffle with corpus×chars rows on every scanned corpus.
    val p = plan("d84_entropy_screen")
    assert(!p.contains("Exchange"), s"entropy screen shuffles:\n$p")
    assert(!p.contains("Generate"), s"entropy screen explodes:\n$p")
  }

  test("pca gram summary folds into one register buffer: no Generate, object hash agg") {
    // v32/v33/s41's scale contract (VERDICT r13 §wrong 2): the
    // d(d+1)/2 Gram registers accumulate inside ONE
    // TypedImperativeAggregate buffer per task — an explode rewrite
    // would pass the golden and push rows·2,080 structs through the
    // aggregation machinery (and 8.8 s of it through s41's state
    // store every trigger).
    import org.apache.spark.sql.functions.col
    val e = graft.Tables(spark, TestSpark.sf0001, "embeddings")
      .select(col("vec_id"), graft.vec.VectorOps.toDouble(col("embedding")).as("v"))
    val p = VectorQueries.gramSums(e).queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), s"register agg not object-hash:\n$p")
    assert(p.contains("graft_gram_registers"), s"native register agg missing:\n$p")
    // the ONLY Generate allowed is the post-agg unfold of the single
    // 2,080-element register row — nothing below the partial agg may
    // explode (that was the rows×2,080 amplification)
    val belowPartials = p.substring(p.indexOf("partial_graft_gram_registers"))
    assert(!belowPartials.contains("Generate"),
      s"gram summary explodes below the register agg:\n$p")
    assert(p.indexOf("Generate") == p.lastIndexOf("Generate"),
      s"more than one Generate in the gram plan:\n$p")
  }

  test("d85/d87 curation screens are map-only: no Exchange, no Generate") {
    // the d38/d84 discipline for the two new screens: HTML extraction
    // and secret redaction are string-HOF projections a crawl scan can
    // pipeline — an explode+groupBy rewrite would pass the oracle and
    // put a shuffle on every scanned corpus.
    for (name <- Seq("d85_html_extract", "d87_secret_scrub",
        "d88_extracted_quality")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
      assert(!p.contains("Generate"), s"$name explodes:\n$p")
    }
    // d89 fuses both column chains into one projection of one scan:
    // no join, one FileScan, and the only exchange is the bounded
    // sources-key aggregation
    val p89 = plan("d89_ingest_funnel")
    assert(!p89.contains("Join"), s"d89 joins parallel projections:\n$p89")
    assert(p89.linesIterator.count(_.contains("FileScan")) == 1,
      s"d89 rescans the corpus:\n$p89")
  }

  test("v16 computes all truncation rungs in one corpus pass") {
    // the MRL ladder's scale contract: 3 rungs + full-dim ground truth
    // from ONE scored projection — the only FileScans are the corpus
    // side and the broadcast query side. A per-rung rewrite (one scan
    // per rung + one for ground truth) would 2.5× the scan bytes.
    val p = plan("v16_matryoshka_recall")
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans <= 2, s"v16 rescans the corpus per rung ($scans scans):\n$p")
  }

  test("v04/d06 LSH band exchanges ship ids only, never vectors/signatures") {
    // the scale contract of the banded designs: the only shuffles keyed
    // on (band, bucket/code) carry ids — vector/signature arrays are
    // joined back once per deduped pair, never replicated per band.
    // r22: v04/v10 read the session-memoized scoredBandPairs front
    // (single-scan τ-filter consumers — InMemoryTableScan provenance,
    // no band exchange of their own), while v14/v17 keep the inline
    // pipelined derivation (measured faster than machinery over the
    // cache — see the front's scope note), so the band contract is
    // pinned on their plans AND on the raw front derivation.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.Exchange
      import org.apache.spark.sql.types.ArrayType
      val inlinePlans = Seq(
        "scoredBandPairsRaw" ->
          VectorQueries.scoredBandPairsRaw(spark, TestSpark.sf0001)
            .queryExecution.executedPlan,
        "d06_minhash_lsh" ->
          Catalog.queries("d06_minhash_lsh")(spark, TestSpark.sf0001)
            .queryExecution.executedPlan,
        "v14_knn_graph" ->
          Catalog.queries("v14_knn_graph")(spark, TestSpark.sf0001)
            .queryExecution.executedPlan,
        "v17_hard_negatives" ->
          Catalog.queries("v17_hard_negatives")(spark, TestSpark.sf0001)
            .queryExecution.executedPlan)
      for ((name, plan) <- inlinePlans) {
        val bandEx = plan.collect {
          case e: Exchange if e.output.exists(a =>
            Seq("band", "bucket", "code").contains(a.name)) => e
        }
        assert(bandEx.nonEmpty, s"$name: no band exchange in plan:\n$plan")
        bandEx.foreach { e =>
          assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
            s"$name: band exchange carries an array column: ${e.output}")
        }
      }
      for (name <- Seq("v04_cosine_dup_lsh", "v10_semantic_dedup")) {
        val plan = Catalog.queries(name)(spark, TestSpark.sf0001)
          .queryExecution.executedPlan
        // v10's pair set is collected at construction for the driver
        // union-find, so only v04's final plan shows the cache scan
        if (name == "v04_cosine_dup_lsh")
          assert(plan.toString.contains("InMemoryTableScan"),
            s"$name: not reading the memoized scored-pair front:\n$plan")
        // the exec tree (which does not descend into the cached
        // relation's build plan) must hold NO band exchange of its own
        val bandEx = plan.collect {
          case e: Exchange if e.output.exists(a =>
            Seq("band", "bucket", "code").contains(a.name)) => e
        }
        assert(bandEx.isEmpty,
          s"$name: banded pass re-derived outside the front:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("v02 ANN candidate exchanges ship ids only, never vectors") {
    // v02's scale contract: the 24×-replicated band rows and the
    // candidate-dedup shuffle carry (id, band, code)/(qid, vec_id)
    // only; the 64-dim vectors cross at most one exchange, once per
    // vector, on the rescore join — never per band or per candidate
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.types.ArrayType
      val plan = Catalog.queries("v02_knn_ann_lsh")(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      shuffles.foreach { e =>
        val names = e.output.map(_.name).toSet
        val isCandidate = names.contains("band") || names.contains("code") ||
          (names.contains("qid") && names.contains("vec_id"))
        if (isCandidate)
          assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
            s"candidate exchange carries an array column: ${e.output}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("v08 PQ search never shuffles a vector: codes-only exchanges") {
    // PQ's whole point at 100 TB: after the one-pass encode, the ADC
    // scan and shortlist move 8-byte codes and scalar scores only; the
    // float vectors reach the exact rerank via broadcast joins (query
    // set + shortlisted ids), never through a shuffle
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      val plan = Catalog.queries("v08_knn_pq_adc")(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      shuffles.foreach { e =>
        assert(!e.output.exists(a => a.dataType == ArrayType(DoubleType, false)
            || a.dataType == ArrayType(DoubleType, true)),
          s"PQ shuffle carries a double-array column: ${e.output}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("v09 IVFADC: cell-pruned scan, codes-only exchanges") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      val qe = Catalog.queries("v09_knn_ivfpq")(spark, TestSpark.sf0001)
        .queryExecution
      // the probe reads only the nprobe cells (IN-list pruning before
      // the candidate join, as v05)
      val opt = qe.optimizedPlan.toString
      assert(opt.contains("cell") && (opt.contains("IN (") || opt.contains("INSET")),
        s"no cell IN-list pruning in the IVFADC probe:\n$opt")
      // vectors never shuffle: ADC moves (vec_id, cell, codes, term3)
      // and scalar scores only; the rerank vectors arrive by broadcast
      qe.executedPlan.collect { case e: ShuffleExchangeExec => e }
        .foreach { e =>
          assert(!e.output.exists(a =>
              a.dataType == ArrayType(DoubleType, false) ||
              a.dataType == ArrayType(DoubleType, true)),
            s"IVFADC shuffle carries a double-array column: ${e.output}")
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("x06 block dedup shuffles on the block hash, never all-pairs") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Catalog.queries("x06_block_dedup")(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"all-pairs join:\n$p")
      assert(p.contains("hashpartitioning(h"), s"no block-hash shuffle:\n$p")
      assert(!p.contains("rangepartitioning"), s"global sort crept in:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("v05 candidate scan is pruned to the probed cell set") {
    val opt = Catalog.queries("v05_knn_ivf")(spark, TestSpark.sf0001)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("cell"), s"no cell column in plan:\n$opt")
    assert(opt.contains("IN (") || opt.contains("INSET"),
      s"no IN-list cell pruning predicate before the candidate join:\n$opt")
  }

  test("v06 disk probe prunes cell partitions at the file level") {
    // nprobe=2 of 16 cells: the scan over the partitionBy(cell) layout
    // must carry a non-empty PartitionFilters on cell — files outside
    // the probed cells are skipped before a byte is read
    val p = VectorQueries.ivfDiskProbe(spark, TestSpark.sf0001, np = 2)
      .queryExecution.executedPlan
    val scan = fileScans(p).find(reads(_, "graft_ivf_"))
      .getOrElse(fail(s"no ivf FileScan in plan:\n$p"))
    assert(prunes(scan, "cell"),
      s"no cell PartitionFilters on the ivf scan:\n$scan")
  }

  test("v11 IVFADC disk probe prunes cell partitions at the file level") {
    // same contract as v06, over the composed codes layout: the scan of
    // the partitionBy(cell) IVFADC index must carry a non-empty cell
    // PartitionFilters — and the probe must equal the in-memory v09
    val p = VectorQueries.ivfPqDiskSearch(spark, TestSpark.sf0001,
        nprobe = 2, shortlist = 64)
      .queryExecution.executedPlan
    val scan = fileScans(p).find(reads(_, "graft_ivfpq_"))
      .getOrElse(fail(s"no ivfpq FileScan in plan:\n$p"))
    assert(prunes(scan, "cell"),
      s"no cell PartitionFilters on the ivfpq scan:\n$scan")
    val mem = Catalog.queries("v09_knn_ivfpq")(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSet
    val disk = Catalog.queries("v11_knn_ivfpq_disk")(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSet
    assert(disk == mem, s"disk IVFADC diverges from in-memory: " +
      s"${(disk -- mem) ++ (mem -- disk)}")
  }

  test("q29 as-of join is a single shuffle on the key, no range join") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q29_asof_join")
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, s"expected 1 key shuffle, got $exchanges:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"as-of must not plan as a range/cross join:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q30 bucketed join has no shuffle on the join key") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q30_bucketed_join")
      assert(p.contains("SortMergeJoin"), p)
      // the only allowed Exchange is the final agg's (on o_orderpriority);
      // bucketed reads must satisfy the join's distribution directly
      assert(!p.contains("hashpartitioning(l_orderkey") &&
        !p.contains("hashpartitioning(o_orderkey"), s"join key shuffled:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d20 broadcasts are bounded: no BroadcastExchange over an unbounded aggregate") {
    // the LM join must never broadcast the raw vocabulary (unbounded
    // under Heaps' law); every broadcast side must be capped by a
    // limit (top-M LM) or be a scalar aggregate (corpus total / OOV)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
      import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
      val plan = Catalog.queries("d20_unigram_logprob")(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, s"expected broadcast joins in d20:\n$plan")
      // the bound must hold at the broadcast side's ROOT: walk only
      // through unary row-non-expanding nodes (project/filter/codegen
      // wrappers) before requiring the limit / scalar agg — a
      // collectFirst over the whole subtree would accept a join of a
      // limited side with an unbounded one
      import org.apache.spark.sql.execution.{ExpandExec, GenerateExec, SparkPlan}
      def boundedRoot(p: SparkPlan): Boolean = p match {
        case _: TakeOrderedAndProjectExec => true
        case _: GlobalLimitExec => true
        case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
        case _: GenerateExec | _: ExpandExec => false
        case u if u.children.size == 1 => boundedRoot(u.children.head)
        // a join is bounded only if BOTH inputs are (|out| ≤ |l|·|r|);
        // a limited side joined to an unbounded one must fail here
        case j if j.children.size == 2 => j.children.forall(boundedRoot)
        case _ => false
      }
      bcasts.foreach { b =>
        assert(boundedRoot(b.child),
          s"unbounded broadcast side (no limit / scalar agg at its root):\n$b")
      }
      assert(plan.collectFirst {
        case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"top-M vocab cap should plan as TakeOrderedAndProject:\n$plan")
      // the cap is a dial: at a production-shaped M (200k) the top-M
      // must STILL plan as a distributed partial top-k, not degrade to
      // a global sort + limit
      val big = TextQueries.d20WithCap(spark, TestSpark.sf0001, 200000)
        .queryExecution.executedPlan
      assert(big.collectFirst {
        case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"200k-cap top-M lost its TakeOrderedAndProject shape:\n$big")
      assert(!big.toString.contains("rangepartitioning"),
        s"200k-cap top-M degraded to a global sort:\n$big")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d16 packing has no global sort: window partitioned by shard only") {
    // the running token sum must be a window PARTITIONED BY the hash
    // shard — a global ORDER BY window plans as an Exchange
    // rangepartitioning and serializes the corpus through one task
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d16_sequence_pack")
      assert(!p.contains("rangepartitioning"),
        s"global sort (rangepartitioning) in the packing plan:\n$p")
      assert(p.contains("hashpartitioning(shard"),
        s"window not partitioned by shard:\n$p")
      assert(p.contains("Window"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d18 boilerplate shuffles on the gram HASH key, never all-pairs") {
    // the doc-frequency agg and the boilerplate semi-join back must
    // both key on gh = xxhash64(gram) — the scale contract is one
    // 8-byte-keyed shuffle per gram occurrence (r19 shuffle diet: gram
    // STRINGS never cross an exchange), no cartesian/nested-loop
    // pairing of documents, and the corpus-proportional boilerplate
    // set joins merge-hinted, never broadcast
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d18_boilerplate")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"all-pairs join in the boilerplate plan:\n$p")
      assert(p.contains("hashpartitioning(gh"),
        s"no gram-hash-key shuffle in the boilerplate plan:\n$p")
      assert(!p.contains("hashpartitioning(sh"),
        s"gram STRINGS still cross an exchange in the boilerplate plan:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"boilerplate-set join is not the hinted merge join:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d31 novelty shuffles on the gram HASH key, never all-pairs") {
    // first-occurrence needs one gram-keyed agg and one gram-keyed join
    // back, both on gh = xxhash64(gram) (r19 shuffle diet); any
    // document-pairing join would be quadratic at corpus scale, and
    // the corpus-proportional first-occurrence frame joins
    // merge-hinted, never broadcast
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d31_ngram_novelty")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"all-pairs join in the novelty plan:\n$p")
      assert(p.contains("hashpartitioning(gh"),
        s"no gram-hash-key shuffle in the novelty plan:\n$p")
      assert(!p.contains("hashpartitioning(sh"),
        s"gram STRINGS still cross an exchange in the novelty plan:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"first-occurrence join is not the hinted merge join:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("gram-hash diet: d17/d48/d49 corpus exchanges never key on gram strings") {
    // r19: every corpus-proportional gram exchange keys on
    // gh/g = xxhash64(gram) (8-byte longs); the gram STRING is consumed
    // inside its projection stage (output payload in d17, the md5
    // sketch coin in d49) and must never key an exchange. d57's
    // corpus side is pinned separately (its eval-bounded string dedup
    // is allowed); d18/d31 carry their own pins above.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // any-position match: a gram string in ANY slot of a composite
      // exchange key (e.g. (doc_id, sh)) still ships ~40 B/row strings
      val gramKeyed = "Exchange hashpartitioning\\([^\\n]*?\\b(sh|gram|term)#".r
      for (name <- Seq("d17_tfidf_topterms", "d48_source_overlap",
          "d49_hll_distinct")) {
        val p = plan(name)
        val parts = gramKeyed.findAllMatchIn(p).map(_.group(1)).toSet
        assert(parts.isEmpty,
          s"$name: a gram/term STRING keys an exchange ($parts):\n$p")
      }
      // the corpus-proportional frames join SHUFFLED — never broadcast
      // at fixture scale (the d90/d91 no-broadcast rule): d17's df
      // branch (merge), d48's and d54's gram-set self-joins
      // (shuffle_hash — no sort on the 8-byte keys); either shuffled
      // join satisfies the scale shape, a broadcast does not
      for (name <- Seq("d17_tfidf_topterms", "d48_source_overlap",
          "d54_source_jaccard_sketch")) {
        val p = plan(name)
        assert(p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin"),
          s"$name: corpus-frame join is not a hinted shuffled join:\n$p")
      }
      // d57's per-gram-site agg keys on (doc_id, gh) — the exact
      // corpus exchange the diet rewired (a bare doc_id check would be
      // satisfied by the final per-doc rollup and pin nothing)
      val p57 = plan("d57_bloom_contamination")
      assert("hashpartitioning\\(doc_id#\\d+L?, gh#".r
        .findFirstIn(p57).isDefined,
        s"d57 gram-site agg does not key on (doc_id, gh):\n$p57")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q34 join keys carry the salt through the physical plan") {
    // the salted join must key on (k, _salt) — if Catalyst ever
    // simplified the salt away the hot key would re-collapse onto one
    // task at scale
    val p = plan("q34_salted_join")
    assert(p.contains("_salt"), s"salt column absent from the plan:\n$p")
  }

  test("d35 corpus-lake probe prunes source partitions at the file level") {
    // the scan of the partitionBy(source) corpus must carry a non-empty
    // source PartitionFilters — other sources' files are never opened
    val p = TextQueries.d35Probe(spark, TestSpark.sf0001, "src1")
      .queryExecution.executedPlan
    val scan = fileScans(p).find(reads(_, "graft_corpus_"))
      .getOrElse(fail(s"no corpus FileScan in plan:\n$p"))
    assert(prunes(scan, "source"),
      s"no source PartitionFilters on the corpus scan:\n$scan")
  }

  test("q35 injects a runtime bloom filter on the fact side") {
    // via the Catalog plan hook — the path every plan consumer takes
    val p = Catalog.auditPlan(spark, TestSpark.sf0001, "q35_bloom_join")
      .toString
    assert(p.toLowerCase.contains("bloomfilter") ||
      p.toLowerCase.contains("might_contain"),
      s"no runtime bloom filter in the plan:\n$p")
  }

  test("d39 scoring joins are broadcast: no sort-merge join, no cartesian") {
    // the llr table is bounded (<= 4096 rows) and the totals row is a
    // scalar — both must reach the gram stream as broadcasts; a
    // sort-merge rewrite would put a full gram-stream sort on every
    // scored corpus
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d39_importance_resample")
      assert(p.contains("BroadcastHashJoin"), s"llr join not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"sort-merge join in scorer:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in scorer:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d39 stateless scorer is one projection: no Exchange, no Generate") {
    // the s14 stream path: with the llr table shipped as a literal the
    // scorer must stay a map-only pass (the d38 discipline) — an
    // explode+join rewrite would reintroduce the shuffle the split
    // exists to avoid
    val llr = TextQueries.irLlrArray(spark, TestSpark.sf0001)
    val p = TextQueries.importanceScoreStateless(
      graft.Tables(spark, TestSpark.sf0001, "documents"), llr,
      TextQueries.irBuckets)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"stateless scorer shuffles:\n$p")
    assert(!p.contains("Generate"), s"stateless scorer explodes:\n$p")
  }

  test("v19 cell-size join is broadcast and the code projection has no explode") {
    // cell sizes are a bounded (16-row) aggregate: they come back over
    // the corpus as a broadcast, and the cell code is the native
    // SignLshExpr projection — no posexplode (v19 uses band 0 only)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("v19_diversity_sample")
      assert(p.contains("BroadcastHashJoin"), s"cell-size join not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"sort-merge join in v19:\n$p")
      assert(!p.contains("Generate"), s"explode in v19:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d45 BM25: query side broadcasts, top-k has no Window, no cartesian") {
    // the inverted-index shape: posting-list and doc-length joins are
    // corpus-keyed (sort-merge is fine there), but the QUERY term set
    // must reach the corpus as a broadcast, the per-query top-k must
    // be the bounded-heap aggregate (a rank Window over the scored
    // pairs would sort every query's full candidate list), and nothing
    // may go cartesian (the scalar stats attach is a broadcast nested
    // loop, which prints as BroadcastNestedLoopJoin, not
    // CartesianProduct)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d45_bm25_retrieval")
      assert(p.contains("BroadcastHashJoin"), s"query side not broadcast:\n$p")
      assert(!p.contains("Window"), s"rank window in BM25 top-k:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in BM25:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d46 KMV sketch: bounded-heap min-k, no Window over the hash stream") {
    // the k smallest hashes per source must come from the
    // ObjectHashAggregate bounded heap (oracle uses row_number, the
    // engine must not): a Window rewrite would sort every source's
    // full distinct-hash stream to keep 256 of them
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d46_kmv_distinct")
      assert(p.contains("ObjectHashAggregate"), s"no bounded-heap agg:\n$p")
      assert(!p.contains("Window"), s"rank window in KMV min-k:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d47 quantile window runs over the histogram, not the corpus") {
    // the cumulative window's input must be the (source, n_tokens)
    // hash aggregate — partitions bounded by the length DOMAIN — never
    // the raw doc stream. The plan prints top-down, so the aggregate
    // feeding the Window appears BELOW it: require a HashAggregate
    // line after the Window line.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d47_length_quantiles")
      val lines = p.linesIterator.toVector
      val wi = lines.indexWhere(_.contains("Window"))
      assert(wi >= 0, s"no window in d47:\n$p")
      assert(lines.drop(wi + 1).exists(_.contains("HashAggregate")),
        s"window input is not the histogram aggregate:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s17 stateless BM25 screen is map-only: no Exchange") {
    // the streaming split's contract: with the query index shipped as
    // a literal, scoring is in-row — the only Generate is the bounded
    // 5-element query-set fanout, and nothing shuffles
    val (qts, nd, tt) = TextQueries.bm25QueryIndex(spark, TestSpark.sf0001)
    val p = TextQueries.bm25ScoreStateless(
      graft.Tables(spark, TestSpark.sf0001, "documents"), qts, nd, tt)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"stateless BM25 screen shuffles:\n$p")
  }

  test("v23 triangle joins read the checkpointed edge set, not recompute it") {
    // the undirected kNN edge set appears five times (wedge close ×3,
    // degree count ×2); r22 pins the shape that computes it ONCE — the
    // distinct over the session-memoized prEdges cache is materialized
    // by a localCheckpoint at construction, so the triangle plan's
    // edge leaves are RDD scans, and neither the banded self-join nor
    // the cache-projection chain may reappear inside the final plan
    // (five re-derivations through the columnar cache scan measured
    // 3–5× the checkpointed form, TriProbe r22)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("v23_knn_triangles")
      assert(p.contains("Scan ExistingRDD"),
        s"edge set not a checkpointed leaf:\n$p")
      assert(!p.contains("graft_sign_lsh"),
        s"banded self-join re-derived inside v23:\n$p")
      assert(!p.contains("InMemoryTableScan"),
        s"edge set re-derived through the cache per consumer:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("kernels stay inside whole-stage codegen in d06/d07/d86/v09") {
    // AQE defers the codegen stages to the final plan; disable it for
    // this static check only. Every operator holding a KernelCall must
    // sit under a WholeStageCodegenExec (d06/d07 plus the benchmark's
    // other kernel-bearing batch queries, d86 and v09).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val want = Map(
        "d06_minhash_lsh" -> classOf[graft.functions.MinHashShinglesExpr],
        "d07_simhash" -> classOf[graft.functions.SimHash64Expr],
        "d86_bpe_encode" -> classOf[graft.functions.NormTokensExpr],
        "v09_knn_ivfpq" -> classOf[graft.functions.CosineExpr])
      for ((n, kernel) <- want) {
        val p = Catalog.queries(n)(spark, TestSpark.sf0001)
          .queryExecution.executedPlan
        val bad = KernelPlans.codegenViolations(p, kernel)
        assert(bad.isEmpty, s"$n: ${bad.mkString("; ")}:\n$p")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d59 weighted sample runs on the bounded heap, no Window over the corpus") {
    // the per-source top-k must come from the ObjectHashAggregate
    // bounded heap (the oracle uses row_number; the engine must not) —
    // a Window rewrite would sort every source's full doc stream
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d59_weighted_sample")
      assert(p.contains("ObjectHashAggregate"), s"no bounded-heap agg:\n$p")
      assert(!p.contains("Window"), s"rank window in the weighted sample:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d53 fuzzy decontamination probes a BROADCAST eval side, never a corpus self-join") {
    // the screen's scale contract: the benchmark suite is bounded, so
    // its banded codes must broadcast and the corpus side is probed
    // linearly — a shuffle self-join here would re-pay the d10 pair
    // engine's quadratic bucket occupancy on the whole corpus
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("d53_fuzzy_decontam")
      assert(p.contains("BroadcastHashJoin"),
        s"eval band codes not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in the screen:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s25 ledger probe never broadcasts the keeper ledger (corpus-proportional static side)") {
    // the block-keeper ledger is one row per distinct block hash — it
    // grows with the corpus — so the stream-static probe must stay
    // free to plan as a shuffled equi-join (x06's batch shape).
    // threshold=-1 models 100 TB stats: past it, only a broadcast()
    // HINT could still force an exchange, which is exactly the
    // regression this pin guards (VERDICT r12 finding 1).
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Tables.withConfs(spark, Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")) {
      val ledger =
        MultimodalQueries.blockKeeperLedger(spark, TestSpark.sf0001)
      val mem = MemoryStream[(Long, String)]
      mem.addData((7L, "graft block payload bytes " * 40))
      val blocks = MultimodalQueries.blockRows(mem.toDF()
        .select(col("_1").as("media_id"),
          col("_2").cast("binary").as("payload")))
      val q = MultimodalQueries.ledgerProbe(blocks, ledger)
        .writeStream.format("memory").queryName("s25_plan_probe")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val p = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val bcasts = p.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.isEmpty,
        s"keeper ledger must not broadcast into the stream:\n$p")
      assert(p.toString.contains("SortMergeJoin") ||
        p.toString.contains("ShuffledHashJoin"),
        s"expected a shuffled stream-static equi-join:\n$p")
    }
  }

  test("d57 bloom screen broadcasts only eval-bounded sides, no gram self-join") {
    // both broadcast sides (the position set and the exact-audit gram
    // set) are functions of the bounded eval suite (doc_id < 20); the
    // corpus side is probed linearly. threshold=-1 models corpus
    // stats, so any surviving exchange must come from a deliberate
    // hint and must sit over an eval-filtered subtree.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    graft.Tables.withConfs(spark, Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")) {
      val p = Catalog.queries("d57_bloom_contamination")(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      assert(!p.toString.contains("SortMergeJoin"),
        s"gram-key shuffle join in the bloom screen:\n$p")
      val bcasts = p.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, s"expected eval-side broadcasts:\n$p")
      val evalBound = "doc_id#\\d+L? < 20|LessThan\\(doc_id,20\\)".r
      bcasts.foreach { b =>
        // a ReusedExchange side is fine: exchange reuse can only point
        // at an exchange already in the plan, and the only sh-keyed
        // exchange here is the eval-gram dedup (doc_id < 20 below it),
        // which the directly-rendered broadcast side checks
        val sub = b.child.toString
        assert(evalBound.findFirstIn(sub).isDefined ||
          sub.contains("ReusedExchange"),
          s"broadcast side not bounded by the eval filter:\n$b")
      }
    }
  }

  test("d58 production decontam probes a broadcast eval band side, no corpus band self-join") {
    // the deployment screen's scale contract (the d53 pin applied to
    // the native-hash form): the eval suite's band codes broadcast
    // (bounded: doc_id < 100), and no join on the band/bucket keys is
    // a shuffle join — that would be the quadratic corpus self-join
    // the asymmetric screen exists to avoid.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    graft.Tables.withConfs(spark, Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false")) {
      val p = Catalog.queries("d58_fuzzy_decontam_prod")(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val ps = p.toString
      assert(ps.contains("BroadcastHashJoin"),
        s"eval band codes not broadcast:\n$ps")
      assert(!ps.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("band")),
        s"band-key shuffle join (corpus self-join shape):\n$ps")
      assert(!ps.contains("CartesianProduct"), s"cartesian in the screen:\n$ps")
      val bcasts = p.collect { case b: BroadcastExchangeExec => b }
      val evalBound = "doc_id#\\d+L? < 100|LessThan\\(doc_id,100\\)".r
      bcasts.foreach { b =>
        assert(evalBound.findFirstIn(b.child.toString).isDefined,
          s"broadcast side not bounded by the eval filter:\n$b")
      }
    }
  }

  test("d61 sketch-only source Jaccard has no gram-key self-join") {
    // the production form's whole point (VERDICT r12 item 3): after
    // the (source, gram) dedup everything is sketch-sized, every join
    // broadcasts the bounded pair domain, and the gram-key
    // SortMergeJoin that computes d54's exact-audit column must not
    // appear anywhere in the plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("d61_source_jaccard_prod", "d62_source_overlap_sketch")) {
        val p = plan(name)
        assert(!p.contains("SortMergeJoin"),
          s"$name: gram self-join in the sketch-only form:\n$p")
        assert(p.contains("ObjectHashAggregate"),
          s"$name: no bounded-heap sketch agg:\n$p")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("v27 filtered probe pushes the label pre-filter into the parquet scan") {
    // filtered ANN's scale contract: the metadata predicate is a SCAN
    // predicate (pre-filtering — parquet row groups skip before any
    // vector is touched), the per-query label match rides the
    // broadcast probe join's key, and ranking stays on the bounded
    // heap. A post-filter rewrite would pass the oracle (all-cells
    // probe) while silently under-filling the heap at selective
    // predicates — the under-fill itself is data-gated in
    // IvfIncrementalSpec; this pins the plan shape.
    val p = plan("v27_filtered_knn")
    assert("PushedFilters: \\[[^\\]]*In\\(label".r.findFirstIn(p).isDefined,
      s"label pre-filter not pushed to the embedding scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probes not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-sized join in the filtered probe:\n$p")
    assert(p.contains("graft_bounded_top_k"), s"unbounded top-k:\n$p")
  }

  test("d91 release composition derives every rung from one materialized base") {
    // the composed release's scale contract (r17 form): the heavy
    // rungs (span scrub, exact contamination, per-doc signatures)
    // come from the materialized release ledger — every FileScan in
    // the plan is that ledger's (once per live rung: the URL canon,
    // the sig election + coin join, the survivor filter) — while the
    // rungs d91 adds (keeper elections, packing) are the remaining
    // exchanges. Zero scans of the raw corpus, never a cartesian or
    // a global sort
    val plan = Catalog.queries("d91_corpus_release")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan
    val p = plan.toString
    val scans = fileScans(plan)
    assert(scans.nonEmpty && scans.forall(reads(_, "graft_release")),
      s"a d91 rung re-scans the raw corpus instead of the ledger:\n$p")
    assert(scans.size <= 4,
      s"d91 should read only the release ledger (<=4 rung reads), " +
        s"got ${scans.size}:\n$p")
    assert(!p.contains("documents.parquet"),
      s"d91 re-scans the raw corpus:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("rangepartitioning"),
      s"d91 grew a cartesian or global sort:\n$p")
  }

  test("manifest family reads the materialized screen report, not re-run pipelines") {
    // the r16 scan-economy contract: d60/d69/d70/d74/d79 all consume
    // ONE FileScan of the materialized per-doc screen report (written
    // once per session+dataset by screenReport), so none of them may
    // re-run a gram/vector pipeline — no minhash expression anywhere
    // in their executed plans, no scan of the documents fixture
    // itself, and exactly one parquet scan (the report) in each plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (q <- Seq("d60_curation_manifest_v2", "d69_curation_manifest_v3",
        "d70_contamination_report", "d74_source_datasheet",
        "d79_curation_manifest_v4")) {
      val p = Catalog.queries(q)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      val minhashNodes = p.collect {
        case n if n.expressions.exists(_.find(
          _.isInstanceOf[graft.functions.MinHashShinglesExpr]).isDefined) => n
      }
      assert(minhashNodes.isEmpty,
        s"fuzzy-screen gram pipeline re-run inside $q's query path:\n$p")
      val ps = p.toString
      val scans = ps.linesIterator.count(_.contains("FileScan"))
      assert(scans == 1, s"$q should read exactly the screen report " +
        s"(1 FileScan), found $scans:\n$p")
      assert(!ps.contains("documents.parquet"),
        s"$q re-scans the raw corpus instead of the screen report:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d30 v1 manifest reads the materialized scored table, not raw text") {
    // the same scan-economy contract extended to the v1 manifest
    // (VERDICT r16 next 3): the chunk-dedup + scoring front is
    // materialized once (curationV1Scored) and d30's plan touches
    // ONLY that artifact — no scan of the documents fixture, no
    // Generate (the chunk explode lives in the builder), and at most
    // two scans of the scored table (the budget window and the
    // epoch-join tail read it independently).
    val plan = Catalog.queries("d30_curation_manifest")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan
    val p = plan.toString
    val scans = fileScans(plan)
    assert(scans.nonEmpty && scans.forall(reads(_, "graft_cur_v1")),
      s"d30 re-scans the raw corpus instead of the scored table:\n$p")
    assert(scans.size <= 2,
      s"d30 should read the scored table at most twice, got ${scans.size}:\n$p")
    assert(!p.contains("documents.parquet"),
      s"d30 re-scans the raw corpus:\n$p")
  }

  test("d92 crawl ingest: fused map-only chains, one keeper election") {
    // the composed ingest's scale contract: page synthesis + URL
    // canon + extraction + scrub are string HOF column chains fused
    // into projections (no Generate — an explode would manufacture a
    // per-block row universe), the corpus is scanned at most twice
    // (the fused chain and the keeper-ledger branch), and the only
    // non-join shuffle is the canon-key keeper election — never a
    // window, cartesian, or global sort
    val p = Catalog.queries("d92_crawl_ingest")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans <= 2,
      s"d92 should scan the corpus at most twice (fused + ledger), got $scans:\n$p")
    assert(!p.contains("Generate"),
      s"d92 extraction must stay HOF column chains, not explode:\n$p")
    assert(!p.contains("Window ") && !p.contains("CartesianProduct") &&
      !p.contains("rangepartitioning"),
      s"d92 grew a window/cartesian/global sort:\n$p")
  }

  test("v24 drift audit: one bounded-key exchange, vectors never shuffled") {
    // per-cell counts are the only shuffle (hashpartitioning on the
    // 2^divBits bucket domain after map-side partials); the total row
    // attaches as a broadcast scalar. A plan that exchanges the vector
    // column or sorts anything has lost the audit's 100 TB shape.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("v24_cell_drift")
      // a ReusedExchange line repeats the reused node's description —
      // count only real exchanges (the totals branch reuses the
      // bucket-agg shuffle, which is exactly the shape we want)
      val hashEx = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") &&
          !l.contains("ReusedExchange"))
      assert(hashEx == 1, s"expected 1 bucket-key exchange, got $hashEx:\n$p")
      assert(!p.linesIterator.exists(l =>
        l.contains("Exchange") && l.contains(", v#")),
        s"vector column crosses an exchange:\n$p")
      assert(!p.contains("Sort "), s"sort in the drift audit:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s40 dup-span probe never broadcasts the dup-gram ledger (corpus-proportional static side)") {
    // the dup-gram ledger is one row per duplicated L-gram — it grows
    // with the corpus — so the stream-static probe must stay free to
    // plan as a shuffled equi-join (d71's batch shape); the s25
    // keeper-ledger pin applied to exact substring dedup.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Tables.withConfs(spark, Seq(
        "spark.sql.adaptive.enabled" -> "false")) {
      // the s40 shape as deployed: MATERIALIZED ledger, bucketed on gh
      val ledger = TextQueries.dupGramLedgerBucketed(spark, TestSpark.sf0001)
        .hint("merge")
      val mem = MemoryStream[(Long, String)]
      mem.addData((7L, "graft dup span probe tokens " * 4))
      val hits = TextQueries.gramSites(mem.toDF()
          .select(col("_1").as("doc_id"), col("_2").as("text")))
        .join(ledger, "gh")
      val q = hits.writeStream.format("memory").queryName("s40_plan_probe")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val p = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val bcasts = p.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.isEmpty,
        s"dup-gram ledger must not broadcast into the stream:\n$p")
      assert(p.toString.contains("SortMergeJoin") ||
        p.toString.contains("ShuffledHashJoin"),
        s"expected a shuffled stream-static equi-join:\n$p")
      // the bucketed layout's whole point: the static (ledger) side
      // crosses NO exchange per micro-batch — the only shuffle in the
      // joined plan is the probe (stream) side aligning to the buckets
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val shuffles = p.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size <= 1,
        s"expected at most the stream-side exchange, got ${shuffles.size}:\n$p")
      assert(!shuffles.exists(_.child.toString.contains("graft_led_")),
        s"bucketed ledger side must not re-exchange:\n$p")
    }
  }

  test("s43 copy-flow probe never broadcasts the copy-flow ledger") {
    // one row per duplicated gram with its origin site — corpus-
    // proportional like the s25/s40 ledgers, so the stream-static
    // probe must stay a shuffled equi-join
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Tables.withConfs(spark, Seq(
        "spark.sql.adaptive.enabled" -> "false")) {
      val ledger = TextQueries.copyFlowLedgerBucketed(spark, TestSpark.sf0001)
        .hint("merge")
      val mem = MemoryStream[(Long, String, String)]
      mem.addData((7L, "graft copy flow probe tokens " * 4, "srcX"))
      val flows = TextQueries.gramSitesSrc(mem.toDF()
          .select(col("_1").as("doc_id"), col("_2").as("text"),
            col("_3").as("source")))
        .join(ledger, "gh")
      val q = flows.writeStream.format("memory").queryName("s43_plan_probe")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val p = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val bcasts = p.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.isEmpty,
        s"copy-flow ledger must not broadcast into the stream:\n$p")
      assert(p.toString.contains("SortMergeJoin") ||
        p.toString.contains("ShuffledHashJoin"),
        s"expected a shuffled stream-static equi-join:\n$p")
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val shuffles = p.collect { case e: ShuffleExchangeExec => e }
      assert(!shuffles.exists(_.child.toString.contains("graft_led_")),
        s"bucketed ledger side must not re-exchange:\n$p")
    }
  }

  test("s51/d92 keeper ledger joins shuffled off the bucketed layout, never broadcast") {
    // the canonical-URL keeper ledger is corpus-proportional (one row
    // per distinct canonical URL), so its joins carry the same
    // no-broadcast discipline as the s40/s43 ledgers (ADVICE r17) —
    // and since r18 it is materialized bucketed on doc_id, so the
    // static side must read co-located buckets without re-exchanging
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.Tables.withConfs(spark, Seq(
        "spark.sql.adaptive.enabled" -> "false")) {
      // batch (d92) leg: executed plan must hold the shuffled shape
      val pd = Catalog.queries("d92_crawl_ingest")(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      assert(!pd.contains("BroadcastHashJoin"),
        s"d92 keeper join must not broadcast the URL keeper ledger:\n$pd")
      assert(pd.contains("SortMergeJoin") || pd.contains("ShuffledHashJoin"),
        s"d92 keeper join should be a shuffled equi-join:\n$pd")
      // streaming (s51-shaped) leg: keeper probe on a micro-batch
      val keepers = TextQueries.urlKeeperLedgerBucketed(spark, TestSpark.sf0001)
        .hint("merge")
      val mem = MemoryStream[(Long, String)]
      mem.addData((7L, "srcX"))
      val probe = mem.toDF()
        .select(col("_1").as("doc_id"), col("_2").as("source"))
        .join(keepers, "doc_id")
      val q = probe.writeStream.format("memory").queryName("s51_plan_probe")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val p = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(p.collect { case b: BroadcastExchangeExec => b }.isEmpty,
        s"URL keeper ledger must not broadcast into the stream:\n$p")
      assert(!p.collect { case e: ShuffleExchangeExec => e }
          .exists(_.child.toString.contains("graft_led_")),
        s"bucketed keeper ledger side must not re-exchange:\n$p")
    }
  }

  test("s43's site-proportional flows land in a distributed file sink, not the memory sink") {
    // r19: the copy-flow stream emits one row per duplicated gram SITE
    // (~tokens, not ~docs) — the only streaming output that is
    // corpus-site-proportional — so it must append to a distributed
    // sink; a memory sink here collects a corpus-proportional frame
    // onto the driver (OOM at real scale; it also dominated the x10
    // probe). The registered frame's rollup must therefore read back
    // from a parquet FileScan, not from an in-memory sink table
    // (LocalTableScan / MemoryPlan).
    val p = Catalog.queries("s43_stream_copy_flows")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("FileScan parquet"),
      s"s43 rollup does not read a distributed file sink:\n$p")
    assert(!p.contains("MemoryPlan") && !p.contains("LocalTableScan"),
      s"s43 rollup reads a driver-side sink table:\n$p")
  }

  // one plan build shared by the all-query sweep pins below (each
  // executedPlan at sf0.001 is cheap but 220 of them twice is not);
  // built under the suite's default confs (AQE on) — every toggling
  // test above restores its conf in a finally. The sweeps walk these
  // typed trees (KernelPlans), never a rendered plan string.
  private lazy val batchPlans: Seq[(String, SparkPlan)] =
    Catalog.queries.keys.toSeq.sorted.filterNot(_.startsWith("s"))
      .map(n => n -> Catalog.auditPlan(spark, TestSpark.sf0001, n))

  /** A shuffle hash-partitioned on a raw gram STRING column (sh/gram),
    * at any position of the key (a composite (doc_id, sh) key still
    * ships strings). */
  private def shufflesGramStrings(p: SparkPlan): Boolean =
    KernelPlans.collectWithSubqueries(p) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.exists {
      case h: HashPartitioning => h.expressions.exists(
        _.references.exists(a => a.name == "sh" || a.name == "gram"))
      case _ => false
    }

  test("no registered batch query shuffles corpus gram STRINGS") {
    // the r19 diet, generalized: an Exchange keyed on a raw gram
    // string column (sh/gram) re-pays ~40 B/key across every
    // corpus-proportional shuffle where the 8-byte xxhash64 key
    // carries the same equality pattern — so any such exchange must
    // come from a sanctioned site: the eval-bounded dedups that feed
    // broadcasts (d23/d33/d57, doc_id < 20 below them) or the
    // deliberately string-keyed bounded slice (d05, doc_id < 100).
    // A new query that shuffles gram strings fails here, not in a
    // bench round. (Vocab-bounded `term` exchanges are a different,
    // sanctioned class — Heaps-sublinear state; md5-hex SIGNATURE
    // keys are doc-proportional identities that ride as payload
    // anyway.)
    val sanctioned = Set("d05_ngram_jaccard", "d23_contamination",
      "d33_decontam_apply", "d57_bloom_contamination")
    val offenders = batchPlans.collect {
      case (n, p) if !sanctioned.contains(n) && shufflesGramStrings(p) => n
    }
    assert(offenders.isEmpty,
      "gram-STRING-keyed exchange outside the sanctioned eval-bounded " +
        s"sites: ${offenders.mkString(", ")} — key on xxhash64(gram) " +
        "and let the string-keyed oracle check the hash (the d54/d82 " +
        "discipline)")
    // canary: the sanctioned eval-bounded sites DO shuffle gram
    // strings (that is why they are listed) — if the detector ever
    // stops seeing them this sweep would pass vacuously
    assert(batchPlans.exists { case (n, p) =>
      sanctioned.contains(n) && shufflesGramStrings(p) },
      "detector matched no gram-string exchange anywhere")
  }

  // The d90 pin, generalized (VERDICT r18 next 6): join-key isnotnull
  // inference substitutes a derived column's WHOLE projection chain
  // into a pushed Filter condition without CSE — shared steps then
  // re-evaluate multiplicatively per row (measured 4-5× d90's entire
  // cost before the non-null fix). The signature is a single Filter
  // dense with heavy calls — every KernelCall (each a whole fused
  // fold, so ONE inlined into a Filter already doubles a corpus pass)
  // plus Spark's own hash/regexp/string builtins — so the sweeps fail
  // ANY registered query whose plan carries one. Legit plans stay
  // under the bound: a pushed hash-split or bloom screen carries 1-4
  // such calls; the d90 blowup carried 13+ (the whole canon chain,
  // twice).
  private val heavyBound = 6

  /** Worst heavy-call count over the plan's Filters. */
  private def worstHeavyFilter(p: SparkPlan): Int =
    KernelPlans.filterConditions(p).map(KernelPlans.heavyCalls(_).size)
      .maxOption.getOrElse(0)

  private def chainOffenders(plans: Seq[(String, SparkPlan)]): Seq[String] =
    plans.flatMap { case (n, p) =>
      val worst = worstHeavyFilter(p)
      if (worst > heavyBound) Some(s"$n (max $worst heavy calls in one Filter)")
      else None
    }.distinct

  test("no registered batch query pushes an inlined derived-column chain into a Filter") {
    val offenders = chainOffenders(batchPlans)
    assert(offenders.isEmpty,
      s"inlined-chain signature in pushed Filters (bound $heavyBound): " +
        offenders.mkString(", "))
    // canary: some queries legitimately filter on a hash (d15's
    // pmod(xxhash64) split, the bloom screens), so a healthy detector
    // must see at least one heavy call somewhere
    assert(batchPlans.exists { case (_, p) => worstHeavyFilter(p) > 0 },
      "detector saw zero heavy calls in any Filter")
  }

  test("the heavy-call detector counts every KernelCall, minhash signature included") {
    import spark.implicits._
    import graft.functions.GraftFunctions._
    // a synthetic Filter carrying 7 kernel calls — among them
    // graft_minhash_signature, which no hand-kept name list matched
    val toks = graft.text.TextOps.tokens($"text")
    val df = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .filter(simhash64(toks) =!= 0L &&
        size(minhashSignature(toks, 4)) === 4 && tokLenSum(toks) > 0 &&
        md5Prefix($"text".cast("binary"), 6) >= 0L)
    val p = df.queryExecution.executedPlan
    // norm_tokens ×3 + simhash + minhash + tok_len_sum + md5_prefix
    assert(worstHeavyFilter(p) == 7, p.toString)
    assert(chainOffenders(Seq("synthetic" -> p)).nonEmpty)
    assert(KernelPlans.filterConditions(p).exists(
      _.exists(_.isInstanceOf[graft.functions.MinHashSigExpr])))
  }

  // ---- r20: the sweep-wide guards extended to the 51 streaming plans
  // (VERDICT r19 next 4) ----
  // The batch sweeps above iterate registered BATCH queries only; the
  // stream lifts share the underlying builders, but their micro-batch
  // plans are planned separately (IncrementalExecution) and were never
  // swept. The registered s-queries run their streams eagerly inside
  // the query function and stop them before returning, so the executed
  // plans are captured from the listener bus instead:
  // SparkListenerSQLExecutionEnd carries the QueryExecution of EVERY
  // SQL execution — each micro-batch included — which is the only hook
  // that reaches a TERMINATED stream's plans. The capture also sweeps
  // the batch tails those queries run over their sinks: strictly more
  // coverage under the same discipline. The same run records, for every
  // stream a query starts, the checkpoint file manager and the artifact
  // isolation its session names at start (a StreamingQueryListener's
  // onQueryStarted runs before `start()` returns, so it sees the conf
  // the stream was started with).
  private case class StreamStart(query: String,
      manager: Option[String], isolation: Option[String])
  private lazy val streamCapture
      : (Seq[(String, SparkPlan)], Seq[StreamStart]) = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val starts = scala.collection.mutable.ArrayBuffer.empty[StreamStart]
    val current = new java.util.concurrent.atomic.AtomicReference[String]("")
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
            val n = current.get
            if (n.nonEmpty) GraftShims.executedPlan(e).foreach(p =>
              plans.synchronized { plans += n -> p })
          case _ => ()
        }
    }
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val startListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        val conf = Option(spark.streams.get(e.id)).map(_.sparkSession.conf)
        val start = StreamStart(current.get,
          conf.flatMap(_.getOption(StreamRunner.managerConf)),
          conf.flatMap(_.getOption(StreamRunner.isolationConf)))
        starts.synchronized { starts += start }
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(startListener)
    try {
      for (n <- Catalog.queries.keys.toSeq.sorted.filter(_.startsWith("s"))) {
        // flush stragglers from the previous query, then attribute
        GraftShims.waitListenerBus(spark.sparkContext)
        current.set(n)
        Catalog.queries(n)(spark, TestSpark.sf0001)
          .write.mode("overwrite").format("noop").save()
        GraftShims.waitListenerBus(spark.sparkContext)
        current.set("")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.streams.removeListener(startListener)
    }
    (plans.synchronized(plans.toVector), starts.synchronized(starts.toVector))
  }
  private def streamPlans: Seq[(String, SparkPlan)] = streamCapture._1

  private def streamStarts: Seq[StreamStart] = {
    val started = streamCapture._2
    val streaming = Catalog.queries.keys.filter(_.startsWith("s")).toSet
    assert(started.map(_.query).toSet == streaming,
      s"queries that started no stream: ${streaming -- started.map(_.query)}")
    started
  }

  test("every registered stream starts through StreamRunner's checkpoint file manager") {
    val bypass = streamStarts.collect {
      case st if !st.manager.contains(StreamRunner.managerClass) =>
        s"${st.query} (${st.manager})"
    }
    assert(bypass.isEmpty,
      s"streams started outside StreamRunner: ${bypass.distinct.mkString(", ")}")
  }

  test("every registered stream starts without artifact isolation") {
    // an isolated stream session gets its own executor classloader, and
    // the codegen cache keys on the loader: every start recompiles its
    // task-side classes (StreamRunner.isolationConf)
    val isolated = streamStarts.collect {
      case st if !st.isolation.contains("false") =>
        s"${st.query} (${st.isolation})"
    }
    assert(isolated.isEmpty,
      s"streams started with artifact isolation: ${isolated.distinct.mkString(", ")}")
    // the premise that makes sharing one loader safe: the engine adds no
    // jars or classes to a session
    val added = org.apache.spark.sql.artifact.ArtifactProbe.added(spark)
    assert(added.isEmpty, s"session artifacts added: $added")
  }

  test("no registered STREAMING query shuffles corpus gram STRINGS (micro-batch plans)") {
    // the batch guard's sanction rule, applied to the stream lifts:
    // stream twins of the eval-bounded decontam screens may shuffle
    // gram strings (their gram frames are bounded by the eval suite /
    // the d05 slice by construction, exactly like their batch forms)
    val sanctioned = Set("s23_stream_bloom_screen",
      "s24_stream_fuzzy_decontam", "s35_stream_semantic_decontam")
    val covered = streamPlans.map(_._1).distinct
    assert(covered.size >= 50,
      s"stream plan capture covered only ${covered.size} queries — " +
        "the listener plumbing is broken")
    // capture sanity: micro-batch plans must actually be present
    assert(streamPlans.exists { case (_, p) =>
      KernelPlans.collectWithSubqueries(p) { case e: ShuffleExchangeExec => e }.nonEmpty },
      "capture saw no Exchange anywhere")
    val offenders = streamPlans.collect {
      case (n, p) if !sanctioned.contains(n) && shufflesGramStrings(p) => n
    }.distinct
    assert(offenders.isEmpty,
      "gram-STRING-keyed exchange in a streaming plan outside the " +
        s"sanctioned eval-bounded sites: ${offenders.mkString(", ")} — " +
        "key on xxhash64(gram) (the d54/d82 discipline)")
  }

  test("no registered STREAMING query pushes an inlined derived-column chain into a Filter") {
    // the d90 guard over the captured micro-batch plans, same
    // detector and bound as the batch sweep
    val offenders = chainOffenders(streamPlans)
    assert(offenders.isEmpty,
      s"inlined-chain signature in streaming Filters (bound $heavyBound): " +
        offenders.mkString(", "))
    assert(streamPlans.exists { case (_, p) => worstHeavyFilter(p) > 0 },
      "detector saw zero heavy calls in any streaming Filter")
  }

  test("d90 keeper join is shuffled and the canon chain is not re-inlined into a filter") {
    // two r18 pins: (1) the urls frame is corpus-proportional, so the
    // canon-key join must shuffle — Catalyst's size estimate was
    // broadcasting the CORPUS side (BuildLeft); (2) `canon` is
    // non-nullable by construction, so join-key isnotnull inference
    // must NOT push an inlined copy of the 13-step canon chain into a
    // pre-projection Filter (measured 4-5x the query's whole cost)
    val p = plan("d90_url_canonical_dedup")
    assert(!p.contains("BroadcastHashJoin"),
      s"d90 must not broadcast either side of the canon join:\n$p")
    val inlinedFilter = p.linesIterator.exists(l =>
      l.contains("Filter ") && l.contains("stringsplitsql"))
    assert(!inlinedFilter,
      s"canon chain inlined into a Filter condition (isnotnull pushdown):\n$p")
  }

  test("d91 keeper elections join shuffled, never broadcast") {
    // d91's live rungs elect two corpus-proportional keeper tables
    // (canon-URL keepers, word-set-sig keepers) and join them back on
    // doc_id/sig: both derive from the materialized release ledger's
    // (small, fixture-scale) FileScan, so size-based planning WOULD
    // broadcast them — the merge hints pin the ledger discipline
    val p = Catalog.queries("d91_corpus_release")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"),
      s"d91 must not broadcast its corpus-proportional keeper tables:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"d91 keeper joins should be shuffled equi-joins:\n$p")
  }

  test("no Window over a term/vocab key in d17/d32/d52/d80/d81") {
    // the no-Window-over-gh pin's sibling (r14 verdict): windows don't
    // partial-aggregate, so a window PARTITIONED BY (or globally
    // ordered over) a term/vocabulary key funnels a hot key's whole
    // partition — corpus-sized for stopwords/boilerplate grams —
    // through ONE post-shuffle task. The de-skewed forms: d17 df via
    // groupBy(term)+join, d32 first-occurrence via a (bucket, term)
    // agg + term-key min, d52 via the count-of-counts histogram, d80
    // via TakeOrderedAndProject, d81 via the d41 salted-shard
    // pre-prune. This pin fails any regression back to a term-keyed
    // window partition.
    import org.apache.spark.sql.execution.window.WindowExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def windows(name: String): Seq[WindowExec] =
        Catalog.queries(name)(spark, TestSpark.sf0001)
          .queryExecution.executedPlan.collect { case w: WindowExec => w }
      // d17/d32/d52: no window node may even SEE a term column — the
      // surviving windows run post-agg (per-doc top-5, per-bucket cum,
      // per-source histogram cum) where term is out of scope or a
      // doc-bounded slice
      for (name <- Seq("d32_vocab_growth", "d52_token_gini")) {
        val offenders = windows(name).filter(w =>
          (w.partitionSpec ++ w.orderSpec.map(_.child))
            .exists(_.references.exists(_.name == "term")))
        assert(offenders.isEmpty,
          s"$name: window keyed on term: ${offenders.mkString("\n")}")
      }
      val d17w = windows("d17_tfidf_topterms")
      assert(d17w.nonEmpty, "d17: per-doc top-5 window missing")
      d17w.foreach { w =>
        assert(w.partitionSpec.nonEmpty &&
          w.partitionSpec.forall(_.references.exists(_.name == "doc_id")),
          s"d17: window not partitioned by doc_id: $w")
      }
      // d80: the global top-R must be a TakeOrderedAndProject — NO
      // window anywhere (the old form total-sorted the vocabulary
      // through one task)
      val d80plan = Catalog.queries("d80_zipf_fit")(spark, TestSpark.sf0001)
        .queryExecution.executedPlan
      assert(d80plan.collect { case w: WindowExec => w }.isEmpty,
        s"d80: window in the zipf plan:\n$d80plan")
      assert(d80plan.toString.contains("TakeOrderedAndProject"),
        s"d80: top-R is not TakeOrderedAndProject:\n$d80plan")
      // d81: every source-only rank window must sit ABOVE the salted
      // shard pre-prune (its subtree carries the srn <= R filter), and
      // the shard window itself must exist (partition arity >= 2)
      val d81w = windows("d81_source_zipf")
      assert(d81w.exists(_.partitionSpec.size >= 2),
        s"d81: salted shard pre-prune window missing: $d81w")
      d81w.filter(_.partitionSpec.size == 1).foreach { w =>
        import org.apache.spark.sql.execution.FilterExec
        val pruned = w.child.collect { case f: FilterExec
          if f.condition.toString.contains("srn") => f }
        assert(pruned.nonEmpty,
          s"d81: source-only window without the shard prune below it: $w")
      }
      // the gram/signature siblings (r15 sweep): d31's first-occurrence
      // and d34's keeper election are agg+join forms — no window over
      // the sh (boilerplate gram) or sig (dup-group) key may return
      for (name <- Seq("d31_ngram_novelty", "d34_incremental_dedup")) {
        assert(windows(name).isEmpty,
          s"$name: window over a gram/sig key returned:\n${windows(name)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // ---- r22: the §4.4 duplication pin (VERDICT r21 next 1) ----
  // r21's largest query-side win class was stopping the optimizer
  // re-evaluating an expensive derived column inside a pushed-down
  // Filter (tokensOnce / graft_opaque at ~50 sites: v31 ran 64 cosines
  // per row, d88 inlined the whole HTML build+extract chain, the text
  // family tokenized every row twice). The only durable evidence was
  // text files in plans/r21 — these sweeps make any reverted wrapper
  // (or a Spark upgrade changing the determinism-gated rules) fail a
  // test instead of silently re-doubling the hot projections.
  // Sanctioned: queries whose FILTER ITSELF is the only consumer of
  // the kernel (a direct `size(tokens(text)) >= n` gate with no
  // surviving toks projection — no duplication, and opacity there
  // would only block the filter's own placement): d07 and d17's
  // n_docs branch (the two documented direct-filter tokenize sites).
  private val directFilterSanctioned = Set(
    "d07_simhash", "d07d_simhash_digest", "d17_tfidf_topterms")

  /** Cosine, the tokenizer, or the html-extract regex in a Filter. */
  private def expensiveFilterHits(p: SparkPlan): Seq[Expression] =
    KernelPlans.filterConditions(p).flatMap(_.collect {
      case e: graft.functions.CosineExpr => e
      case e: graft.functions.NormTokensExpr => e
      case e: RegExpReplace if e.regexp.foldable &&
        String.valueOf(e.regexp.eval()).contains("<script") => e
    })

  private def expensiveOffenders(plans: Seq[(String, SparkPlan)]): Seq[String] =
    plans.collect {
      case (n, p) if !directFilterSanctioned.contains(n) &&
        expensiveFilterHits(p).nonEmpty => n
    }.distinct

  test("no registered batch query re-evaluates an expensive kernel inside a Filter") {
    val offenders = expensiveOffenders(batchPlans)
    assert(offenders.isEmpty,
      "expensive kernel (cosine / tokenizer / html-extract) inside a " +
        s"Filter condition: ${offenders.mkString(", ")} — a tokensOnce/" +
        "graft_opaque wrapper was dropped (guide §4.4: the optimizer " +
        "now evaluates that chain twice per row)")
    // canary: the sanctioned direct-filter sites DO carry the tokenizer
    // in a Filter (that is why they are listed)
    assert(batchPlans.exists { case (n, p) =>
      directFilterSanctioned.contains(n) && expensiveFilterHits(p).nonEmpty },
      "detector matched no kernel in any Filter")
  }

  test("no registered STREAMING query re-evaluates an expensive kernel inside a Filter") {
    // same guard over the captured micro-batch plans (+ their batch
    // sink tails): the stream lifts share the builders, so a dropped
    // wrapper doubles the per-trigger projection cost the marginal
    // axis measures
    val offenders = expensiveOffenders(streamPlans)
    assert(offenders.isEmpty,
      "expensive kernel inside a streaming Filter condition: " +
        s"${offenders.mkString(", ")} — a tokensOnce/graft_opaque " +
        "wrapper was dropped on a stream-shared builder")
  }

  test("the expensive-kernel detector fires on a dropped tokensOnce wrapper") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    def screen(toks: org.apache.spark.sql.Column) =
      docs.select($"doc_id", toks.as("toks")).filter(size($"toks") >= 3)
        .queryExecution.executedPlan
    assert(expensiveOffenders(Seq("bare" ->
      screen(graft.text.TextOps.tokens($"text")))) == Seq("bare"))
    assert(expensiveOffenders(Seq("wrapped" ->
      screen(graft.text.TextOps.tokensOnce($"text")))).isEmpty)
  }

  // A kernel evaluated twice in ONE Filter condition is the same
  // duplication at its smallest: join-key isnotnull inference plus a
  // pushed IN over the same derived column (the v27/v28/v30 cell
  // assignment did this with a 64-centroid scan) evaluates the fold
  // once per conjunct, and the surviving projection pays it again.
  private def duplicateOffenders(plans: Seq[(String, SparkPlan)]): Seq[String] =
    plans.flatMap { case (n, p) =>
      KernelPlans.filterConditions(p).flatMap(KernelPlans.duplicateKernels)
        .map(k => s"$n (${k.prettyName})")
    }.distinct

  test("no registered query evaluates the same kernel twice in one Filter") {
    val offenders = duplicateOffenders(batchPlans ++ streamPlans)
    assert(offenders.isEmpty,
      s"kernel evaluated more than once per Filter: ${offenders.mkString(", ")}")
    // the detector itself: the v27 shape over a synthetic frame
    import spark.implicits._
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    val cell = graft.ml.KMeans.assign($"v", cents).getField("cid")
    // range-backed: a local Seq would fold into a LocalTableScan
    val p = spark.range(8).select(array($"id" * 0.1, $"id" * 0.2).as("v"))
      .withColumn("cell", cell)
      .filter($"cell".isin(0, 1) && $"cell" =!= 2)
      .queryExecution.executedPlan
    assert(duplicateOffenders(Seq("synthetic" -> p)).nonEmpty, p.toString)
  }

  test("v31 semantic screen is a stateless projection: no exchange, no join") {
    // the eval matrix is a bounded literal inside the projection, so
    // the whole screen must plan as scan → filter → project — any
    // Exchange or join node means the eval side leaked back into the
    // plan as a relation and the stream lift (s35) would pay state
    // or shuffle for what should be a per-row fold
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("v31_semantic_decontam")
      assert(!p.contains("Exchange"), s"exchange in the screen:\n$p")
      assert(!p.contains("Join"), s"join in the screen:\n$p")
      assert(!p.contains("Sort "), s"sort in the screen:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
