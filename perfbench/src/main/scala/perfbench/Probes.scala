package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.damds.{Damds, DamdsKernels}
import graft.functions.GraftFunctions
import graft.mm.Gemm
import graft.text.TextOps
import graft.vec.VectorOps

/** Standalone timings of single modules, run only in a traced run after
  * the workload's passes. Each probe runs once untimed, then three
  * times; the median is reported. */
object Probes {
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def medianOf3(body: => Unit): Double = {
    body
    Stats.median(Seq.fill(3)(time(body)))
  }

  private def noop(df: => DataFrame): Double = medianOf3(Noop.write(df))

  /** `sources` plus the per-row kernels of `functions` over the fixture
    * columns, and the composite operators of `text` and `vec`. */
  def corpusLayers(spark: SparkSession, dir: String): Map[String, Metric] = {
    val docs = Tables(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
      GraftFunctions.normTokens(col("text")).as("toks"))
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val nd = docs.count()
    val tt = toks.agg(sum(size(col("toks")))).head().getLong(0)
    val vocab = Seq("data", "model", "the", "of", "and", "to")
    val s = Map(
      "sources.fixture_scan_s" ->
        (noop(docs) + noop(Tables(spark, dir, "embeddings"))),
      "functions.norm_tokens_s" -> noop(toks),
      "functions.minhash_shingles_s" -> noop(toks.select(
        GraftFunctions.minhashShingles(col("toks"), 3, 32))),
      "functions.gram_hashes_s" -> noop(toks.select(
        GraftFunctions.gramHashes(col("toks"), 5))),
      "functions.simhash64_s" -> noop(toks.select(
        GraftFunctions.simhash64(col("toks")))),
      "functions.md5_minhash_s" -> noop(toks
        .withColumn("sh", TextOps.shingles("toks", 3))
        .select(GraftFunctions.md5Minhash(col("sh"), 32))),
      "functions.bm25_sm_s" -> noop(toks.select(
        GraftFunctions.bm25Sm(
          GraftFunctions.termCounts(col("toks"), vocab),
          size(col("toks")).cast("long"),
          typedLit(Seq((0, 3L), (1, 2L), (4, 1L))), nd, tt))),
      "functions.gram_distinct_count_s" -> noop(toks.select(
        GraftFunctions.gramDistinctCount(col("toks"), 5))),
      "functions.cosine_s" -> noop(emb.select(
        GraftFunctions.cosine(col("v"), reverse(col("v"))))),
      "text.lsh_candidates_s" -> noop(TextOps.lshCandidates(
        toks.select(col("doc_id"),
          TextOps.minhashOfShingles("toks", 3, 32).as("sig")),
        "doc_id", 32, 8)),
      "text.fingerprints_s" -> noop(TextOps.fingerprints(docs, "doc_id", "text")),
      "text.chunk_dedup_s" -> noop(TextOps.chunkDedup(docs, "doc_id", "text", 8)),
      "vec.lsh_dup_pairs_s" -> noop(VectorOps.lshDupPairs(emb, "vec_id",
        VectorOps.hyperplanes(12 * 8, 64), 8, 0.9)),
      "vec.topk_per_query_s" -> noop(VectorOps.topKPerQuery(
        emb.where(col("vec_id") < 16).select(col("vec_id").as("qid"),
          col("v").as("q"))
          .crossJoin(emb)
          .select(col("qid"), col("vec_id"),
            VectorOps.dot(col("q"), col("v")).as("score")), 10)))
    s.map { case (k, v) => k -> Metric(v, "s") }
  }

  def streamLayers(spark: SparkSession, dir: String): Map[String, Metric] =
    Map("sources.fixture_scan_s" ->
      Metric(noop(Tables(spark, dir, "events")), "s"))

  /** Single-thread GEMM baseline, the gathered DA-MDS kernels called one
    * at a time, and a bare `Collectives.reduce`. */
  def iterativeLayers(spark: SparkSession, w: IterativeWorkload, seed: Long)
      : Map[String, Metric] = {
    val s = w.shape
    val a = Inputs.gemmBlock(seed, 0, s)
    val b = Inputs.gemmB(seed, s)
    val serial = medianOf3(Gemm.serialMultiply(a.data, a.blockRows,
      s.gemmInner, b, s.gemmCols))
    val serialGflops = 2.0 * a.blockRows * s.gemmInner * s.gemmCols / serial / 1e9

    val d = w.damdsConfig.targetDim
    val n = s.damdsN
    val raw = w.damdsInput(spark)
    val st = Damds.statistics(raw)
    val invs = 1.0 / st.sumSq
    val blocks = Damds.updateDistances(raw, st.positiveMin)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vblocks = blocks.rdd.map(bl =>
      (DamdsKernels.weightView(bl), DamdsKernels.vArray(bl)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    vblocks.count()
    val x = Inputs.damdsInit(seed, n, d)
    val tCur = w.damdsConfig.alpha * st.vmax / math.sqrt(2.0 * d)
    val stress = medianOf3(Damds.stress(spark, blocks, x, d, tCur, invs))
    var bcM: Array[Double] = null
    val bc = medianOf3 { bcM = Damds.bc(spark, blocks, x, d, tCur, n) }
    val mm = medianOf3(Damds.mm(spark, vblocks, x, d, n))
    val cg = medianOf3(Damds.cg(spark, vblocks, x, bcM, d, n,
      w.damdsConfig.cgIter, w.damdsConfig.cgThreshold, w.damdsConfig.exactCG))
    blocks.unpersist()
    vblocks.unpersist()

    import spark.implicits._
    val (sd, len) = (seed, s.reduceLen)
    val vecs = spark.range(0L, s.reduceParts.toLong, 1L, s.reduceParts)
      .map(i => Inputs.vector(sd, i.toInt, len))
      .persist(StorageLevel.MEMORY_AND_DISK)
    vecs.count()
    val reduce = medianOf3(graft.collectives.Collectives.reduce(vecs,
      graft.collectives.Collectives.vectorSum))
    vecs.unpersist()

    Map(
      "mm.serial_gflops" -> Metric(serialGflops, "GFLOP/s"),
      "damds.stress_s" -> Metric(stress, "s"),
      "damds.bc_s" -> Metric(bc, "s"),
      "damds.mm_s" -> Metric(mm, "s"),
      "damds.cg_s" -> Metric(cg, "s"),
      "damds.gathered_s" -> Metric(w.damdsGatheredSeconds, "s"),
      "collectives.reduce_s" -> Metric(reduce, "s"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val v = xs.sorted.toIndexedSeq
    val pos = q * (v.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, v.size - 1)
    v(lo) + (v(hi) - v(lo)) * (pos - lo)
  }

  /** The highest whole percentile that leaves at least ten of `n`
    * samples beyond it. */
  def tailPercentile(n: Int): Int =
    math.max(0, math.floor(100.0 * (1.0 - 10.0 / n)).toInt)
}
