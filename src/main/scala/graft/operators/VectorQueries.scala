package graft.operators

import graft.Tables
import graft.ml.KMeans
import graft.vec.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (vec_id, embedding
  * float[64], label): exact brute-force top-k cosine and the
  * random-hyperplane-LSH ANN/near-dup paths — ALL DuckDB-oracle
  * checked (bit-identical fold order; the LSH planes are injected into
  * the oracle SQL as full-precision literals so the banding itself is
  * reproduced cross-engine), with recall additionally asserted in
  * VectorOpsSpec.
  *
  * Scale notes: the exact path is a broadcast join of a small query set
  * against the full table + a two-phase bounded top-k (no window over a
  * low-cardinality partition key). The ANN path's only shuffle is the
  * (band, code) bucket join; candidate count per band is bounded by the
  * bucket size, and bands/bits are the recall/cost dials.
  */
/** Semantic-decontamination dials shared across query objects.
  * Standalone (no other state) so a cross-OBJECT SQL-literal
  * interpolation can never observe a partially-initialized object:
  * `VectorQueries.v22Sql` (a val) reads `TextQueries.d45Sql`, and
  * `TextQueries.d69Sql/d70Sql` interpolate these dials — with the
  * dials living inside VectorQueries, whichever object initialized
  * SECOND would read 0 mid-cycle and bake a degenerate `>= 0`
  * threshold into its oracle SQL (the CatalogSpec zero-constant
  * test caught this when a spec touched VectorQueries first). */
private[operators] object VectorDials {
  val sdEvalN = 50L
  val sdTau = 0.30
}

object VectorQueries {

  private val nQueries = 5
  private val topK = 10

  private def embeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
  }

  // ---- v01: exact top-k cosine for a fixed query set (oracle) ----
  private def v01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val scored = e.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
    VectorOps.topKPerQuery(scored, topK)
      .select($"qid", $"rank", $"vec_id", round($"score", 6).as("cosine"))
  }
  private val v01Sql = {
    val cos = VectorOps.cosineSql("e.embedding", "q.qv")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
       |           FROM embeddings WHERE vec_id < $nQueries),
       |     d AS (SELECT q.qid, e.vec_id, $cos AS score
       |           FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
       |     r AS (SELECT *, row_number() OVER (PARTITION BY qid
       |             ORDER BY score DESC, vec_id) AS rn FROM d)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id,
       |  round(score, 6) AS cosine
       |FROM r WHERE rn <= $topK""".stripMargin
  }

  // ---- oracle-side rendering of the sign-LSH banding ----
  // The hyperplanes are driver-side constants; the oracle injects the
  // SAME doubles as SQL literals (shortest round-trip repr, 'e0'
  // suffix so DuckDB parses DOUBLE, not DECIMAL) and reproduces the
  // banding bit-for-bit: index-order projection folds, sign at >= 0,
  // bit (p mod bits) inside band (p div bits), band id folded into the
  // high bits. Everything downstream (candidate join, exact rescoring,
  // ranking) is ordinary SQL, so the whole ANN path is cross-engine
  // checked, not just its exact sibling.
  private def fmtD(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }

  /** `WITH`-clause body for: e (cast vectors), pl (literal planes),
    * codes (vec_id, band, code) with `bits` bits per band. */
  private def lshCodesSql(planes: Array[Array[Double]], bits: Int): String = {
    val dim = planes.head.length
    val plRows = planes.zipWithIndex
      .map { case (row, p) => s"($p, ${row.map(fmtD).mkString("[", ", ", "]")})" }
      .mkString(", ")
    s"""e AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |  pl AS (SELECT p, w FROM (VALUES $plRows) pl(p, w)),
       |  dots AS (SELECT e.vec_id, pl.p,
       |      list_reduce(list_transform(generate_series(1, $dim),
       |        i -> e.v[i] * CAST(pl.w[i] AS DOUBLE)), (s, x) -> s + x) AS dot
       |    FROM e CROSS JOIN pl),
       |  codes AS (SELECT vec_id, p // $bits AS band,
       |      SUM(CASE WHEN dot >= 0e0 THEN 1 << (p % $bits) ELSE 0 END)
       |        + (p // $bits) * ${1 << bits} AS code
       |    FROM dots GROUP BY 1, 2)""".stripMargin
  }

  // ---- v02: ANN top-k via random-hyperplane LSH (oracle-checked) ----
  // 96 planes, 24 bands × 4 bits: tuned for ≥0.9 recall@10 on the
  // near-uniform fixture embeddings (top-10 cosines ≈ 0.24–0.4 ⇒ sign
  // agreement p ≈ 0.58, band hit 1−(1−p⁴)²⁴ ≈ 0.95). Clustered real
  // corpora get the same recall from far fewer/wider bands.
  private val bitsPerBand = 4
  private val nBands = 24
  private lazy val planes =
    VectorOps.hyperplanes(nBands * bitsPerBand, dim = 64, seed = 42L)

  private def v02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    // id-only through the band join (the discipline lshDupPairs/v04
    // already follow): the 24× posexplode and the candidate-dedup
    // shuffle carry (id, band, code) rows only — never the 64-dim
    // vectors, which would multiply the exchanged bytes by the band
    // count. Vectors are joined back exactly once per surviving
    // candidate for the exact rescoring.
    val banded = e
      .select($"vec_id", posexplode(
        VectorOps.bandCodes($"v", planes, bitsPerBand))
        .as(Seq("band", "code")))
    val qb = banded.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"band", $"code")
    val cands = banded.join(qb,
        Seq("band", "code")).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id")
      .dropDuplicates("qid", "vec_id")
    val qv = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val scored = cands.join(e, "vec_id").join(broadcast(qv), "qid")
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
    VectorOps.topKPerQuery(scored, topK)
      .select($"qid", $"rank", $"vec_id", round($"score", 6).as("cosine"))
  }
  // r22: the two bounded retrieval rankings (v01 exact, v02 ANN — both
  // nQueries×topK ≈ 50-row frames) are consumed by composed queries
  // that each re-derived the full corpus scoring pass per invocation:
  // v13 recall (both), v22 RRF fusion (exact + d45's lexical ranking),
  // v25 IVF recall curve (exact as ground truth). Memoized per
  // (session, dataset) like prEdges (the ivf/dsir amortization rule);
  // v01/v02 themselves keep deriving fresh — a query's own bench row
  // measures the derivation, not a cache read. count() materializes
  // under the builder's monitor (the tokenizedDocs pattern) so every
  // consumer reads settled blocks; each consumer scans the tiny cached
  // frame exactly once (the v23 lesson: repeated consumers of a cached
  // subtree must not re-derive through the columnar scan).
  private val exactTopCache =
    new SessionCache[String, DataFrame](_.unpersist())
  private def exactTop(s: SparkSession, dir: String): DataFrame =
    exactTopCache.getOrBuild(s, dir) {
      val t = v01(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      t
    }
  private val annTopCache =
    new SessionCache[String, DataFrame](_.unpersist())
  private def annTop(s: SparkSession, dir: String): DataFrame =
    annTopCache.getOrBuild(s, dir) {
      val t = v02(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      t
    }

  private lazy val v02Sql = {
    val cos = VectorOps.cosineSql("cv.v", "qv.v")
    s"""WITH ${lshCodesSql(planes, bitsPerBand)},
       |  qb AS (SELECT vec_id AS qid, band, code FROM codes WHERE vec_id < $nQueries),
       |  cand AS (SELECT DISTINCT q.qid, c.vec_id
       |           FROM codes c JOIN qb q ON c.band = q.band AND c.code = q.code
       |           WHERE c.vec_id <> q.qid),
       |  scored AS (SELECT cand.qid, cand.vec_id, $cos AS score
       |             FROM cand JOIN e cv ON cv.vec_id = cand.vec_id
       |                       JOIN e qv ON qv.vec_id = cand.qid),
       |  r AS (SELECT *, row_number() OVER (PARTITION BY qid
       |          ORDER BY score DESC, vec_id) AS rn FROM scored)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id,
       |  round(score, 6) AS cosine
       |FROM r WHERE rn <= $topK""".stripMargin
  }

  // ---- v03: embedding-cosine near-dup, exact on a bounded slice ----
  // The all-pairs form is the ORACLE for the LSH path (like d05 for
  // d06): exact over vec_id < sliceN so DuckDB can check it; the
  // unbounded production path is v04.
  private val dupTau = 0.30
  private val sliceN = 200

  private def v03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir).filter($"vec_id" < sliceN)
    val a = e.select($"vec_id".as("id_a"), $"v".as("va"))
    val b = e.select($"vec_id".as("id_b"), $"v".as("vb"))
    a.join(b, $"id_a" < $"id_b")
      .select($"id_a", $"id_b", VectorOps.cosine($"va", $"vb").as("c"))
      .filter($"c" >= dupTau)
      .select($"id_a", $"id_b", round($"c", 6).as("cosine"))
  }
  private val v03Sql = {
    val cos = VectorOps.cosineSql("a.embedding", "b.embedding")
    s"""WITH s AS (SELECT * FROM embeddings WHERE vec_id < $sliceN)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round($cos, 6) AS cosine
       |FROM s a JOIN s b ON a.vec_id < b.vec_id
       |WHERE $cos >= $dupTau""".stripMargin
  }

  /** v04: the scale path — LSH-blocked near-dup over the FULL table,
    * via `VectorOps.lshDupPairs`. Three scale rules (learned from a
    * 110 s sf0.1 run of the naive form):
    *  1. the band self-join carries IDS ONLY — vectors are fetched once
    *     per deduped pair, not once per colliding band;
    *  2. bands are 8-bit, so uniform random pairs collide in a band
    *     with p≈2^-8 and the candidate set stays near-linear (4-bit
    *     bands made candidates ≈ all pairs);
    *  3. every candidate is exact-verified, so precision vs the
    *     threshold is 1 by construction (subset-of-v03 asserted in
    *     spec); recall is asserted on injected true near-dups, the
    *     workload this blocking targets.
    */
  private def v04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r22: the banded-scoring pass reads the session-memoized front
    // (scoredBandPairs — the exact lshDupPairs construction); only the
    // τ-screen and output rounding stay per-query
    scoredBandPairs(s, dir).filter($"score" >= dupTau)
      .select($"id_a", $"id_b", round($"score", 6).as("cosine"))
  }
  private lazy val v04Sql = {
    val cos = VectorOps.cosineSql("va.v", "vb.v")
    s"""WITH ${lshCodesSql(planes, 8)},
       |  pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |            FROM codes a JOIN codes b
       |              ON a.band = b.band AND a.code = b.code
       |             AND a.vec_id < b.vec_id),
       |  scored AS (SELECT p.id_a, p.id_b, $cos AS c
       |             FROM pairs p JOIN e va ON va.vec_id = p.id_a
       |                          JOIN e vb ON vb.vec_id = p.id_b)
       |SELECT id_a, id_b, round(c, 6) AS cosine
       |FROM scored WHERE c >= ${fmtD(dupTau)}""".stripMargin
  }

  /** v05: IVF-style ANN — the partition-pruning scale path. A coarse
    * K-Means quantizer (k cells) is trained ONCE per dataset and the
    * cell-assigned corpus is materialized once (memoized + persisted —
    * at cluster scale this is the corpus *written* partitioned by cell,
    * so a probe reads nprobe/k of the data via real partition pruning).
    * A query probes only its `nprobe` nearest cells and runs exact
    * top-k inside them. Recall vs v01 asserted in spec.
    */
  private val ivfCells = 16
  private val nprobe = 4

  // Index build is the expensive, once-per-dataset step; queries must
  // not pay for it (memoized per session+dir). The quantizer is trained
  // driver-side on a bounded deterministic sample (KMeans.fitLocal) —
  // FAISS practice: a 16-cell quantizer never needs distributed jobs
  // over the corpus, so training cost is independent of corpus size. At
  // 100 TB the sample would be a TABLESAMPLE/reservoir; here the
  // pushdown-friendly `vec_id < sampleN` slice keeps it deterministic.
  // The only distributed work is the one-pass cell assignment, cached
  // (= the corpus written partitioned by cell).
  private val sampleN = 4096L

  /** The shared bounded deterministic training sample (id-sorted) every
    * index family (IVF, PQ, IVFADC) trains its quantizers on. */
  private def collectSample(s: SparkSession, dir: String)
      : Array[(Long, Array[Double])] = {
    import s.implicits._
    embeddings(s, dir).filter($"vec_id" < sampleN)
      .select($"vec_id", $"v").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Double]]("v").toArray))
      .sortBy(_._1)
  }

  // all four index caches below use SessionCache: the build thunks
  // persist() a DataFrame, so a first-call race under the raw TrieMap
  // pattern would leak the losing thunk's cached blocks (ADVICE r11)
  private val ivfCache = new SessionCache[String,
    (Array[Array[Double]], Array[(Long, Array[Double])], DataFrame)](
    { case (_, _, df) => df.unpersist() })

  private[operators] def ivfIndex(s: SparkSession, dir: String)
      : (Array[Array[Double]], Array[(Long, Array[Double])], DataFrame) = {
    ivfCache.getOrBuild(s, dir) {
      import s.implicits._
      val e = embeddings(s, dir)
      val sample = collectSample(s, dir)
      val init = sample.take(ivfCells).map(_._2) // lowest-id seeding, as initFromLowestIds
      val cents = KMeans.fitLocal(sample.map(_._2), init, maxIter = 3).centroids
      val assigned = e.select($"vec_id", $"v",
        KMeans.assign($"v", cents).getField("cid").as("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // no eager count: the first probe's single pruned scan populates
      // the cache as it runs; later probes hit the cached assignment
      (cents, sample, assigned)
    }
  }

  /** Shared IVF probe: each query's `nprobe` nearest cells are pure
    * driver math over the k×d centroid matrix + the already-collected
    * sample — zero extra jobs; the single distributed job is the pruned
    * candidate scan. The IN-list over probed cells is the
    * partition-pruning predicate: against the disk layout written
    * `partitionBy(cell)` it becomes a real PartitionFilter (only
    * nprobe/k of the files are read — asserted in PlanDisciplineSpec);
    * against the cached assignment it prunes the scan. */
  private[operators] def ivfProbe(corpus: DataFrame,
      cents: Array[Array[Double]], sample: Array[(Long, Array[Double])],
      nprobe: Int): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val qRows = sample.filter(_._1 < nQueries)
    val probeRows = qRows.flatMap { case (qid, qv) =>
      val near = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.sortBy(x => (x._1, x._2)).take(nprobe).map(_._2)
      near.map(cell => (qid, cell, qv.toSeq))
    }
    val probes = probeRows.toSeq.toDF("qid", "cell", "qv")
    val probedCells = probeRows.map(_._2).distinct.toSeq
    val cands = corpus.filter($"cell".isin(probedCells: _*))
      .join(broadcast(probes), "cell")
      .filter($"vec_id" =!= $"qid")
    val scored = cands
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
    VectorOps.topKPerQuery(scored, topK)
      .select($"qid", $"rank", $"vec_id", round($"score", 6).as("cosine"))
  }

  private def v05(s: SparkSession, dir: String): DataFrame = {
    val (cents, sample, assigned) = ivfIndex(s, dir)
    ivfProbe(assigned, cents, sample, nprobe)
  }

  // ---- v06: IVF over the corpus WRITTEN partitioned by cell ----
  // The durable form of v05's layout: the cell-assigned corpus is
  // written once per dataset as `partitionBy(cell)` parquet (at 100 TB
  // this is the index-build job a fleet of probes amortizes), and every
  // probe's cell IN-list prunes at the FILE level — the scan's
  // PartitionFilters skip nprobe/k of the directories before a byte is
  // read. The driver row probes ALL cells so the result is exactly the
  // brute-force top-k and the row is DuckDB-oracle-checked end to end
  // (layout, probe plumbing, scoring); the pruned nprobe=2 path and its
  // PartitionFilters are asserted in PlanDisciplineSpec/VectorQueriesSpec.
  // per-key slot locking + stale-session dir GC — see DiskLayoutCache
  private val ivfDisk = new DiskLayoutCache("graft_ivf")

  private[operators] def ivfDiskPath(s: SparkSession, dir: String)
      : String = ivfDisk.getOrBuild(s, dir) { path =>
    val (_, _, assigned) = ivfIndex(s, dir)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** Probe the disk layout with an arbitrary nprobe (test hook for the
    * pruned path; the driver row uses nprobe = all cells for oracle
    * exactness). */
  private[operators] def ivfDiskProbe(s: SparkSession, dir: String,
      np: Int): DataFrame = {
    val (cents, sample, _) = ivfIndex(s, dir)
    ivfProbe(Tables.parquet(s, ivfDiskPath(s, dir)), cents, sample, np)
  }

  private def v06(s: SparkSession, dir: String): DataFrame =
    ivfDiskProbe(s, dir, np = ivfCells)

  // ---- v07: int8 embedding quantization (storage-scale practice) ----
  // Symmetric per-vector int8 quantization — the 4× storage cut a
  // 100 TB embedding corpus takes before indexing — with its
  // reconstruction-error audit: scale = max|x|/127, q = ⌊x/scale+0.5⌋,
  // and per-vector max-abs / mean-squared reconstruction error. One
  // shuffle-free projection; determinism comes from floor-form
  // rounding (Spark round() is HALF_UP on doubles' decimal rendering,
  // DuckDB's is not — floor(x+0.5) is the same IEEE op sequence in
  // both) and index-order folds for the error sums.
  private def v07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddings(s, dir)
      .select($"vec_id", $"v",
        (greatest(array_max(transform($"v", x => abs(x))), lit(1e-30))
          / 127.0).as("scale"))
      .select($"vec_id", $"scale", $"v",
        expr("transform(v, x -> floor(x / scale + 0.5) * scale)").as("dq"))
      .select($"vec_id", $"scale",
        array_max(expr("zip_with(v, dq, (a, b) -> abs(a - b))"))
          .as("max_abs_err"),
        (expr("aggregate(zip_with(v, dq, (a, b) -> (a - b) * (a - b)), " +
          "cast(0.0 as double), (acc, x) -> acc + x)") / 64.0).as("mse"))
  }
  private val v07Sql =
    """WITH b AS (SELECT vec_id,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |           FROM embeddings),
      |  sc AS (SELECT vec_id, v,
      |           GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-30)
      |             / 127.0 AS scale
      |         FROM b),
      |  dq AS (SELECT vec_id, v, scale,
      |           list_transform(v, x -> floor(x / scale + 0.5) * scale) AS d
      |         FROM sc)
      |SELECT vec_id, scale,
      |  list_max(list_transform(generate_series(1, len(v)),
      |    i -> abs(v[i] - d[i]))) AS max_abs_err,
      |  list_reduce(list_transform(generate_series(1, len(v)),
      |    i -> (v[i] - d[i]) * (v[i] - d[i])), (acc, x) -> acc + x) / 64.0
      |    AS mse
      |FROM dq""".stripMargin

  // ---- v08: product-quantization ANN (ADC shortlist + exact rerank) ----
  // PQ (Jégou et al., "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011): split the 64-dim vector into pqM = 8
  // subspaces and vector-quantize each 8-dim slice against its own
  // pqK = 16-centroid codebook → an 8-code (8-byte) representation per
  // vector, 64× smaller than the float64 form. At 100 TB this is the
  // compressed corpus an exhaustive ADC scan actually reads: codebooks
  // are trained driver-side on the same bounded deterministic sample
  // as the IVF quantizer (training cost independent of corpus size),
  // the distributed encode is ONE shuffle-free projection (pqM native
  // nearest-centroid argmins over array slices — subspace argmin is
  // exactly the N6 kernel on a slice), and each vector's reconstructed
  // norm √Σ_j |c_{j,code_j}|² is precomputed at encode time from a
  // literal m×k table of sub-centroid norms (subspaces are disjoint,
  // so the per-subspace squared norms sum exactly).
  //
  // Scoring is asymmetric-distance (ADC): per query the driver builds
  // an m×k lookup table of subspace dot products dot(q_j, c_{j,k});
  // approx_cosine(q, x) = Σ_j LUT_j[code_j(x)] / (|q| · rnorm(x)) —
  // m table lookups per candidate, no vector arithmetic on the corpus
  // side, and the only per-candidate bytes in flight are (vec_id,
  // codes, rnorm). The ADC top-`pqShortlist` (bounded heap, same
  // two-phase top-k as v01) then joins VECTORS BACK BY ID once per
  // surviving candidate for exact rescoring — the id-only discipline
  // of v02/v04. Unlike v06 (whose registered row probes all cells),
  // the registered row here IS the pruned production path: the whole
  // chain (sampled training → encode → LUT score → shortlist heap →
  // id join-back → exact rerank) is deterministic (driver-side
  // training, per-row index-order folds, vec_id-tiebroken heap), so
  // its sf0.01 output is pinned as a golden VALUES oracle, and
  // VectorQueriesSpec independently recomputes the ADC shortlist in
  // plain Scala and asserts recall@10 vs the exact v01 answer.
  private val pqM = 8
  private val pqSub = 8 // 64 dims / 8 subspaces
  private val pqK = 16
  private val pqShortlist = 64

  private val pqCache = new SessionCache[String,
    (Array[Array[Array[Double]]], Array[(Long, Array[Double])], DataFrame)](
    { case (_, _, df) => df.unpersist() })

  /** Codebooks (m × k × d/m), the training sample, and the encoded
    * corpus (vec_id, codes array<int>, rnorm) — memoized per
    * session+dataset like the IVF index; the encoded corpus is the
    * durable PQ "index" a fleet of probes amortizes. */
  private[operators] def pqIndex(s: SparkSession, dir: String)
      : (Array[Array[Array[Double]]], Array[(Long, Array[Double])], DataFrame) = {
    pqCache.getOrBuild(s, dir) {
      import s.implicits._
      val e = embeddings(s, dir)
      val sample = collectSample(s, dir)
      val books: Array[Array[Array[Double]]] = Array.tabulate(pqM) { j =>
        val sub = sample.map(_._2.slice(j * pqSub, (j + 1) * pqSub))
        KMeans.fitLocal(sub, sub.take(pqK), maxIter = 3).centroids
      }
      // literal m×k sub-centroid squared norms → per-row reconstructed
      // norm, computed once at encode time (index-order folds)
      val snLut: Seq[Seq[Double]] =
        books.toIndexedSeq.map(_.toIndexedSeq.map(c => c.map(x => x * x).sum))
      val codeCols = (0 until pqM).map { j =>
        KMeans.assign(slice($"v", j * pqSub + 1, pqSub), books(j))
          .getField("cid").as(s"c$j")
      }
      val coded = e.select(($"vec_id" +: codeCols): _*)
        .select($"vec_id",
          array((0 until pqM).map(j => col(s"c$j")): _*).as("codes"))
        .select($"vec_id", $"codes",
          sqrt((0 until pqM).map(j =>
            element_at(typedLit(snLut(j)), element_at($"codes", j + 1) + 1))
            .reduce(_ + _)).as("rnorm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (books, sample, coded)
    }
  }

  /** ADC search with an arbitrary shortlist size (test hook; the
    * registered row uses pqShortlist). Query LUTs are pure driver math
    * over the m×k×(d/m) codebooks — zero extra jobs. */
  private[operators] def pqSearch(s: SparkSession, dir: String,
      shortlist: Int): DataFrame = {
    import s.implicits._
    val (books, sample, coded) = pqIndex(s, dir)
    val qRows = sample.filter(_._1 < nQueries).map { case (qid, qv) =>
      val dlut: Seq[Seq[Double]] = (0 until pqM).map { j =>
        val qs = qv.slice(j * pqSub, (j + 1) * pqSub)
        books(j).toIndexedSeq.map(c =>
          qs.zip(c).map { case (a, b) => a * b }.sum)
      }
      val qnorm = math.sqrt(qv.map(x => x * x).sum)
      (qid, dlut, qnorm)
    }.toSeq
    val q = qRows.toDF("qid", "dlut", "qnorm")
    val approx = coded.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        ((0 until pqM).map(j =>
          element_at(element_at($"dlut", j + 1),
            element_at($"codes", j + 1) + 1)).reduce(_ + _)
          / ($"qnorm" * $"rnorm")).as("score"))
    val short = VectorOps.topKPerQuery(approx, shortlist)
      .select($"qid", $"vec_id")
    // exact rerank: vectors fetched once per shortlisted id — the
    // shortlist (nQueries × L rows) broadcasts; the corpus never
    // shuffles its vectors
    val e = embeddings(s, dir)
    val qv = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val scored = e.join(broadcast(short), "vec_id")
      .join(broadcast(qv), "qid")
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
    VectorOps.topKPerQuery(scored, topK)
      .select($"qid", $"rank", $"vec_id", round($"score", 6).as("cosine"))
  }

  private def v08(s: SparkSession, dir: String): DataFrame =
    pqSearch(s, dir, pqShortlist)

  // ---- v09: IVF + residual PQ (IVFADC) — the composed 100 TB layout ----
  // The canonical billion-scale ANN architecture (Jégou et al. 2011;
  // FAISS IVFADC): vectors are L2-NORMALIZED (so L2 order ≡ cosine
  // order: ‖a−b‖² = 2−2·cos for unit vectors, making the ADC metric
  // and the final cosine rerank agree), coarse-quantized into cells
  // (v05's IVF — the pruning axis), and the RESIDUAL v̂ − c(cell) is
  // PQ-encoded (v08's codes — the compression axis). Residual encoding
  // is what makes the composition better than either part: residuals
  // concentrate near 0, so the same 8-byte budget quantizes far
  // tighter than raw-vector PQ. A probe ranks cells by driver math,
  // visits nprobe of them (the corpus scan is cell-pruned), scores
  // candidates by ADC — dist² ≈ ‖q−c‖² − 2·Σⱼ LUTⱼ[codeⱼ] + Σⱼ‖cⱼₖ‖²,
  // three lookup terms, no vector arithmetic — shortlists on the
  // bounded heap, and exact-reranks by cosine on the original vectors
  // joined back BY ID. Deterministic end to end (driver-side training,
  // index-order folds, id-tiebroken heaps): the registered pruned row
  // is golden-pinned; the probe-all-cells + full-shortlist path must
  // EQUAL v01 exactly (VectorOpsSpec — the non-circular gate), recall
  // and codes-only-shuffle plan asserts cover the pruned path.
  private val ivfPqCells = 16
  private val ivfPqNprobe = 4
  private val ivfPqShortlist = 64

  private val ivfPqCache = new SessionCache[String,
    (Array[Array[Double]], Array[Array[Array[Double]]],
      Array[(Long, Array[Double])], DataFrame)](
    { case (_, _, _, df) => df.unpersist() })

  /** Coarse centroids (over normalized vectors), residual codebooks,
    * the training sample, and the encoded corpus (vec_id, cell, codes,
    * term3 = Σⱼ‖c_{j,codeⱼ}‖²) — the durable IVFADC index. */
  private[graft] def ivfPqIndex(s: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]],
        Array[(Long, Array[Double])], DataFrame) = {
    ivfPqCache.getOrBuild(s, dir) {
      import s.implicits._
      val e = embeddings(s, dir)
      val sample = collectSample(s, dir)
      def normalize(v: Array[Double]): Array[Double] = {
        val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-30)
        v.map(_ / n)
      }
      val sn = sample.map { case (id, v) => (id, normalize(v)) }
      val cents = KMeans.fitLocal(sn.map(_._2),
        sn.take(ivfPqCells).map(_._2), maxIter = 3).centroids
      def nearestCell(v: Array[Double]): Int = {
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var dd = 0.0; var j = 0
          while (j < v.length) { val t = v(j) - cents(c)(j); dd += t * t; j += 1 }
          if (dd < bd) { bd = dd; best = c }
          c += 1
        }
        best
      }
      val residuals = sn.map { case (_, v) =>
        val c = cents(nearestCell(v))
        Array.tabulate(v.length)(j => v(j) - c(j))
      }
      val books = Array.tabulate(pqM) { j =>
        val sub = residuals.map(_.slice(j * pqSub, (j + 1) * pqSub))
        KMeans.fitLocal(sub, sub.take(pqK), maxIter = 3).centroids
      }
      val snLut: Seq[Seq[Double]] =
        books.toIndexedSeq.map(_.toIndexedSeq.map(c => c.map(x => x * x).sum))
      // distributed one-pass encode: normalize → coarse cell → residual
      // (per-row centroid lookup from the broadcast literal) → per-
      // subspace argmin codes → ADC term3; all codegen'd column ops
      val centsLit = typedLit(cents.toIndexedSeq.map(_.toIndexedSeq))
      // norm hoisted to its own column: an aggregate INSIDE the
      // transform lambda would re-fold the whole vector per element
      // (O(d²) per row on the encode hot path)
      val withCell = e
        .select($"vec_id", $"v",
          greatest(sqrt(VectorOps.dot($"v", $"v")), lit(1e-30)).as("nrm"))
        .select($"vec_id", transform($"v", x => x / $"nrm").as("vn"))
        .select($"vec_id", $"vn",
          KMeans.assign($"vn", cents).getField("cid").as("cell"))
        .select($"vec_id", $"cell",
          zip_with($"vn", element_at(centsLit, $"cell" + 1),
            (a, b) => a - b).as("resid"))
      val codeCols = (0 until pqM).map { j =>
        KMeans.assign(slice($"resid", j * pqSub + 1, pqSub), books(j))
          .getField("cid").as(s"c$j")
      }
      val coded = withCell
        .select(($"vec_id" +: $"cell" +: codeCols): _*)
        .select($"vec_id", $"cell",
          array((0 until pqM).map(j => col(s"c$j")): _*).as("codes"))
        .select($"vec_id", $"cell", $"codes",
          (0 until pqM).map(j =>
            element_at(typedLit(snLut(j)), element_at($"codes", j + 1) + 1))
            .reduce(_ + _).as("term3"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (cents, books, sample, coded)
    }
  }

  /** IVFADC probe (test hook: nprobe/shortlist dials). Cell ranking
    * and per-(query, cell) LUTs are pure driver math; the distributed
    * work is one cell-pruned codes scan + the shortlist heap + the
    * id-keyed rerank join. */
  private[graft] def ivfPqSearch(s: SparkSession, dir: String,
      nprobe: Int, shortlist: Int): DataFrame = {
    val (_, _, _, coded) = ivfPqIndex(s, dir)
    ivfPqProbe(s, dir, coded, nprobe, shortlist)
  }

  private def ivfPqProbe(s: SparkSession, dir: String, coded: DataFrame,
      nprobe: Int, shortlist: Int): DataFrame = {
    import s.implicits._
    val (cents, books, sample, _) = ivfPqIndex(s, dir)
    val qRows = sample.filter(_._1 < nQueries).flatMap { case (qid, qv) =>
      val n = math.max(math.sqrt(qv.map(x => x * x).sum), 1e-30)
      val qn = qv.map(_ / n)
      val ranked = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(qn).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.sortBy(x => (x._1, x._2)).take(nprobe)
      ranked.map { case (qc2, cell) =>
        val c = cents(cell)
        val qr = Array.tabulate(qn.length)(j => qn(j) - c(j))
        val dlut: Seq[Seq[Double]] = (0 until pqM).map { j =>
          val qs = qr.slice(j * pqSub, (j + 1) * pqSub)
          books(j).toIndexedSeq.map(b =>
            qs.zip(b).map { case (a, x) => a * x }.sum)
        }
        (qid, cell, qc2, dlut)
      }
    }.toSeq
    val probes = qRows.toDF("qid", "cell", "qc2", "dlut")
    val probedCells = qRows.map(_._2).distinct
    val approx = coded.filter($"cell".isin(probedCells: _*))
      .join(broadcast(probes), "cell")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        (-($"qc2"
          - lit(2.0) * (0 until pqM).map(j =>
            element_at(element_at($"dlut", j + 1),
              element_at($"codes", j + 1) + 1)).reduce(_ + _)
          + $"term3")).as("score"))
    val short = VectorOps.topKPerQuery(approx, shortlist)
      .select($"qid", $"vec_id")
    val e = embeddings(s, dir)
    val qv = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val scored = e.join(broadcast(short), "vec_id")
      .join(broadcast(qv), "qid")
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
    VectorOps.topKPerQuery(scored, topK)
      .select($"qid", $"rank", $"vec_id", round($"score", 6).as("cosine"))
  }

  private def v09(s: SparkSession, dir: String): DataFrame =
    ivfPqSearch(s, dir, ivfPqNprobe, ivfPqShortlist)

  // ---- v11: IVFADC written to disk, probed with file-level pruning ----
  // The durable form of v09 (as v06 is of v05): the encoded corpus —
  // (vec_id, cell, codes, term3), 8-byte codes instead of 512-byte
  // vectors — is written ONCE per dataset `partitionBy(cell)`. This is
  // the on-disk FAISS-IVFADC shape for a 100 TB corpus: the index is
  // ~1.6% the size of the raw embeddings, and a probe's cell IN-list
  // becomes a real PartitionFilter, skipping (cells − nprobe)/cells of
  // the files before a byte is read (plan-asserted). Probe results are
  // identical to v09's (same dials, deterministic pipeline), so the
  // same pinned golden gates the write → partition-prune → scan → ADC
  // → rerank roundtrip end to end.
  // per-key slot locking + stale-session dir GC — see DiskLayoutCache
  private val ivfPqDisk = new DiskLayoutCache("graft_ivfpq")

  private[graft] def ivfPqDiskPath(s: SparkSession, dir: String)
      : String = ivfPqDisk.getOrBuild(s, dir) { path =>
    val (_, _, _, coded) = ivfPqIndex(s, dir)
    coded.write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  private[graft] def ivfPqDiskSearch(s: SparkSession, dir: String,
      nprobe: Int, shortlist: Int): DataFrame =
    ivfPqProbe(s, dir, Tables.parquet(s, ivfPqDiskPath(s, dir)),
      nprobe, shortlist)

  private def v11(s: SparkSession, dir: String): DataFrame =
    ivfPqDiskSearch(s, dir, ivfPqNprobe, ivfPqShortlist)

  // ---- v10: semantic dedup end-to-end (SemDeDup-shaped) ----
  // The embedding-space analogue of the d05→d14 text pipeline, composed
  // from two already-oracle-checked engines: v04's LSH-blocked
  // exact-verified cosine pairs (≥ τ) become edges, connected
  // components group transitive near-dup chains, and the min-id member
  // of each component is the keeper — the per-vector keep/drop decision
  // a semantic-dedup pass (SemDeDup, Abbas et al. 2023, at
  // production scale with cluster-restricted pairing) feeds into
  // curation. Every stage is SQL-reproducible (banding via literal
  // planes, cosine verify, recursive transitive closure), so the WHOLE
  // pipeline — not just its parts — is hash-gated against DuckDB.
  // Scale: id-only band join (v04), edge-endpoint-restricted label
  // propagation (d14); no stage is all-pairs.
  private def v10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    // r22: same τ-screen as v04, over the session-memoized front
    val pairs = scoredBandPairs(s, dir).filter($"score" >= dupTau)
      .select($"id_a", $"id_b")
    val nodes = e.select($"vec_id".as("id"))
    // The dup graph is tiny even when the corpus is not (sf0.1: 3,097
    // pairs over 1,905 endpoints, one dense 1,887-node component), so
    // the default bounded-gather dispatch solves it by driver
    // union-find — measured at sf0.1 the CC stage drops from 3.3-5.3 s
    // of distributed round overhead (star and propagation alike; ~10
    // shuffle-rounds against 3 k edges) to noise, and this oracle gate
    // is what proves the LOCAL engine end-to-end (d14/d21 pin the two
    // distributed engines). `useStar = true` names the engine a
    // past-the-bound edge set runs: alternating large-star/small-star
    // (O(log n) rounds — Kiveris et al.), robust to the long chains a
    // τ = 0.3 near-uniform corpus produces, where propagation would pay
    // one round per component diameter.
    val labels = graft.graph.ConnectedComponents.run(nodes, pairs,
      useStar = true)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select($"id".as("vec_id"), $"label".as("keeper"), $"cluster_size",
        ($"id" === $"label").cast("long").as("is_keeper"))
  }
  private lazy val v10Sql = {
    val cos = VectorOps.cosineSql("va.v", "vb.v")
    s"""WITH RECURSIVE ${lshCodesSql(planes, 8)},
       |  bpairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |             FROM codes a JOIN codes b
       |               ON a.band = b.band AND a.code = b.code
       |              AND a.vec_id < b.vec_id),
       |  ed AS (SELECT p.id_a, p.id_b
       |         FROM bpairs p JOIN e va ON va.vec_id = p.id_a
       |                       JOIN e vb ON vb.vec_id = p.id_b
       |         WHERE $cos >= ${fmtD(dupTau)}),
       |  nodes AS (SELECT vec_id AS id FROM embeddings),
       |  sym AS (SELECT id_a AS src, id_b AS dst FROM ed
       |          UNION ALL SELECT id_b, id_a FROM ed),
       |  r AS (SELECT id, id AS lab FROM nodes
       |        UNION
       |        SELECT sym.src AS id, r.lab FROM sym JOIN r ON r.id = sym.dst),
       |  lbl AS (SELECT id, min(lab) AS keeper FROM r GROUP BY id),
       |  szc AS (SELECT keeper, COUNT(*) AS cluster_size FROM lbl GROUP BY 1)
       |SELECT lbl.id AS vec_id, lbl.keeper, szc.cluster_size,
       |  CAST(lbl.id = lbl.keeper AS BIGINT) AS is_keeper
       |FROM lbl JOIN szc USING (keeper)""".stripMargin
  }

  // ---- v12: label-purity audit (nearest-exemplar confusion) ----
  // The embedding-QA pass a labeled corpus gets before training on the
  // labels: take one deterministic exemplar per label (the embedding of
  // the label's LOWEST vec_id — no training, so the whole audit is
  // SQL-reproducible), classify every vector to its nearest exemplar
  // (the native N6 argmin, lowest-label tiebreak), and emit the
  // (label, pred, n) confusion counts — diagonal mass = how separable
  // the label structure is in embedding space. Scale shape: a ≤ |labels|
  // driver gather for the exemplars, one shuffle-free codegen'd argmin
  // projection over the corpus, one confusion-matrix hash agg
  // (|labels|² cells at most).
  private def v12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"), $"label")
    val exRows = e.groupBy($"label").agg(min($"vec_id").as("vid"))
      .join(e.select($"vec_id".as("vid"), $"v".as("ev")), "vid")
      .select($"label", $"ev").collect() // bounded: one row per label
      .map(r => (r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Double]]("ev").toArray))
      .sortBy(_._1)
    val labels = exRows.map(_._1).toIndexedSeq
    e.select($"label",
        KMeans.assign($"v", exRows.map(_._2)).getField("cid").as("cid"))
      .select($"label",
        element_at(typedLit(labels), $"cid" + 1).as("pred"))
      .groupBy($"label", $"pred").agg(count(lit(1)).as("n"))
  }
  private val v12Sql = {
    val d2 = VectorOps.sqdistSql("e.v", "ex.ev")
    s"""WITH e AS (SELECT vec_id, label,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |    FROM embeddings),
       |  mex AS (SELECT label AS ex_label, min(vec_id) AS vid
       |    FROM e GROUP BY 1),
       |  ex AS (SELECT m.ex_label, e.v AS ev
       |    FROM mex m JOIN e ON e.vec_id = m.vid),
       |  d AS (SELECT e.vec_id, e.label, ex.ex_label, $d2 AS d2
       |    FROM e CROSS JOIN ex),
       |  p AS (SELECT vec_id, label, ex_label,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, ex_label)
       |        AS rn
       |    FROM d)
       |SELECT label, ex_label AS pred, CAST(count(*) AS BIGINT) AS n
       |FROM p WHERE rn = 1 GROUP BY 1, 2""".stripMargin
  }

  // ---- v13: ANN recall@k evaluation (the LSH path measured against
  // exact ground truth) ----
  // The eval every production ANN deployment runs before trusting an
  // index: per query, recall@10 = |ANN top-10 ∩ exact top-10| / 10,
  // composing two already-oracle-checked engines (v01 exact, v02 LSH)
  // so the ENTIRE measurement — both searches and the overlap count —
  // is cross-engine hash-gated, not just asserted in a spec. At scale
  // this runs over a bounded query sample while the corpus-side work
  // stays v02's banded shape; the exact side is the expensive
  // ground-truth pass you run once per index build. 6dp rounding uses
  // the floor(x·1e6 + 0.5) form (hits/k ratios of small integers sit
  // exactly on round() half-cases).
  private def v13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r22: both rankings read the session-memoized bounded frames
    // (exactTop/annTop) instead of re-deriving the two corpus passes
    val exact = exactTop(s, dir).select($"qid", $"vec_id")
    val ann = annTop(s, dir).select($"qid", $"vec_id", lit(1L).as("hit"))
    exact.join(ann, Seq("qid", "vec_id"), "left")
      .groupBy($"qid")
      .agg(count(lit(1)).as("k"), sum(coalesce($"hit", lit(0L))).as("hits"))
      .select($"qid", $"k", $"hits",
        (floor($"hits" / $"k" * 1e6 + 0.5) / 1e6).as("recall"))
  }
  // composed from the SIBLING ORACLES (v01Sql/v02Sql as derived
  // tables) exactly as the Scala side composes v01()/v02() — a future
  // tiebreak/rescore change to either sibling flows into the recall
  // ground truth automatically. Plain concatenation: stripMargin over
  // interpolated multi-line SQL would eat any line-leading pipes.
  private lazy val v13Sql =
    s"WITH ex10 AS (SELECT qid, vec_id FROM (\n$v01Sql\n) e1),\n" +
      s"ann10 AS (SELECT qid, vec_id FROM (\n$v02Sql\n) a1)\n" +
      s"""SELECT ex10.qid, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(SUM(CASE WHEN ann10.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hits,
         |  floor(CAST(SUM(CASE WHEN ann10.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS recall
         |FROM ex10 LEFT JOIN ann10 ON ann10.qid = ex10.qid
         |  AND ann10.vec_id = ex10.vec_id
         |GROUP BY 1""".stripMargin

  // ---- v14: kNN graph via LSH blocking (every vector's top-k) ----
  // The batch kNN-GRAPH build downstream pipelines consume (SemDeDup
  // clustering, label propagation, graph-based outlier pruning): every
  // vector gets its top-`graphK` nearest neighbors among its LSH band
  // candidates. v02 answers a bounded query set; this is the
  // all-vectors form, and the scale shape is v04's: 8-bit bands keep
  // the candidate set near-linear, the band self-join carries IDS
  // ONLY, vectors join back once per surviving candidate pair (each
  // unordered pair scored once, then mirrored into both directions),
  // and per-vector top-k is the bounded-heap aggregate — no window
  // over the corpus, no all-pairs stage anywhere. The banding is
  // reproduced in the oracle via literal hyperplanes (v02's rule), so
  // graph edges are cross-engine-gated, recall aside.
  private val graphK = 5
  private def v14(s: SparkSession, dir: String): DataFrame =
    knnGraph(s, dir, graphK)

  // r22: the 8-bit banded candidate scoring pass — distinct
  // (id_a < id_b) band-collision pairs joined back to the vectors and
  // exact-cosine scored — is shared by v04's τ-screen and v10's dup
  // graph (the identical lshDupPairs construction, same τ). Memoized
  // per (session, dataset) — the prEdges amortization rule one level
  // deeper. SCOPE, measured (r22 paired): only the single-scan
  // τ-filter consumers ride it (v04 0.75→0.18 isolated). knnGraph and
  // v17 were TRIED on the front and reverted with numbers — their
  // mirror-union + topK / double-label-join machinery over the
  // columnar cache scan read 0.75→0.91 (v14) and 0.90→1.18 (v17)
  // paired, i.e. at fixture scale the cache-read + extra stage
  // boundaries cost more than their inline banded derivation; the
  // per-consumer machinery over the cache must be a SINGLE scan (the
  // v23 lesson). count() materializes under the builder's monitor
  // (the tokenizedDocs pattern).
  private val scoredPairsCache =
    new SessionCache[String, DataFrame](_.unpersist())

  /** The raw (uncached) front derivation — exposed so the plan
    * discipline tests keep pinning the band-exchange contract (ids
    * only, vectors joined back once per deduped pair) on the plan
    * that actually pays it. */
  private[operators] def scoredBandPairsRaw(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val banded = e.select($"vec_id", posexplode(
        VectorOps.bandCodes($"v", planes, 8)).as(Seq("band", "code")))
    val pairs = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.code" === $"y.code" &&
        $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("id_a"), $"y.vec_id".as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(e.select($"vec_id".as("id_a"), $"v".as("va")), "id_a")
      .join(e.select($"vec_id".as("id_b"), $"v".as("vb")), "id_b")
      .select($"id_a", $"id_b",
        VectorOps.cosine($"va", $"vb").as("score"))
  }

  private def scoredBandPairs(s: SparkSession, dir: String): DataFrame =
    scoredPairsCache.getOrBuild(s, dir) {
      val t = scoredBandPairsRaw(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      t
    }

  /** v14's engine with the neighbor count as a dial — the registered
    * query pins `graphK`; ProductionDialsSpec re-runs it at the
    * production k on the 10× fixture to prove the plan shape is
    * k-independent. Derives INLINE (not via scoredBandPairs — see the
    * front's scope note: the mirror-union + topK machinery over the
    * columnar cache scan measured slower than this pipelined form). */
  private[graft] def knnGraph(s: SparkSession, dir: String, k: Int)
      : DataFrame = {
    import s.implicits._
    val scored = scoredBandPairsRaw(s, dir)
    val directed = scored.select($"id_a".as("qid"), $"id_b".as("vec_id"), $"score")
      .union(scored.select($"id_b".as("qid"), $"id_a".as("vec_id"), $"score"))
    VectorOps.topKPerQuery(directed, k)
      .select($"qid".as("vec_id"), $"rank", $"vec_id".as("nbr"),
        round($"score", 6).as("cosine"))
  }
  private lazy val v14Sql = {
    val cos = VectorOps.cosineSql("va.v", "vb.v")
    s"""WITH ${lshCodesSql(planes, 8)},
       |  pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |            FROM codes a JOIN codes b
       |              ON a.band = b.band AND a.code = b.code
       |             AND a.vec_id < b.vec_id),
       |  scored AS (SELECT p.id_a, p.id_b, $cos AS score
       |             FROM pairs p JOIN e va ON va.vec_id = p.id_a
       |                          JOIN e vb ON vb.vec_id = p.id_b),
       |  directed AS (SELECT id_a AS vid, id_b AS nbr, score FROM scored
       |               UNION ALL
       |               SELECT id_b, id_a, score FROM scored),
       |  r AS (SELECT *, row_number() OVER (PARTITION BY vid
       |          ORDER BY score DESC, nbr) AS rn FROM directed)
       |SELECT vid AS vec_id, CAST(rn AS BIGINT) AS rank, nbr,
       |  round(score, 6) AS cosine
       |FROM r WHERE rn <= $graphK""".stripMargin
  }

  // ---- v15: embedding outlier pruning (distance-ranked per cluster) ----
  // The embedding-QA pass before training: assign every vector to its
  // nearest coarse centroid (the N6 argmin — shuffle-free projection)
  // and flag each cluster's `outlierN` FARTHEST members — mislabeled /
  // out-of-distribution candidates a curation pipeline drops or routes
  // to review. Scale shape: per-cluster top-N runs on the bounded-heap
  // aggregate (a window PARTITION BY the k cluster ids would serialize
  // the corpus through k tasks). Raw-distance ordering is bit-safe
  // cross-engine (index-order folds both sides — the v01 rule).
  private val outlierN = 5
  private val outlierCells = 8
  private def v15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val cents = KMeans.initFromLowestIds(e, "vec_id", outlierCells)
    val scored = e
      .select($"vec_id", KMeans.assign($"v", cents).as("a"))
      .select($"a.cid".cast("long").as("qid"), $"vec_id",
        $"a.dist2".as("score"))
    VectorOps.topKPerQuery(scored, outlierN)
      .select($"qid".as("cid"), $"rank", $"vec_id",
        round($"score", 6).as("dist2"))
  }
  private val v15Sql = {
    val d2 = VectorOps.sqdistSql("e.embedding", "c.cv")
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
       |           FROM embeddings WHERE vec_id < $outlierCells),
       |  d AS (SELECT e.vec_id, c.cid, $d2 AS dist2
       |        FROM embeddings e CROSS JOIN c),
       |  a AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY dist2, cid) AS rn FROM d),
       |  asg AS (SELECT vec_id, cid, dist2 FROM a WHERE rn = 1),
       |  r AS (SELECT *, row_number() OVER (PARTITION BY cid
       |          ORDER BY dist2 DESC, vec_id) AS orn FROM asg)
       |SELECT cid, CAST(orn AS BIGINT) AS rank, vec_id,
       |  round(dist2, 6) AS dist2
       |FROM r WHERE orn <= $outlierN""".stripMargin
  }

  // ---- v17: hard-negative mining (cross-label near neighbors) ----
  // Contrastive-training data prep (DPR/Contriever-style retrievers):
  // for every vector, its `negK` most-similar vectors carrying a
  // DIFFERENT label — close in embedding space, wrong by supervision —
  // the hard negatives an in-batch-negatives trainer is starved of.
  // The engine is v14's banded kNN (id-only band self-join, vectors
  // joined back once per surviving pair) with the label carried
  // through the candidate join and MISMATCH filtered BEFORE scoring —
  // same-label pairs never reach the cosine, so at production scale
  // the dominant same-class candidate mass costs a predicate, not a
  // 64-dim fold. Labels ride the (id, label) projections, not the
  // band explosion, so exchanges stay narrow. Cross-engine: banding
  // via literal hyperplanes (v02's rule), per-vector top-k on the
  // bounded heap, lowest-id tiebreak — the whole mining pass is
  // hash-gated, not sampled.
  private val negK = 5
  private def v17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // derives INLINE (tried on the scoredBandPairs front r22, reverted
    // with numbers — see the front's scope note)
    val el = Tables(s, dir, "embeddings")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"), $"label")
    val banded = el.select($"vec_id", posexplode(
        VectorOps.bandCodes($"v", planes, 8)).as(Seq("band", "code")))
    val pairs = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.code" === $"y.code" &&
        $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("id_a"), $"y.vec_id".as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val scored = pairs
      .join(el.select($"vec_id".as("id_a"), $"v".as("va"),
        $"label".as("la")), "id_a")
      .join(el.select($"vec_id".as("id_b"), $"v".as("vb"),
        $"label".as("lb")), "id_b")
      .filter($"la" =!= $"lb")
      .select($"id_a", $"id_b", $"la", $"lb",
        VectorOps.cosine($"va", $"vb").as("score"))
    val directed = scored
      .select($"id_a".as("qid"), $"id_b".as("vec_id"), $"score")
      .union(scored.select($"id_b".as("qid"), $"id_a".as("vec_id"), $"score"))
    VectorOps.topKPerQuery(directed, negK)
      .join(el.select($"vec_id", $"label".as("neg_label")), "vec_id")
      .select($"qid".as("vec_id"), $"rank", $"vec_id".as("neg_id"),
        $"neg_label", round($"score", 6).as("cosine"))
  }
  private lazy val v17Sql = {
    val cos = VectorOps.cosineSql("va.v", "vb.v")
    s"""WITH ${lshCodesSql(planes, 8)},
       |  lab AS (SELECT vec_id, label FROM embeddings),
       |  pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |            FROM codes a JOIN codes b
       |              ON a.band = b.band AND a.code = b.code
       |             AND a.vec_id < b.vec_id),
       |  scored AS (SELECT p.id_a, p.id_b, $cos AS score
       |             FROM pairs p
       |             JOIN e va ON va.vec_id = p.id_a
       |             JOIN e vb ON vb.vec_id = p.id_b
       |             JOIN lab xa ON xa.vec_id = p.id_a
       |             JOIN lab xb ON xb.vec_id = p.id_b
       |             WHERE xa.label <> xb.label),
       |  directed AS (SELECT id_a AS vid, id_b AS nbr, score FROM scored
       |               UNION ALL
       |               SELECT id_b, id_a, score FROM scored),
       |  r AS (SELECT *, row_number() OVER (PARTITION BY vid
       |          ORDER BY score DESC, nbr) AS rn FROM directed)
       |SELECT r.vid AS vec_id, CAST(r.rn AS BIGINT) AS rank,
       |  r.nbr AS neg_id, nl.label AS neg_label,
       |  round(r.score, 6) AS cosine
       |FROM r JOIN lab nl ON nl.vec_id = r.nbr
       |WHERE r.rn <= $negK""".stripMargin
  }

  // ---- v16: matryoshka truncation recall ----
  // The dimension/quality dial modern embedding pipelines ship with
  // (Matryoshka Representation Learning, Kusupati et al. 2022): search
  // on the first n components of the stored vector — n·cost of the
  // 64-dim scan for the candidate pass — and measure what recall@k
  // survives each truncation against the full-dim exact answer. The
  // v13 measurement discipline applied to the truncation ladder:
  // truncated search, exact ground truth, and the overlap count are
  // ALL cross-engine (truncated cosine = the same index-order fold
  // over the first n components both sides), so the whole cost/recall
  // curve is hash-gated. Scale shape: ONE corpus pass — every rung's
  // cosine plus the full-dim ground truth are computed in the same
  // projection over the same broadcast-query join (a per-rung rewrite
  // would rescan the corpus once per rung), per-(rung, query) top-k
  // on a composite-keyed bounded heap, and recall is a self-join-free
  // rollup of the heap output (per-candidate rung-membership flags,
  // so the corpus lineage is never walked twice). Plan-asserted
  // single-scan in PlanDisciplineSpec. hits/k snaps floor-form
  // (v13's rule).
  private val mrlDims = Seq(8, 16, 32)
  private def v16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val allDims = mrlDims :+ 64 // 64 = the full-dim ground-truth rung
    val scored = e.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id", posexplode(array(allDims.map { n =>
        struct(lit(n.toLong).as("trunc_dim"),
          (if (n == 64) VectorOps.cosine($"v", $"qv")
          else VectorOps.cosine(slice($"v", 1, n), slice($"qv", 1, n)))
            .as("score"))
      }: _*)).as(Seq("pos", "rs")))
      .select($"qid", $"vec_id", $"rs.trunc_dim", $"rs.score")
    // composite heap key (qid x rung): qid*100 + dim, dims <= 64 < 100
    val top = VectorOps.topKPerQuery(
        scored.select(($"qid" * 100 + $"trunc_dim").as("qid"),
          $"vec_id", $"score"), topK)
      .select(expr("qid div 100").as("qid"),
        ($"qid" % 100).as("trunc_dim"), $"vec_id")
    // membership rollup instead of exact-joins-truncated: one row per
    // exact candidate with the set of rungs that also retrieved it
    top.groupBy($"qid", $"vec_id")
      .agg(max(when($"trunc_dim" === 64, 1L).otherwise(0L)).as("in_exact"),
        collect_set(when($"trunc_dim" =!= 64, $"trunc_dim")).as("in_dims"))
      .filter($"in_exact" === 1L)
      .select($"qid",
        explode(typedLit(mrlDims.map(_.toLong))).as("trunc_dim"),
        $"in_dims")
      .select($"trunc_dim", $"qid",
        array_contains($"in_dims", $"trunc_dim").cast("long").as("hit"))
      .groupBy($"trunc_dim", $"qid")
      .agg(count(lit(1)).as("k"), sum($"hit").as("hits"))
      .select($"trunc_dim", $"qid", $"k", $"hits",
        (floor($"hits" / $"k" * 1e6 + 0.5) / 1e6).as("recall"))
  }
  // composed from v01Sql as a derived table (the v13 rule) plus one
  // truncated-search CTE chain per rung; plain + concatenation
  // (stripMargin over interpolated multi-line SQL eats leading pipes)
  private lazy val v16Sql = {
    val per = mrlDims.map { n =>
      val cos = VectorOps.cosineSqlN("e.embedding", "q.qv", n)
      s"d$n AS (SELECT q.qid, e.vec_id, $cos AS score\n" +
        s"  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),\n" +
        s"r$n AS (SELECT *, row_number() OVER (PARTITION BY qid\n" +
        s"  ORDER BY score DESC, vec_id) AS rn FROM d$n),\n" +
        s"t$n AS (SELECT CAST($n AS BIGINT) AS trunc_dim, qid, vec_id\n" +
        s"  FROM r$n WHERE rn <= $topK)"
    }.mkString(",\n")
    val unions = mrlDims.map(n => s"SELECT * FROM t$n").mkString(" UNION ALL ")
    val exD = mrlDims.map(n =>
      s"SELECT CAST($n AS BIGINT) AS trunc_dim, qid, vec_id FROM ex")
      .mkString(" UNION ALL ")
    s"WITH q AS (SELECT vec_id AS qid, embedding AS qv\n" +
      s"  FROM embeddings WHERE vec_id < $nQueries),\n" +
      s"ex AS (SELECT qid, vec_id FROM (\n$v01Sql\n) e1),\n" +
      per + ",\n" +
      s"tr AS ($unions),\nexd AS ($exD)\n" +
      s"SELECT exd.trunc_dim, exd.qid, CAST(COUNT(*) AS BIGINT) AS k,\n" +
      s"  CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,\n" +
      s"  floor(CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)\n" +
      s"    / COUNT(*) * 1e6 + 0.5) / 1e6 AS recall\n" +
      s"FROM exd LEFT JOIN tr ON tr.trunc_dim = exd.trunc_dim\n" +
      s"  AND tr.qid = exd.qid AND tr.vec_id = exd.vec_id\n" +
      s"GROUP BY 1, 2"
  }

  // ---- v18: cluster-conditioned corpus profile ----
  // The audit the SemDeDup/cluster-curation papers run after
  // clustering: join each embedding's nearest-coarse-centroid cluster
  // (the N6 argmin over the v12/v15 exemplar seeding) back to the
  // DOCUMENT's text metadata on the shared id and profile every
  // (cluster, lang) cell — doc counts, token mass, mean length — the
  // table that tells a curator which embedding neighborhoods are
  // language-skewed or boilerplate-heavy before they prune. The one
  // registered operator that JOINS the text and vector modalities.
  // Scale shape: the argmin is a shuffle-free projection, the
  // doc↔vector join is a plain equi-join on the id (both sides
  // id-partitioned at corpus scale), and the profile is a bounded
  // (clusters × langs) hash agg with partials. Means are ratios of
  // exact integers (identical IEEE division both engines), snapped
  // floor-form.
  private val profileCells = 8
  private def v18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val cents = KMeans.initFromLowestIds(e, "vec_id", profileCells)
    val assigned = e.select($"vec_id",
      KMeans.assign($"v", cents).getField("cid").cast("long").as("cluster"))
    val docs = Tables(s, dir, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", $"lang",
        size(graft.text.TextOps.tokensOnce($"text")).cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars"))
    docs.join(assigned, $"doc_id" === $"vec_id")
      .groupBy($"cluster", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("tok_mass"),
        sum($"n_chars").as("char_mass"))
      .select($"cluster", $"lang", $"n_docs", $"tok_mass",
        (floor($"tok_mass" / $"n_docs" * 1e6 + 0.5) / 1e6).as("mean_tokens"),
        (floor($"char_mass" / $"n_docs" * 1e6 + 0.5) / 1e6).as("mean_chars"))
  }
  private val v18Sql = {
    val d2 = VectorOps.sqdistSql("e.v", "c.cv")
    s"""WITH ev AS (SELECT vec_id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |    FROM embeddings),
       |  c AS (SELECT vec_id AS cid, v AS cv FROM ev
       |        WHERE vec_id < $profileCells),
       |  d AS (SELECT e.vec_id, c.cid, $d2 AS dist2
       |        FROM ev e CROSS JOIN c),
       |  r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |          ORDER BY dist2, cid) AS rn FROM d),
       |  a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cluster
       |        FROM r WHERE rn = 1),
       |  t AS (SELECT doc_id, lang,
       |      CAST(len(string_split(lower(trim(
       |        regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)
       |        AS n_tokens,
       |      CAST(length(text) AS BIGINT) AS n_chars
       |    FROM documents WHERE length(trim(text)) > 0),
       |  j AS (SELECT a.cluster, t.lang, t.n_tokens, t.n_chars
       |        FROM t JOIN a ON t.doc_id = a.vec_id),
       |  g AS (SELECT cluster, lang, COUNT(*) AS n_docs,
       |      CAST(SUM(n_tokens) AS BIGINT) AS tok_mass,
       |      CAST(SUM(n_chars) AS BIGINT) AS char_mass
       |    FROM j GROUP BY 1, 2)
       |SELECT cluster, lang, n_docs, tok_mass,
       |  floor(CAST(tok_mass AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
       |    AS mean_tokens,
       |  floor(CAST(char_mass AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
       |    AS mean_chars
       |FROM g""".stripMargin
  }

  // ---- v19: density-equalized diversity sampling ----
  // The diversification step embedding-curation pipelines run AFTER
  // dedup (D4 / SemDeDup-adjacent): dense regions of embedding space
  // are over-represented crawl content, so sample each region down to
  // a common budget instead of sampling the corpus uniformly. Region =
  // sign-LSH cell (4 hyperplanes → 16 cells — the same seeded-plane
  // machinery v02/v04 gate cross-engine); each vector keeps with
  // probability min(1, cap / n_cell), so every cell's expected
  // survivor count is min(n_cell, cap) — dense cells are thinned
  // hardest and sparse cells pass untouched.
  //
  // Scale shape: the cell code is ONE native codegen'd projection
  // (SignLshExpr — no explode; v19 needs only band 0); cell sizes are
  // a BOUNDED hash agg (16 rows, partials before the exchange)
  // broadcast back over the corpus; the verdict is a projection. No
  // wide shuffle ever carries a vector.
  //
  // Exactness: u = (k + 0.5)/2^24 is dyadic (k a 24-bit md5 slice), so
  // u * n_cell is an EXACT double for any cell below 2^28 vectors and
  // the keep comparison against the integer cap cannot straddle a ulp.
  // At larger cells the product is correctly-rounded identically in
  // both engines (same operands, one IEEE multiply) — still bit-equal.
  private val divBits = 4
  private val divCap = 16L
  private lazy val divPlanes =
    VectorOps.hyperplanes(divBits, dim = 64, seed = 7L)

  /** (vec_id, bucket) cell assignment — one native projection. Input
    * needs (vec_id, v). */
  private def divCoded(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      element_at(VectorOps.bandCodes(col("v"), divPlanes, divBits), 1)
        .as("bucket"))

  /** The thinning coin: keep iff u * n_cell < cap (u a dyadic md5
    * fraction — see the exactness note above). */
  private def divKeep(withN: DataFrame): DataFrame = {
    val u = (graft.functions.GraftFunctions.md5Prefix(
      concat(col("vec_id").cast("string"), lit(":div")).cast("binary"), 6)
      .cast("double") + 0.5) / 16777216.0
    withN.select(col("vec_id"), col("bucket"), col("n_bucket"),
      (u * col("n_bucket") < divCap).cast("long").as("keep"))
  }

  private def v19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val coded = divCoded(embeddings(s, dir))
    val counts = coded.groupBy($"bucket").agg(count(lit(1)).as("n_bucket"))
    divKeep(coded.join(broadcast(counts), "bucket"))
  }

  /** Cell sizes as a DENSE bucket-indexed array — the bounded (2^bits
    * longs) driver gather the STATELESS sampler needs (the d39/s14
    * index-build pattern applied to v19). */
  private[operators] def divCellCounts(s: SparkSession, dir: String)
      : Array[Long] = {
    val arr = new Array[Long](1 << divBits)
    divCoded(embeddings(s, dir))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_bucket"))
      .collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Stateless diversity sampler against FIXED cell sizes: one native
    * projection + O(1) array lookups, no shuffle — lifts onto the
    * embedding readStream unchanged (s15). Value-identical to the
    * join form by construction (same counts, same coin); the s15
    * oracle gate pins it. Input needs (vec_id, v). */
  private[operators] def diversitySampleStateless(vecs: DataFrame,
      counts: Array[Long]): DataFrame = {
    require(counts.length == (1 << divBits), "counts must cover all cells")
    divKeep(divCoded(vecs).withColumn("n_bucket",
      element_at(typedLit(counts), (col("bucket") + lit(1L)).cast("int"))))
  }
  private[operators] lazy val v19Sql =
    s"""WITH ${lshCodesSql(divPlanes, divBits)},
       |  c AS (SELECT vec_id, CAST(code AS BIGINT) AS bucket FROM codes),
       |  n AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_bucket
       |        FROM c GROUP BY 1)
       |SELECT c.vec_id, c.bucket, n.n_bucket,
       |  CAST(CASE WHEN ((CAST('0x' || substr(md5(CAST(c.vec_id AS VARCHAR)
       |        || ':div'), 1, 6) AS INT) + 0.5e0) / 16777216.0e0) * n.n_bucket
       |      < $divCap THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM c JOIN n USING (bucket)""".stripMargin

  // ---- v20: quantization-error profile per density cell ----
  // The audit run before committing a compressed embedding layout:
  // int8 quantization error is not uniform across embedding space —
  // cells whose vectors have one dominant component quantize cleanly,
  // near-isotropic cells lose the most — and a per-REGION error table
  // tells the owner where compression hurts before recall does. v07's
  // per-vector symmetric-int8 audit aggregated over v19's sign-LSH
  // density cells (both already cross-engine): per cell, vector count,
  // mean MSE and worst per-component error.
  //
  // Scale shape: ONE projection computes the cell code (native
  // SignLshExpr) and the reconstruction error (index-order HOF folds)
  // side by side, into a BOUNDED (16-row) hash agg with partials — no
  // joins, no second pass, no vector ever crosses an exchange.
  //
  // Exactness: per-vector MSE is snapped floor-form then folded
  // through DECIMAL(18,6) so the cell sum is exact in any order (the
  // money-sum discipline); the mean divides that exact sum by an
  // exact count (identical IEEE division) and snaps. MAX over
  // bit-identical doubles cannot diverge.
  private def v20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val err = embeddings(s, dir)
      .select($"vec_id", $"v",
        (greatest(array_max(transform($"v", x => abs(x))), lit(1e-30))
          / 127.0).as("scale"))
      .select($"vec_id", $"v",
        expr("transform(v, x -> floor(x / scale + 0.5) * scale)").as("dq"))
      .select(
        element_at(VectorOps.bandCodes($"v", divPlanes, divBits), 1)
          .as("bucket"),
        array_max(expr("zip_with(v, dq, (a, b) -> abs(a - b))")).as("maxe"),
        (expr("aggregate(zip_with(v, dq, (a, b) -> (a - b) * (a - b)), " +
          "cast(0.0 as double), (acc, x) -> acc + x)") / 64.0).as("mse"))
    // int8 MSE lives at the 1e-6 scale, so the usual 6dp snap would
    // flatten the whole profile to its own grain — these two fields
    // snap at 1e-10 (DECIMAL(18,10) still spans ±1e8, far above any
    // cell sum)
    err.groupBy($"bucket")
      .agg(count(lit(1)).as("n_vecs"),
        sum((floor($"mse" * 1e10 + 0.5) / 1e10).cast("decimal(18,10)"))
          .as("smse"),
        max($"maxe").as("mx"))
      .select($"bucket", $"n_vecs",
        (floor($"smse".cast("double") / $"n_vecs" * 1e10 + 0.5) / 1e10)
          .as("mean_mse"),
        (floor($"mx" * 1e10 + 0.5) / 1e10).as("max_abs_err"))
  }
  private lazy val v20Sql =
    s"""WITH ${lshCodesSql(divPlanes, divBits)},
       |  sc AS (SELECT vec_id, v,
       |      GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-30)
       |        / 127.0 AS scale FROM e),
       |  dq AS (SELECT vec_id, v,
       |      list_transform(v, x -> floor(x / scale + 0.5) * scale) AS d
       |    FROM sc),
       |  pe AS (SELECT vec_id,
       |      list_max(list_transform(generate_series(1, len(v)),
       |        i -> abs(v[i] - d[i]))) AS maxe,
       |      list_reduce(list_transform(generate_series(1, len(v)),
       |        i -> (v[i] - d[i]) * (v[i] - d[i])), (acc, x) -> acc + x)
       |        / 64.0 AS mse
       |    FROM dq),
       |  cb AS (SELECT vec_id, CAST(code AS BIGINT) AS bucket FROM codes),
       |  g AS (SELECT cb.bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |      SUM(CAST(floor(pe.mse * 1e10 + 0.5) / 1e10 AS DECIMAL(18,10)))
       |        AS smse,
       |      MAX(pe.maxe) AS mx
       |    FROM pe JOIN cb USING (vec_id) GROUP BY 1)
       |SELECT bucket, n_vecs,
       |  floor(CAST(smse AS DOUBLE) / n_vecs * 1e10 + 0.5) / 1e10 AS mean_mse,
       |  floor(mx * 1e10 + 0.5) / 1e10 AS max_abs_err
       |FROM g""".stripMargin

  // ---- v21: PageRank centrality over the kNN graph ----
  // Graph-based data selection: rank every vector by its PageRank in
  // the v14 kNN graph — the centrality signal curation pipelines use
  // to pick cluster prototypes (keep the most central member of a
  // near-dup neighborhood) and to downweight isolated junk. The
  // operator is the standard distributed power iteration: per round,
  // one join of ranks to the edge list (keyed by src) and one hash agg
  // of contributions (keyed by dst) — corpus-keyed shuffles only,
  // partial-aggregated, nothing quadratic; rounds are a fixed unroll
  // (`prIters`, the m03/n09 fixed-iteration discipline). The edge set
  // (with outdegree attached) is built once, persisted, and memoized
  // per (session, dataset) with stopped-session eviction — the
  // ivf/dsir index pattern — because the iteration reuses it
  // `prIters` times in one lineage and the bench sweeps invoke the
  // query repeatedly.
  //
  // Exactness: mass is INTEGER micro-units end-to-end. Per round,
  // every edge ships floor(850·m / (1000·outdeg)) — integer floor
  // division in both engines — and each node restarts from a flat
  // 0.15 base, so every per-node value is an exact integer sum
  // (order-independent, no ulp anywhere); dangling-node mass is
  // deliberately dropped, the common sparse-PageRank simplification
  // (documented, identical both engines). `pagerank` is the single
  // IEEE division mass/1e6.
  private val prIters = 3
  private val prCache = new SessionCache[String, DataFrame](_.unpersist())

  private def prEdges(s: SparkSession, dir: String): DataFrame = {
    prCache.getOrBuild(s, dir) {
      import s.implicits._
      val edges = knnGraph(s, dir, graphK)
        .select($"vec_id".as("src"), $"nbr".as("dst"))
      val out = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
      edges.join(out, "src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  private def v21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ew = prEdges(s, dir)
    val nodes = embeddings(s, dir).select($"vec_id")
    var rank = nodes.select($"vec_id", lit(1000000L).as("mass"))
    for (_ <- 1 to prIters) {
      val contrib = ew
        .join(rank.select($"vec_id".as("src"), $"mass"), "src")
        .select($"dst".as("vec_id"),
          expr("(850 * mass) div (1000 * outdeg)").as("c"))
        .groupBy($"vec_id").agg(sum($"c").as("im"))
      rank = nodes.join(contrib, Seq("vec_id"), "left")
        .select($"vec_id",
          (lit(150000L) + coalesce($"im", lit(0L))).as("mass"))
    }
    rank.select($"vec_id", $"mass", ($"mass" / 1e6).as("pagerank"))
  }
  private lazy val v21Sql = {
    def iter(t: Int): String = {
      val prev = s"r${t - 1}"
      s"""c$t AS (SELECT ew.dst AS vec_id,
         |    CAST(SUM((850 * $prev.mass) // (1000 * ew.outdeg)) AS BIGINT) AS im
         |  FROM ew JOIN $prev ON ew.src = $prev.vec_id GROUP BY 1),
         |r$t AS (SELECT n.vec_id, CAST(150000 + COALESCE(c$t.im, 0) AS BIGINT) AS mass
         |  FROM n LEFT JOIN c$t USING (vec_id))""".stripMargin
    }
    s"""WITH knn AS ($v14Sql),
       |edges AS (SELECT vec_id AS src, nbr AS dst FROM knn),
       |outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |  FROM edges GROUP BY 1),
       |ew AS (SELECT e.src, e.dst, o.outdeg FROM edges e JOIN outd o USING (src)),
       |n AS (SELECT vec_id FROM embeddings),
       |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS mass FROM n),
       |""".stripMargin +
      (1 to prIters).map(iter).mkString(",\n") +
      s"\nSELECT vec_id, mass, mass / 1e6 AS pagerank FROM r$prIters"
  }

  // ---- v23: triangle count + clustering coefficient on the kNN graph ----
  // The local-density audit of the near-dup neighborhood graph: a
  // node's triangle count and clustering coefficient 2T/(d(d−1))
  // separate tight duplicate cliques (coeff → 1, candidates for
  // aggressive dedup) from hub-like false neighborhoods (high degree,
  // low coeff — LSH collision artifacts). Scale shape: the kNN edge
  // set is degree-bounded by construction (≤ 2k per node), so the
  // wedge join's per-key fanout is ≤ 2k and the triangle join is
  // edges × O(k) — never corpus-quadratic; the ordered a<b<c form
  // counts each triangle once, and the three identical edge-set
  // subtrees collapse to one computation via exchange reuse. All
  // counting is integer; the coefficient is one snapped division.
  //
  // r22: the edge list comes from the session-memoized persisted edge
  // set v21/v35 already share (`prEdges` — knnGraph's (src, dst) rows
  // exactly; the outdeg attach is an inner join against a group-by of
  // the edges themselves, so it can neither drop nor add rows). The
  // pre-r22 form re-derived the full banded self-join + cosine + topK
  // pipeline per invocation — the one remaining knnGraph consumer
  // outside the cache (the ivf/dsir amortization rule). `und` is then
  // localCheckpointed ONCE (the v35 per-round discipline): it feeds
  // five plan sites (degree count ×2, wedge close ×3), and measured
  // same-window the five re-derivations through the columnar cache
  // scan cost 4.0–7.2 s where the checkpointed leaf reads 0.9–1.5 s —
  // AQE's stage reuse does not collapse the five distinct subtrees
  // over an InMemoryTableScan (TriProbe decomposition, r22). The
  // checkpoint job runs at DataFrame construction, inside the bench's
  // timed region. Values are identical by construction: und is the
  // distinct least/greatest image of the same edge rows, and the
  // checkpoint is value-preserving.
  private def v23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val und = prEdges(s, dir)
      .select(least($"src", $"dst").as("a"),
        greatest($"src", $"dst").as("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select($"a".as("v")).unionAll(und.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("degree"))
    val tri = und.as("e1")
      .join(und.as("e2"), $"e1.b" === $"e2.a")
      .join(und.as("e3"), $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
      .select($"e1.a".as("ta"), $"e1.b".as("tb"), $"e2.b".as("tc"))
    val tn = tri.select($"ta".as("v")).unionAll(tri.select($"tb".as("v")))
      .unionAll(tri.select($"tc".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("triangles"))
    deg.join(tn, Seq("v"), "left_outer")
      .select($"v".as("vec_id"), $"degree",
        coalesce($"triangles", lit(0L)).as("triangles"),
        expr("case when degree < 2 then cast(0.0 as double) else " +
          "floor(2.0 * coalesce(triangles, cast(0 as bigint)) / " +
          "(degree * (degree - 1)) * 1e6 + 0.5) / 1e6 end").as("coeff"))
  }
  private lazy val v23Sql =
    s"""WITH knn AS ($v14Sql),
       |und AS (SELECT DISTINCT least(vec_id, nbr) AS a,
       |    greatest(vec_id, nbr) AS b FROM knn),
       |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS degree
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1),
       |tri AS (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
       |  FROM und e1 JOIN und e2 ON e1.b = e2.a
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tn AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS triangles
       |  FROM (SELECT ta AS v FROM tri UNION ALL SELECT tb FROM tri
       |    UNION ALL SELECT tc FROM tri) GROUP BY 1)
       |SELECT deg.v AS vec_id, degree,
       |  CAST(COALESCE(triangles, 0) AS BIGINT) AS triangles,
       |  CASE WHEN degree < 2 THEN 0e0 ELSE
       |    floor(2e0 * COALESCE(triangles, 0) /
       |      (degree * (degree - 1)) * 1e6 + 0.5) / 1e6 END AS coeff
       |FROM deg LEFT JOIN tn ON deg.v = tn.v""".stripMargin

  // ---- v22: hybrid retrieval — reciprocal-rank fusion of BM25 + kNN ----
  // The standard hybrid-retrieval combiner: fuse the lexical (d45
  // BM25 inverted index) and dense (v01 exact cosine kNN) top-10
  // rankings of the same query set with RRF — score(id) =
  // Σ 1/(60 + rank) over the rankings that retrieved it — and keep
  // each query's fused top-10. Scale shape: both inputs are ALREADY
  // bounded (top-k per query), so the fusion join and re-rank touch
  // O(queries·k) rows no matter the corpus size; the corpus-scale
  // work all lives in the two gated upstream engines. Exactness: each
  // RRF term is one IEEE divide of exact integers, the two-term sum
  // has a fixed operand order on both engines, and ties (a rank-r
  // lexical-only hit vs a rank-r dense-only hit score bit-identically)
  // break on id — so the fused ranking can never straddle a ulp.
  private def v22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r22: both input rankings read the session-memoized bounded
    // frames (TextQueries.bm25Top / exactTop) instead of re-deriving
    // the BM25 inverted-index pass and the exact-cosine corpus pass
    // per invocation — the fusion itself is a 100-row join + topK
    val lex = TextQueries.bm25Top(s, dir)
      .select($"qid", $"doc_id".as("id"), $"rank".as("lr"))
    val den = exactTop(s, dir)
      .select($"qid", $"vec_id".as("id"), $"rank".as("dr"))
    val fused = lex.join(den, Seq("qid", "id"), "full_outer")
      .select($"qid", $"id",
        (coalesce(lit(1.0) / ($"lr" + 60), lit(0.0)) +
          coalesce(lit(1.0) / ($"dr" + 60), lit(0.0))).as("score"))
    VectorOps.topKPerQuery(
        fused.select($"qid", $"id".as("vec_id"), $"score"), topK)
      .select($"qid", $"rank", $"vec_id".as("id"),
        expr("floor(score * 1e6 + 0.5) / 1e6").as("rrf"))
  }
  // composed from the sibling oracles (the v13 pattern): the fused
  // ranking is checked end-to-end against DuckDB running the SAME two
  // gated rankings plus the fusion arithmetic
  private val v22Sql =
    "WITH lx AS (SELECT * FROM (\n" + TextQueries.d45Sql + "\n) lxq),\n" +
      "dn AS (SELECT * FROM (\n" + v01Sql + "\n) dnq),\n" +
      "f AS (SELECT COALESCE(lx.qid, dn.qid) AS qid,\n" +
      "    COALESCE(lx.doc_id, dn.vec_id) AS id,\n" +
      "    COALESCE(1e0 / (lx.rank + 60), 0e0)\n" +
      "      + COALESCE(1e0 / (dn.rank + 60), 0e0) AS score\n" +
      "  FROM lx FULL OUTER JOIN dn\n" +
      "    ON lx.qid = dn.qid AND lx.doc_id = dn.vec_id),\n" +
      "r AS (SELECT *, row_number() OVER (PARTITION BY qid\n" +
      "    ORDER BY score DESC, id) AS rn FROM f)\n" +
      "SELECT qid, CAST(rn AS BIGINT) AS rank, id,\n" +
      "  floor(score * 1e6 + 0.5) / 1e6 AS rrf\n" +
      s"FROM r WHERE rn <= $topK"

  // ---- v24: embedding distribution drift between ingest generations ----
  // The monitoring query a production embedding pipeline runs on every
  // refresh: did the NEW batch's distribution over embedding space move
  // against the corpus it joins? Cells are v19's sign-LSH density
  // buckets (bounded 2^divBits domain, one native projection — no
  // index, no training); generations here are vec_id parity (the
  // fixture's stand-in for old/new snapshot tags). Per cell: counts,
  // per-generation shares in exact ppm (integer floor-div of exact
  // longs — bit-equal both engines, no IEEE anywhere), and the ppm
  // drift; Σ drift/2 over cells is total-variation distance, left to
  // the reader of the 16-row result. Scale shape: one projection →
  // one BOUNDED (2^divBits-row) hash agg → broadcast scalar attach;
  // no corpus-sized shuffle ever carries a vector, any corpus size.
  /** The v24 counts as a shared transform: one native-LSH projection
    * into the bounded per-cell agg, so it runs over a batch scan or an
    * embedding readStream unchanged (s22 — complete-mode agg, state =
    * 2^divBits rows of counters). Input needs (vec_id, v). */
  private[graft] def cellDriftCounts(vecs: DataFrame): DataFrame =
    divCoded(vecs)
      .withColumn("gen", (col("vec_id") % 2).cast("long"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("gen") === 0L, 1L).otherwise(0L)).as("n_old"),
        sum(when(col("gen") === 1L, 1L).otherwise(0L)).as("n_new"))

  /** Ratio tail over the bounded counts table — a streaming sink
    * re-derives it per emission from the exact integer counts. */
  private[graft] def cellDriftRatios(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("n_old")).as("t_old"),
      sum(col("n_new")).as("t_new"))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_old"), col("n_new"),
        expr("n_old * 1000000 div t_old").as("share_old_ppm"),
        expr("n_new * 1000000 div t_new").as("share_new_ppm"),
        abs(expr("n_old * 1000000 div t_old")
          - expr("n_new * 1000000 div t_new")).as("drift_ppm"))
  }

  private def v24(s: SparkSession, dir: String): DataFrame =
    cellDriftRatios(cellDriftCounts(embeddings(s, dir)))
  private[operators] lazy val v24Sql =
    s"""WITH ${lshCodesSql(divPlanes, divBits)},
       |  c AS (SELECT vec_id, CAST(code AS BIGINT) AS bucket,
       |      vec_id % 2 AS gen FROM codes),
       |  n AS (SELECT bucket,
       |      CAST(SUM(CASE WHEN gen = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       |      CAST(SUM(CASE WHEN gen = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
       |    FROM c GROUP BY 1),
       |  t AS (SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
       |      CAST(SUM(n_new) AS BIGINT) AS t_new FROM n)
       |SELECT bucket, n_old, n_new,
       |  n_old * 1000000 // t_old AS share_old_ppm,
       |  n_new * 1000000 // t_new AS share_new_ppm,
       |  abs(n_old * 1000000 // t_old - n_new * 1000000 // t_new)
       |    AS drift_ppm
       |FROM n CROSS JOIN t""".stripMargin

  // ---- v25: IVF recall-vs-nprobe curve (index dial audit) ----
  // The measurement run before choosing an IVF probe budget: for the
  // fixed query set, what fraction of the EXACT top-k lives inside the
  // first n probed cells, for every candidate n at once — the m06
  // elbow / v16 matryoshka "dial curve" pattern applied to the v05
  // index. One pass: the exact neighbor set (the v01 engine) joins the
  // memoized cell assignment on vec_id, each query's full cell RANKING
  // rides in as a broadcast literal (driver math over k×d centroids —
  // the ivfProbe recipe), and a single bounded agg counts, per nprobe,
  // the neighbors whose cell rank clears it. Recall is an integer ppm
  // of exact counts. Scale shape: the corpus-sized work is the one
  // exact-scoring pass (ground truth by definition); everything
  // downstream is neighbors × |dials| rows. Oracle: pinned golden —
  // quantizer training is deterministic (lowest-id seeding, fixed
  // iters) but not SQL-expressible; the recall@4 row is additionally
  // consistent with v13's LSH-recall audit machinery by construction.
  private val rcProbes = Seq(1L, 2L, 4L, 8L, 16L)
  private def v25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cents, sample, assigned) = ivfIndex(s, dir)
    val qRank = sample.filter(_._1 < nQueries).map { case (qid, qv) =>
      val ranked = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.sortBy(x => (x._1, x._2)).map(_._2)
      (qid, ranked.toSeq)
    }.toSeq.toDF("qid", "cellrank")
    exactTop(s, dir).select($"qid", $"vec_id") // r22: memoized ground truth
      .join(assigned.select($"vec_id", $"cell"), "vec_id")
      .join(broadcast(qRank), "qid")
      .select(expr("array_position(cellrank, cell)").as("pos"))
      .select(explode(typedLit(rcProbes)).as("nprobe"), $"pos")
      .groupBy($"nprobe")
      .agg(count(lit(1)).as("n_pairs"),
        sum(($"pos" <= $"nprobe").cast("long")).as("hits"))
      .select($"nprobe", $"hits",
        expr("hits * 1000000 div n_pairs").as("recall_ppm"))
  }

  // ---- v26: ANN through the int8-quantized corpus ----
  // Retrieval THROUGH the compressed representation v07 audits: the
  // approximate scan scores int8 codes (a 4× smaller read than raw
  // doubles — at 100 TB the dominant cost is exactly that scan, and in
  // production this scoring runs inside the IVF-pruned cells), then a
  // bounded shortlist is reranked with exact full-precision cosine —
  // the v08 shortlist-rerank discipline on the scalar-quantized
  // layout. Exactness (no golden needed, unlike the PQ family): int8
  // codes are floor-form deterministic, the code dot product is EXACT
  // INTEGER arithmetic, and the ranking scalar (scale · qdot / ‖v‖)
  // is one IEEE multiply+divide of identical operands in both engines
  // — so shortlist membership, tie-breaks, and the reranked answer are
  // all cross-engine bit-equal, and the oracle is plain SQL.
  private val sqShortlist = 16
  private def v26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val coded = embeddings(s, dir)
      .select($"vec_id", $"v",
        (greatest(array_max(transform($"v", x => abs(x))), lit(1e-30))
          / 127.0).as("scale"))
      .select($"vec_id", $"v", $"scale",
        expr("transform(v, x -> cast(floor(x / scale + 0.5) as bigint))")
          .as("q"),
        sqrt(VectorOps.dotHof($"v", $"v")).as("nrm"))
    val queries = coded.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"q".as("qq"), $"v".as("qv"))
    val approx = coded.join(broadcast(queries), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        (($"scale" * expr("aggregate(zip_with(q, qq, (a, b) -> a * b), " +
          "cast(0 as bigint), (acc, x) -> acc + x)").cast("double"))
          / $"nrm").as("score"))
    val short = VectorOps.topKPerQuery(approx, sqShortlist)
    val rer = short.select($"qid", $"vec_id")
      .join(coded.select($"vec_id", $"v"), "vec_id")
      .join(broadcast(queries.select($"qid", $"qv")), "qid")
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
    VectorOps.topKPerQuery(rer, topK)
      .select($"qid", $"rank", $"vec_id", round($"score", 6).as("cosine"))
  }
  private lazy val v26Sql = {
    s"""WITH b AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sc AS (SELECT vec_id, v,
       |    GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0
       |      AS scale
       |  FROM b),
       |cd AS (SELECT vec_id, v, scale,
       |    list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
       |  FROM sc),
       |cdn AS (SELECT vec_id, v, scale, q, sqrt(${VectorOps.dotSql("v", "v")})
       |      AS nrm
       |  FROM cd),
       |qs AS (SELECT vec_id AS qid, q AS qq, v AS qv FROM cdn
       |  WHERE vec_id < $nQueries),
       |ap AS (SELECT qs.qid, cdn.vec_id,
       |    cdn.scale * CAST(list_reduce(list_transform(generate_series(1, 64),
       |      i -> cdn.q[i] * qs.qq[i]), (a, x) -> a + x) AS DOUBLE) / cdn.nrm
       |      AS score
       |  FROM cdn JOIN qs ON cdn.vec_id <> qs.qid),
       |sh AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)
       |        AS rn
       |    FROM ap) WHERE rn <= $sqShortlist),
       |rr AS (SELECT sh.qid, sh.vec_id,
       |    ${VectorOps.cosineSql("cv.v", "qs.qv")} AS score
       |  FROM sh JOIN b cv ON sh.vec_id = cv.vec_id
       |  JOIN qs ON sh.qid = qs.qid)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id,
       |  round(score, 6) AS cosine
       |FROM (SELECT qid, vec_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)
       |      AS rn
       |  FROM rr) WHERE rn <= $topK""".stripMargin
  }

  // ---- v27: filtered ANN (metadata predicate inside the pruned scan) ----
  // The vector-database "filtered search" shape: every query retrieves
  // only among corpus vectors satisfying a metadata predicate (here:
  // the query's own label — same-category retrieval; any attribute
  // column works the same way). The scale decision this query pins is
  // PRE-filtering: the predicate is applied ON THE INDEX SCAN — the
  // corpus side is reduced to the queries' label classes before any
  // vector is scored (a pushable `In` on a plain column, so at 100 TB
  // the parquet scan itself skips row groups), and the per-query label
  // match rides the probe join's equi-key, not a post-rerank trim.
  // Post-filtering (retrieve top-k, then filter) is the WRONG shape —
  // with a 10%-selective predicate it silently returns ~k/10 rows or
  // forces k×10 over-retrieval; with pre-filtering the heap always
  // fills from eligible candidates. The driver row probes ALL cells so
  // the result is exactly the filtered brute-force top-k and the whole
  // path (label plumbing, probe join, scoring) is DuckDB-oracle-checked;
  // the production nprobe-pruned path reuses the same code and is
  // recall-bounded in VectorOpsSpec, plan-pinned in PlanDisciplineSpec.
  /** Filtered IVF probe (test hook: nprobe dial). Candidate = probed
    * cell ∧ label = query's label, both applied before the cosine. */
  private[operators] def filteredIvfProbe(s: SparkSession, dir: String,
      np: Int): DataFrame = {
    import s.implicits._
    val (cents, sample, _) = ivfIndex(s, dir)
    // bounded driver gather: the nQueries query labels (5 rows)
    val qLabels = Tables(s, dir, "embeddings")
      .filter($"vec_id" < nQueries).select($"vec_id", $"label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val wantedLabels = qLabels.values.toSeq.distinct
    // the filter column rides the cell-assigned layout (in production
    // it is stored inline with the codes — that is what makes
    // pre-filtering a scan predicate instead of a join); the label
    // predicate is applied BEFORE the opaque cell assignment so it
    // still pushes into the scan
    val el = Tables(s, dir, "embeddings")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"), $"label")
      .filter($"label".isin(wantedLabels: _*)) // the pushed pre-filter
      .withColumn("cell", KMeans.cellOnce($"v", cents))
    val qRows = sample.filter(_._1 < nQueries)
    val probeRows = qRows.flatMap { case (qid, qv) =>
      val near = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.sortBy(x => (x._1, x._2)).take(np).map(_._2)
      near.map(cell => (qid, cell, qLabels(qid), qv.toSeq))
    }
    val probes = probeRows.toSeq.toDF("qid", "cell", "qlabel", "qv")
    val probedCells = probeRows.map(_._2).distinct.toSeq
    val cands = el
      .filter($"cell".isin(probedCells: _*))
      .join(broadcast(probes),
        el("cell") === probes("cell") && $"label" === $"qlabel")
      .filter($"vec_id" =!= $"qid")
    val scored = cands
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
    VectorOps.topKPerQuery(scored, topK)
      .select($"qid", $"rank", $"vec_id", round($"score", 6).as("cosine"))
  }
  private def v27(s: SparkSession, dir: String): DataFrame =
    filteredIvfProbe(s, dir, np = ivfCells)
  private val v27Sql = {
    val cos = VectorOps.cosineSql("e.embedding", "q.qv")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
       |           FROM embeddings WHERE vec_id < $nQueries),
       |     d AS (SELECT q.qid, e.vec_id, $cos AS score
       |           FROM embeddings e JOIN q ON e.vec_id <> q.qid
       |            AND e.label = q.ql),
       |     r AS (SELECT *, row_number() OVER (PARTITION BY qid
       |             ORDER BY score DESC, vec_id) AS rn FROM d)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, vec_id,
       |  round(score, 6) AS cosine
       |FROM r WHERE rn <= $topK""".stripMargin
  }

  // ---- v28: incremental IVF maintenance (merge ≡ recompute, for the index) ----
  // q38's incremental-view contract applied to the ANN index: the
  // corpus grows by a delta generation (fixture stand-in: vec_id mod 8
  // ∈ {6,7}), and the index is MAINTAINED, not rebuilt — the quantizer
  // was trained once on the base generation and is frozen (retraining
  // would re-shuffle every stored vector's cell; production IVF
  // deployments freeze the coarse quantizer for exactly this reason),
  // the base assignment is the persisted index, and the only new work
  // is assigning the DELTA rows (a scan of the delta, never of the
  // base) and appending. IvfIncrementalSpec proves the contract both
  // ways: merged index ≡ assigning the full corpus from scratch with
  // the same quantizer (cell-exact), and the probe through the
  // maintained index ≡ the probe through the recomputed one. At 100 TB
  // the base re-assignment this avoids is the whole corpus scan —
  // maintenance cost is proportional to the delta, the q38 bargain.
  // Oracle: pinned golden (quantizer training is deterministic —
  // lowest-id base-sample seeding, fixed iterations — but not
  // SQL-expressible; the probe dial is v05's nprobe).
  private val incMod = 8L
  private val incBaseSlots = 6L // vec_id % 8 < 6 → base, else delta
  private val ivfIncCache = new SessionCache[String,
    (Array[Array[Double]], Array[(Long, Array[Double])], DataFrame, DataFrame)](
    { case (_, _, base, _) => base.unpersist() })

  /** (quantizer, base training sample, persisted base index, merged
    * index). The merged frame is base ∪ delta-assignment; only `base`
    * is persisted (it IS the stored index; the delta leg stays lazy
    * so tests can re-plan it). */
  private[operators] def ivfIncIndex(s: SparkSession, dir: String)
      : (Array[Array[Double]], Array[(Long, Array[Double])], DataFrame, DataFrame) =
    ivfIncCache.getOrBuild(s, dir) {
      import s.implicits._
      val e = embeddings(s, dir)
      // quantizer: bounded deterministic sample of the BASE generation
      // only — at train time the delta did not exist
      val sample = collectSample(s, dir)
        .filter { case (id, _) => id % incMod < incBaseSlots }
      val init = sample.take(ivfCells).map(_._2)
      val cents = KMeans.fitLocal(sample.map(_._2), init, maxIter = 3).centroids
      val base = e.filter($"vec_id" % incMod < incBaseSlots)
        .select($"vec_id", $"v",
          KMeans.assign($"v", cents).getField("cid").as("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the probe's `cell IN (...)` pushes through the union onto
      // this lazy leg: the opaque cell keeps it to one centroid scan
      val delta = e.filter($"vec_id" % incMod >= incBaseSlots)
        .select($"vec_id", $"v", KMeans.cellOnce($"v", cents).as("cell"))
      (cents, sample, base, base.union(delta))
    }
  /** s29: the v05 probe lifted onto a query readStream. The batch
    * probe's cell ranking is driver math over the centroid matrix;
    * a stream's queries arrive at runtime, so the SAME ranking runs
    * IN THE PLAN: the k×d centroid matrix rides as a literal (bounded:
    * ivfCells×64 doubles) and one HOF pass per query computes
    * struct(dist², cid) per cell, array_sorts (lexicographic — exactly
    * the batch (dist, idx) tiebreak), and explodes the first `np`
    * cells. The static cell-assigned corpus then joins stream-static
    * on the cell key (stateless — no watermark, no join state), and
    * ranking lands on the bounded per-qid heap (complete mode: state =
    * nQueries heaps of k, nothing corpus-sized). Fold order inside the
    * HOF matches the driver fold bit-for-bit (index-order sums), so
    * the streamed probe is value-identical to ivfProbe — s29's oracle
    * IS v05's golden. At 100 TB the static side would be the bucketed
    * cell layout (v06's partitionBy(cell) form) so each micro-batch's
    * probe prunes files by the joined cells instead of re-scanning.
    * Input: raw embedding rows (vec_id, embedding). */
  private[operators] def annProbeHeapStream(raw: DataFrame,
      cents: Array[Array[Double]], corpus: DataFrame, np: Int): DataFrame = {
    val s = raw.sparkSession
    import s.implicits._
    val queries = raw.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), VectorOps.toDouble($"embedding").as("qv"))
    val ranked = queries
      .withColumn("cents", typedLit(cents.map(_.toSeq).toSeq))
      .withColumn("probe", explode(expr(
        s"slice(array_sort(transform(sequence(0, ${cents.length - 1}), " +
          "c -> struct(aggregate(zip_with(cents[c], qv, " +
          "(a, b) -> (a - b) * (a - b)), cast(0.0 as double), " +
          s"(acc, x) -> acc + x) as d, c as cid))), 1, $np)")))
      .select($"qid", $"probe.cid".as("cell"), $"qv")
    ranked.join(corpus, "cell")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
      .groupBy($"qid")
      .agg(graft.functions.GraftFunctions
        .boundedTopK((-$"score").cast("double"), $"vec_id".cast("long"), topK)
        .as("top"))
  }

  /** Batch rendering of the sunk heaps — the topKPerQuery tail. */
  private[operators] def annProbeRender(heaps: DataFrame): DataFrame = {
    val s = heaps.sparkSession
    import s.implicits._
    heaps.select($"qid", posexplode($"top"))
      .select($"qid", ($"pos" + 1).cast("long").as("rank"),
        $"col.vid".as("vec_id"), round(-$"col.ns", 6).as("cosine"))
  }

  private def v28(s: SparkSession, dir: String): DataFrame = {
    val (cents, sample, _, merged) = ivfIncIndex(s, dir)
    // qids 0..4 all satisfy the base predicate, so the shared probe
    // recipe reads them from the base-only sample unchanged
    ivfProbe(merged, cents, sample, nprobe)
  }

  // ---- v30: filtered-search recall curve (the v25 dial audit on v27) ----
  // The measurement a filtered-ANN deployment runs before picking its
  // probe budget: filtering thins every cell's eligible population, so
  // recall at a fixed nprobe differs from the unfiltered v25 curve and
  // must be measured against the FILTERED ground truth. Same engine as
  // v25 — the exact filtered neighbor set (v27's all-cells row) joins
  // the memoized cell assignment, each query's full cell ranking rides
  // in as driver-math literals, one bounded agg counts neighbors whose
  // cell rank clears each probe budget; integer ppm output. Oracle:
  // pinned golden (deterministic quantizer), invariants spec'd:
  // recall monotone in nprobe, exactly 1e6 ppm at the full probe.
  private def v30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cents, sample, assigned) = ivfIndex(s, dir)
    val qRank = sample.filter(_._1 < nQueries).map { case (qid, qv) =>
      val ranked = cents.zipWithIndex.map { case (c, i) =>
        (c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.sortBy(x => (x._1, x._2)).map(_._2)
      (qid, ranked.toSeq)
    }.toSeq.toDF("qid", "cellrank")
    v27(s, dir).select($"qid", $"vec_id")
      .join(assigned.select($"vec_id", $"cell"), "vec_id")
      .join(broadcast(qRank), "qid")
      .select(expr("array_position(cellrank, cell)").as("pos"))
      .select(explode(typedLit(rcProbes)).as("nprobe"), $"pos")
      .groupBy($"nprobe")
      .agg(count(lit(1)).as("n_pairs"),
        sum(($"pos" <= $"nprobe").cast("long")).as("hits"))
      .select($"nprobe", $"hits",
        expr("hits * 1000000 div n_pairs").as("recall_ppm"))
  }

  // ---- v29: MMR diversified re-ranking (maximal marginal relevance) ----
  // The serving-layer step after retrieval: from each query's top-C
  // candidate pool, greedily select k results maximizing
  // λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s) — relevance traded
  // against redundancy (Carbonell & Goldstein, SIGIR'98), the
  // de-duplicating re-rank RAG pipelines run on every retrieval. Scale
  // shape: candidate generation is the corpus-sized distributed pass
  // (here the exact scorer; in production the ANN probe), and the
  // O(k·C) greedy runs per-query inside ONE flatMapGroups group —
  // bounded C×d memory per group, millions of queries re-rank in
  // parallel, nothing driver-side. Cross-engine exact: rel and the
  // pairwise sims are the index-order cosine both engines share, the
  // greedy argmax compares identical doubles with an identical
  // (score, vec_id) tiebreak, and the oracle replays the whole greedy
  // recursion in SQL (recursive CTE, the n09 discipline) — no golden.
  private val mmrC = 30
  private val mmrK = 10
  private val mmrLambda = 0.7

  private def v29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"v".as("qv"))
    val scored = e.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id", VectorOps.cosine($"v", $"qv").as("score"))
    val cands = VectorOps.topKPerQuery(scored, mmrC)
      .select($"qid", $"vec_id", $"score".as("rel"))
      .join(e, "vec_id") // vectors ride back in for the pairwise sims
      .select($"qid", $"vec_id", $"rel", $"v")
    val lam = mmrLambda
    val oneMinus = 1.0 - mmrLambda
    val k = mmrK
    cands.as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        // bounded: at most mmrC rows per group
        val cs = it.map { case (_, vid, rel, v) => (vid, rel, v.toArray) }
          .toArray.sortBy(c => (-c._2, c._1))
        // index-order cosine — the same IEEE op sequence as the
        // codegen'd kernel and the oracle's list_reduce rendering
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
          while (i < a.length) {
            ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1
          }
          ab / (math.sqrt(aa) * math.sqrt(bb))
        }
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
        while (chosen.size < math.min(k, cs.length)) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var ci = 0
          while (ci < cs.length) {
            if (!chosen.contains(ci)) {
              val score =
                if (chosen.isEmpty) cs(ci)._2
                else {
                  var mx = Double.NegativeInfinity
                  chosen.foreach { si =>
                    val sim = cos(cs(ci)._3, cs(si)._3)
                    if (sim > mx) mx = sim
                  }
                  lam * cs(ci)._2 - oneMinus * mx
                }
              // strict > keeps the lowest-id winner on exact ties:
              // cs is (rel desc, id asc)-sorted only for step 1, so
              // tie-break on (score, vec_id) explicitly
              if (score > bestScore ||
                (score == bestScore && best >= 0 && cs(ci)._1 < cs(best)._1)) {
                best = ci; bestScore = score
              }
            }
            ci += 1
          }
          chosen += best
          out += ((qid, chosen.size.toLong, cs(best)._1,
            math.floor(bestScore * 1e6 + 0.5) / 1e6))
        }
        out.iterator
      }
      .toDF("qid", "rank", "vec_id", "mmr_score")
  }
  private lazy val v29Sql = {
    val relCos = VectorOps.cosineSql("e.embedding", "q.qv")
    val pairCos = VectorOps.cosineSql("a.v", "b.v")
    val lam = fmtD(mmrLambda)
    val om = fmtD(1.0 - mmrLambda)
    def mmr(c: String, p: String) =
      s"($lam * $c.rel - $om * (SELECT max($p.sim) FROM pair $p " +
        s"WHERE $p.qid = s.qid AND $p.ida = $c.vec_id " +
        s"AND list_contains(s.chosen, $p.idb)))"
    s"""WITH RECURSIVE
       | q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |       WHERE vec_id < $nQueries),
       | scored AS (SELECT q.qid, e.vec_id, $relCos AS rel, e.embedding AS v
       |      FROM embeddings e JOIN q ON e.vec_id <> q.qid),
       | cand AS (SELECT qid, vec_id, rel, v FROM (
       |      SELECT *, row_number() OVER (PARTITION BY qid
       |        ORDER BY rel DESC, vec_id) AS rn
       |      FROM scored) WHERE rn <= $mmrC),
       | pair AS (SELECT a.qid, a.vec_id AS ida, b.vec_id AS idb,
       |        $pairCos AS sim
       |      FROM cand a JOIN cand b ON a.qid = b.qid
       |       AND a.vec_id <> b.vec_id),
       | sel AS (
       |   SELECT qid, vec_id, 1 AS rank, rel AS score, [vec_id] AS chosen
       |   FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |           ORDER BY rel DESC, vec_id) AS rn
       |         FROM cand) WHERE rn = 1
       |   UNION ALL
       |   SELECT s.qid, c.vec_id, s.rank + 1, ${mmr("c", "p")},
       |     list_append(s.chosen, c.vec_id)
       |   FROM sel s JOIN cand c ON c.qid = s.qid
       |     AND NOT list_contains(s.chosen, c.vec_id)
       |   WHERE s.rank < $mmrK AND NOT EXISTS (
       |     SELECT 1 FROM cand c2
       |     WHERE c2.qid = s.qid AND NOT list_contains(s.chosen, c2.vec_id)
       |       AND c2.vec_id <> c.vec_id
       |       AND (${mmr("c2", "p2")} > ${mmr("c", "p3")}
       |        OR (${mmr("c2", "p4")} = ${mmr("c", "p5")}
       |            AND c2.vec_id < c.vec_id))))
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id,
       |  floor(score * 1e6 + 0.5) / 1e6 AS mmr_score
       |FROM sel""".stripMargin
  }

  // ---- v31: semantic decontamination (the embedding rung of the ladder) ----
  // The token ladder (d53 fuzzy → d57 Bloom → d58 production) catches
  // verbatim and near-verbatim eval leakage; this rung catches the
  // PARAPHRASED kind tokens miss: a corpus item is contaminated when
  // its embedding lands within cosine τ of any benchmark item. Same
  // scale asymmetry as d58 — the eval suite is BOUNDED (benchmarks are
  // thousands of items; the corpus is the 100 TB side) — so the eval
  // matrix is gathered once driver-side (sdEvalN × 64 doubles, the
  // bound stated here at the gather site) and probed per corpus row as
  // a LITERAL: one native-cosine expression per eval vector, argmax by
  // struct ordering inside the projection. Zero shuffle, zero join,
  // zero state — a stateless scoring projection that lifts onto an
  // embedding readStream unchanged (s35), the s23/d58 shape. Output is
  // the flagged set (corpus vec, closest eval item, cosine) a
  // decontamination pass would anti-join away; ties break to the
  // lowest eval_id via the negated-id struct field (exact long math),
  // matching the oracle's (score DESC, eval_id) window order.
  private[operators] val sdEvalN = VectorDials.sdEvalN
  private[operators] val sdTau = VectorDials.sdTau

  /** Stateless screen: corpus rows (vec_id, v) against the gathered
    * eval matrix. Bounded: evals.length == sdEvalN by construction. */
  private[graft] def semanticScreen(corpus: DataFrame,
      evals: Array[(Long, Array[Double])]): DataFrame = {
    require(evals.nonEmpty && evals.length <= sdEvalN,
      "eval matrix must be the bounded benchmark slice")
    val best = array_max(array(evals.map { case (id, ev) =>
      struct(VectorOps.cosine(col("v"), typedLit(ev.toSeq)).as("c"),
        lit(-id).as("nid"))
    }: _*))
    // r21 (guide §4.4): the tau filter on the aliased screen column
    // used to be pushed below the projection BY SUBSTITUTION, so the
    // whole |evals|-cosine tree ran twice per row (once in the
    // pushed-down Filter, once in the surviving Project — 64 cosine
    // evals per row instead of 32, each re-casting the float
    // embedding). The opaque wrapper blocks the substitution; values
    // are untouched (identity eval/codegen), the expensive column is
    // computed once and the filter reads the struct field.
    corpus
      .select(col("vec_id"),
        graft.functions.GraftFunctions.opaque(best).as("best"))
      .filter(col("best.c") >= sdTau)
      .select(col("vec_id"), (-col("best.nid")).as("eval_id"),
        round(col("best.c"), 6).as("cosine"))
  }

  /** The bounded driver gather of the eval matrix (sdEvalN rows ×
    * 64 doubles — benchmark-suite-sized, never corpus-sized). */
  private[graft] def evalMatrix(s: SparkSession, dir: String)
      : Array[(Long, Array[Double])] = {
    import s.implicits._
    embeddings(s, dir).filter($"vec_id" < sdEvalN)
      .select($"vec_id", $"v").as[(Long, Array[Double])]
      .collect().sortBy(_._1)
  }

  private def v31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    semanticScreen(embeddings(s, dir).filter($"vec_id" >= sdEvalN),
      evalMatrix(s, dir))
  }

  /** v31's verdict set as doc ids (vec_id indexes doc_id in the
    * fixture's row alignment, the v22/x03 correspondence) — the
    * bounded anti-join side the composed manifest consumes (d69). */
  private[graft] def semanticFlaggedIds(s: SparkSession, dir: String)
      : DataFrame =
    v31(s, dir).select(col("vec_id").as("doc_id"))
  private[operators] val v31Sql = {
    val cos = VectorOps.cosineSql("c.embedding", "ev.e")
    s"""WITH ev AS (SELECT vec_id AS eval_id, embedding AS e
       |            FROM embeddings WHERE vec_id < $sdEvalN),
       |     c AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id >= $sdEvalN),
       |     d AS (SELECT c.vec_id, ev.eval_id, $cos AS score
       |           FROM c CROSS JOIN ev),
       |     r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY score DESC, eval_id) AS rn FROM d)
       |SELECT vec_id, eval_id, round(score, 6) AS cosine
       |FROM r WHERE rn = 1 AND score >= ${fmtD(sdTau)}""".stripMargin
  }

  // ---- v32: PCA leading component (one-pass Gram + power iteration) ----
  // Embedding-space whitening/analysis primitive: the corpus
  // covariance's top eigenpair, computed the only way that scales —
  // ONE distributed pass accumulates the d×d Gram matrix and the mean
  // vector, then the O(d²)-sized summary power-iterates on the
  // driver. The driver never sees a row: its state is d(d+1)/2 + d
  // fixed accumulators (2,080 + 64 here), the same
  // bounded-stats-gather → driver-scalars role the K-Means centroids
  // and DAMDS reductions play. At 100 TB the plan is unchanged — each
  // map task folds its rows into ONE d(d+1)/2-register aggregation
  // buffer (GramRegisterAgg; no Generate, no row amplification), so
  // the one exchange carries O(d² · tasks) bytes, never O(rows).
  //
  // Determinism (the golden-pinning premise): per-row products are
  // snapped to DECIMAL(30,15) BEFORE summing, so the Gram sums are
  // exact and order-independent — bit-identical under any
  // partitioning (GoldenSweepSpec re-proves at sf0.1) — and the
  // power iteration runs on the driver from those exact sums with a
  // fixed start vector and iteration count, so the whole output is a
  // constant of the fixture. Gated by a pinned golden (the n02/x02
  // pattern); the eigen-math is independently proven in PcaSpec
  // (residual, Rayleigh maximality, norm, invariance).
  private val pcaDim = 64
  private val pcaIters = 400

  /** Exact upper-triangle Gram + mean sums: (i, j, sp = Σ v_i·v_j,
    * sx = Σ v_i carried on the diagonal rows, cnt = n on every row).
    * ONE register-buffer aggregate (graft.functions.GramRegisterAgg):
    * each map task folds its rows into a single d(d+1)/2-register
    * buffer with the same snap-to-DECIMAL(30,15)-before-summing
    * discipline, partials merge by exact integer addition, and the
    * final buffer unfolds into the 2,080 summary rows — no Generate,
    * no per-product hash-agg probe, no 2,080× row amplification (the
    * r13 s41 finding: the explode form pushed rows·d(d+1)/2 structs
    * through the aggregation machinery; bit-identical output proven
    * in GramRegisterSpec/PcaSpec). */
  private[graft] def gramSums(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.filter(size(col("v")) === pcaDim)
      .agg(graft.functions.GraftFunctions.gramRegisters($"v", pcaDim).as("regs"))
      .select(explode($"regs").as("t"))
      .select($"t.i".as("i"), $"t.j".as("j"), $"t.sp".as("sp"),
        $"t.sx".as("sx"), $"t.cnt".as("cnt"))
  }

  /** Driver tail: covariance from the exact sums, power iteration,
    * deterministic sign (largest-|loading| component positive, lowest
    * index on ties), 6dp snap. */
  private[operators] def pcaOf(e: DataFrame): Seq[(Long, Double, Double, Double)] =
    pcaFromSums(gramSums(e).collect())

  /** The same tail from already-materialized summary rows — the
    * streamed deployment (s41) lands `gramSums` in a complete-mode
    * sink and hands the final register table here. */
  /** Covariance matrix from the exact summary rows. */
  private def covFromSums(rows: Array[org.apache.spark.sql.Row])
      : Array[Array[Double]] = {
    val d = pcaDim
    val g = Array.ofDim[Double](d, d)
    val sv = new Array[Double](d)
    var n = 0L
    // bounded gather: exactly d(d+1)/2 = 2,080 summary rows
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val p = r.getDecimal(2).doubleValue()
      g(i)(j) = p; g(j)(i) = p
      if (i == j) { sv(i) = r.getDecimal(3).doubleValue() }
      if (i == 0 && j == 0) n = r.getLong(4)
    }
    require(n > 0, "pca: empty embedding table")
    val mu = sv.map(_ / n)
    Array.tabulate(d, d)((i, j) => g(i)(j) / n - mu(i) * mu(j))
  }

  /** Power iteration on a dense symmetric matrix: fixed start, fixed
    * count, deterministic sign (largest-|component| positive, lowest
    * index on ties). Returns (v, lambda). */
  private def powerIterate(c: Array[Array[Double]])
      : (Array[Double], Double) = {
    val d = c.length
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += c(i)(j) * v(j); j += 1 }; s
      }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 0 until pcaIters) {
      val w = matvec(v)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nrm)
    }
    val cv = matvec(v)
    val lambda = v.zip(cv).map { case (a, b) => a * b }.sum
    val m = v.indices.maxBy(i => (math.abs(v(i)), -i))
    if (v(m) < 0) v = v.map(x => -x)
    (v, lambda)
  }

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  private[operators] def pcaFromSums(rows: Array[org.apache.spark.sql.Row])
      : Seq[(Long, Double, Double, Double)] = {
    val c = covFromSums(rows)
    val (v, lambda) = powerIterate(c)
    val trace = c.indices.map(i => c(i)(i)).sum
    v.indices.map(i =>
      (i.toLong, r6(v(i)), r6(lambda), r6(lambda / trace)))
  }

  /** Top-k eigenpairs by power iteration + deflation
    * (C ← C − λ·vvᵀ after each extraction). Driver-side O(k·d²) on
    * the same bounded summary — no second corpus pass. */
  private[operators] def pcaTopK(rows: Array[org.apache.spark.sql.Row],
      k: Int): Seq[(Int, Array[Double], Double)] = {
    var c = covFromSums(rows)
    val d = c.length
    (0 until k).map { comp =>
      val (v, lambda) = powerIterate(c)
      c = Array.tabulate(d, d)((i, j) => c(i)(j) - lambda * v(i) * v(j))
      (comp, v, lambda)
    }
  }

  /** The 2,080-row exact Gram summary, memoized per (session, dir):
    * v32 and v33 consume the SAME one-pass gather, so the corpus pays
    * the Gram pass once per session, not once per query (the r13
    * bench caught each PCA query re-running it). Driver-resident
    * bounded rows — nothing to unpersist on eviction. */
  private val gramCache =
    new SessionCache[String, Array[org.apache.spark.sql.Row]](_ => ())
  private def gramRows(s: SparkSession, dir: String)
      : Array[org.apache.spark.sql.Row] =
    gramCache.getOrBuild(s, dir) {
      gramSums(embeddings(s, dir)).collect()
    }

  private def v32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pcaFromSums(gramRows(s, dir))
      .toDF("dim", "loading", "eigenvalue", "var_ratio")
  }

  /** The real distributed DAG behind the eager v32/v33 (their
    * registered frames are driver-materialized local rows) — the
    * Catalog.auditPlan hook, so plan walks see the Gram pass, not a
    * LocalTableScan (the q35 eager-query discipline). */
  private[operators] def pcaPlan(s: SparkSession, dir: String)
      : org.apache.spark.sql.execution.SparkPlan =
    gramSums(embeddings(s, dir)).queryExecution.executedPlan

  // ---- v33: covariance spectrum profile (top-3, deflation) ----
  // The dimensionality audit downstream dials consult (how many
  // matryoshka dims to keep, whether PQ subspaces are balanced,
  // whether the corpus drifted anisotropic): eigenvalues and
  // explained-variance ratios of the top components, extracted by
  // repeated power iteration + deflation from the SAME bounded
  // summary v32 gathers — one corpus pass total, O(k·d²) driver
  // flops, nothing new crosses the wire. Same golden-pinning premise
  // as v32 (exact decimal sums + fixed-recipe driver tail); spectrum
  // laws (descending λ, orthogonal loadings, v32 consistency) are
  // spec-pinned in PcaSpec.
  private val pcaSpectrumK = 3

  private def v33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = gramRows(s, dir)
    val trace = {
      val c = covFromSums(rows)
      c.indices.map(i => c(i)(i)).sum
    }
    var cum = 0.0
    pcaTopK(rows, pcaSpectrumK).map { case (comp, _, lambda) =>
      cum += lambda
      (comp.toLong, r6(lambda), r6(lambda / trace), r6(cum / trace))
    }.toDF("comp", "eigenvalue", "var_ratio", "cum_ratio")
  }


  // ---- v34: whitened near-dup (all-but-the-top on a shipped artifact) --
  // The de-biasing step embedding pipelines run before cosine dedup
  // (Mu & Viswanath's "all-but-the-top"): remove the corpus's
  // dominant direction so near-dup pairs reflect content, not the
  // shared anisotropy every vector carries. The direction is a
  // SHIPPED MODEL ARTIFACT — the 6dp-snapped top component v32
  // pinned — baked below as constants exactly like the LSH
  // hyperplanes, so the transform is a stateless projection (no
  // recompute per corpus, the production deployment shape) and the
  // whole query stays plain-SQL oracled at ANY scale: the whitening
  // arithmetic is per-element IEEE with a literal vector, and both
  // cosines are the proven index-order folds. Pairs are the v03
  // exact-slice audit shape; the zero-norm guard keeps a vector
  // parallel to u (cosine undefined) out of BOTH engines' outputs.
  private val abttU: Array[Double] = Array(
    -0.209626, -0.120402, 0.036587, 0.012094, 0.075126, 0.013136,
    0.09035, 0.286836, 0.049306, 0.413959, 0.064976, 0.182134,
    0.065092, -0.036948, 0.171103, -0.185477, 0.088527, -0.158147,
    -0.029968, 0.032337, 0.061112, -0.110798, -0.083678, -0.054475,
    0.020352, 0.199868, -0.037453, 0.149508, -0.17261, -0.00558,
    -0.05864, 0.062714, 0.296445, 0.105973, -0.032147, 0.103897,
    0.044353, 0.061351, 0.01244, 0.021626, -0.116679, 0.005378,
    -0.24064, 0.096265, -0.028845, -0.224539, 0.008878, -0.079491,
    -0.084032, -0.118098, 0.120949, 0.072738, -0.017227, 0.081655,
    -0.015771, -0.066837, -0.054708, -0.051427, 0.059774, -0.09076,
    0.122247, 0.050385, -0.218209, -0.101769)

  private def v34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val uc = typedLit(abttU.toSeq)
    // opaque ALIASES on both screens (guide §4.4, the v31 fix):
    // un-wrapped, the pushed-down filters re-evaluate the whitening
    // chain (on each side of the self-join) and the pair cosine once
    // more per row
    val w = embeddings(s, dir).filter($"vec_id" < sliceN)
      .withColumn("dp", VectorOps.dotLit($"v", abttU))
      .withColumn("w", graft.functions.GraftFunctions.opaque(
        zip_with($"v", uc, (x, y) => x - $"dp" * y)))
      .filter(VectorOps.dot($"w", $"w") > 0.0)
    val a = w.select($"vec_id".as("id_a"), $"v".as("va"), $"w".as("wa"))
    val b = w.select($"vec_id".as("id_b"), $"v".as("vb"), $"w".as("wb"))
    a.join(b, $"id_a" < $"id_b")
      .withColumn("cw", graft.functions.GraftFunctions.opaque(
        VectorOps.cosine($"wa", $"wb")))
      .filter($"cw" >= dupTau)
      .select($"id_a", $"id_b",
        round(VectorOps.cosine($"va", $"vb"), 6).as("cosine_raw"),
        round($"cw", 6).as("cosine_w"))
  }
  private lazy val v34Sql = {
    val uLit = "[" + abttU.map(_.toString).mkString(", ") + "]"
    val cosW = VectorOps.cosineSql("a.w", "b.w")
    val cosRaw = VectorOps.cosineSql("a.v", "b.v")
    s"""WITH u AS (SELECT $uLit::DOUBLE[] AS uv),
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id < $sliceN),
       |d AS (SELECT vec_id, v, uv,
       |    ${VectorOps.dotSql("v", "uv")} AS dp
       |  FROM e CROSS JOIN u),
       |wv AS (SELECT vec_id, v,
       |    list_transform(generate_series(1, len(v)),
       |      i -> v[i] - dp * uv[i]) AS w
       |  FROM d),
       |g AS (SELECT * FROM wv
       |  WHERE ${VectorOps.dotSql("w", "w")} > 0)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round($cosRaw, 6) AS cosine_raw,
       |  round($cosW, 6) AS cosine_w
       |FROM g a JOIN g b ON a.vec_id < b.vec_id
       |WHERE $cosW >= $dupTau""".stripMargin
  }


  // ---- v35: label-propagation communities over the kNN graph ----
  // The community layer between v10's connected components (pure
  // reachability — one LSH artifact bridges two real clusters into
  // one blob) and v18's centroid-conditioned profile (needs k fixed
  // up front): synchronous label propagation on the kNN graph finds
  // DENSE neighborhoods — topic/template communities — with no k and
  // no distance threshold, the grouping a curation run reads to
  // sample diversely or to cap any one template family's token share.
  // Deterministic variant (LPA's usual tie chaos removed): per round,
  // every node adopts the most frequent label among its kNN
  // out-neighbors, ties broken by SMALLEST label; isolated nodes keep
  // their own; `lpaRounds` fixed synchronous rounds (the m03/n09
  // fixed-iteration discipline).
  //
  // Scale shape: per round, one join of labels to the edge list
  // (keyed by neighbor) and two hash aggs — (node, label) counts,
  // then the per-node argmax as min(struct(-count, label)), the d72
  // keeper-election form: partial-aggregable, never a window over a
  // skewable key. Edges reuse v21's memoized persisted edge set;
  // per-round lineage is cut with localCheckpoint (the
  // ConnectedComponents discipline). All-integer → cross-engine
  // exact; the oracle replays the same rounds as an unrolled CTE
  // chain.
  private val lpaRounds = 4
  private def v35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = prEdges(s, dir) // (src, dst, outdeg) — outdeg unused
    val nodes = embeddings(s, dir).select($"vec_id")
    var labels = nodes.select($"vec_id", $"vec_id".as("lbl"))
    for (_ <- 1 to lpaRounds) {
      val won = edges
        .join(labels.select($"vec_id".as("dst"), $"lbl"), "dst")
        .groupBy($"src", $"lbl").agg(count(lit(1)).as("c"))
        .groupBy($"src")
        .agg(min(struct((-$"c").as("nc"), $"lbl")).as("w"))
        .select($"src".as("vec_id"), $"w.lbl".as("nlbl"))
      labels = labels.join(won, Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"nlbl", $"lbl").as("lbl"))
        .localCheckpoint()
    }
    val sz = labels.groupBy($"lbl").agg(count(lit(1)).as("csize"))
    labels.join(sz, "lbl")
      .select($"vec_id", $"lbl".as("community"), $"csize")
  }
  private lazy val v35Sql = {
    def round(t: Int): String = {
      val prev = s"l${t - 1}"
      s"""c$t AS (SELECT e.src, $prev.lbl, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM edges e JOIN $prev ON $prev.vec_id = e.dst GROUP BY 1, 2),
         |w$t AS (SELECT src AS vec_id, lbl FROM (SELECT src, lbl,
         |    row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |  FROM c$t) WHERE rn = 1),
         |l$t AS (SELECT p.vec_id, COALESCE(w$t.lbl, p.lbl) AS lbl
         |  FROM $prev p LEFT JOIN w$t USING (vec_id))""".stripMargin
    }
    s"""WITH knn AS ($v14Sql),
       |edges AS (SELECT vec_id AS src, nbr AS dst FROM knn),
       |l0 AS (SELECT vec_id, vec_id AS lbl FROM embeddings),
       |""".stripMargin +
      (1 to lpaRounds).map(round).mkString(",\n") +
      s""",
         |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS csize
         |  FROM l$lpaRounds GROUP BY 1)
         |SELECT l.vec_id, l.lbl AS community, sz.csize
         |FROM l$lpaRounds l JOIN sz USING (lbl)""".stripMargin
  }

  // ---- v36: embedding outlier screen (centroid-distance z-score) ----
  // The noise filter an embedding-space curation run applies before
  // dedup/clustering trusts the space: vectors far from the corpus
  // centroid (truncated docs, encoder failures, garbage modalities)
  // get z-scored on their Euclidean distance and flagged, rolled up
  // per label so a poisoned class is visible at a glance. Scale
  // shape: TWO corpus passes — per-dim sums (a dims-bounded 64-key
  // hash agg with map-side partials; the centroid returns as ONE
  // broadcast row, the d77 sanctioned scalar attach) then a map-only
  // score projection + the distance-stat scalars + a labels-bounded
  // rollup. Never an all-pairs anything; the z-score needs global
  // moments, so two passes is the floor.
  //
  // Exactness: elements are micro-snapped to BIGINT before the
  // per-dim sums (exact, order-free — the m09 register discipline),
  // the centroid is DEFINED as the snapped-element mean (identical
  // IEEE derivation both engines), distances are index-order folds
  // (Spark's 0.0-seeded fold == DuckDB's first-element-seeded fold;
  // squares are never -0.0), the distance moments ride the same
  // micro-snap route, and z is floor-snapped to micro before the
  // threshold compare — so the flag bit cannot diverge cross-engine.
  private val outlierZMicro = 2000000L // z >= 2.0 flags

  /** Per-dim micro-snapped element sums over a frame carrying `v` —
    * v36's first pass, and a mergeable register table (dims × (s, n))
    * the s50 stream maintains live in complete mode (the s41/s46
    * register-maintenance shape). */
  private[operators] def centroidSums(e: DataFrame): DataFrame =
    e.select(posexplode(expr(
        "transform(v, x -> cast(floor(x * 1e6 + 0.5) as bigint))")))
      .select(col("pos").cast("long").as("pos"), col("col"))
      .groupBy(col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
  /** The sums table's own oracle (0-based dims) — gates s50. */
  private[operators] val centroidSumsSql =
    """SELECT CAST(i - 1 AS BIGINT) AS pos,
      |  CAST(SUM(CAST(floor(v[i] * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS s,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings),
      |  UNNEST(generate_series(1, len(v))) AS u(i)
      |GROUP BY 1""".stripMargin

  private def v36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"),
        VectorOps.toDouble($"embedding").as("v"))
    val sums = centroidSums(e)
    // each dim's sum divides by ITS OWN count (ADVICE r15): with
    // ragged ingest dims a single max(n) would skew every short dim's
    // mean; on uniform fixtures per-pos n == max n, so this is
    // value-identical there and correct everywhere else
    val centroid = sums
      .select(sort_array(collect_list(struct($"pos", $"s", $"n"))).as("ps"))
      .select(expr("transform(ps, p -> cast(p.s as double) / 1e6 / p.n)")
        .as("m"))
    val scored = e.crossJoin(broadcast(centroid))
      .select($"vec_id", $"label",
        expr("sqrt(aggregate(zip_with(v, m, (a, b) -> (a - b) * (a - b)), " +
          "cast(0.0 as double), (acc, x) -> acc + x))").as("dist"))
    val stats = scored.agg(
      count(lit(1)).as("nv"),
      sum(expr("cast(floor(dist * 1e6 + 0.5) as bigint)")).as("sd"),
      sum(expr("cast(floor(dist * dist * 1e6 + 0.5) as bigint)")).as("sq"))
    val mu = "cast(sd as double) / 1e6 / nv"
    scored.crossJoin(broadcast(stats))
      .select($"label",
        expr(s"cast(floor((dist - $mu) / " +
          s"sqrt(greatest(cast(sq as double) / 1e6 / nv - ($mu) * ($mu), " +
          "1e-12)) * 1e6 + 0.5) as bigint)").as("z_micro"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(($"z_micro" >= outlierZMicro).cast("long")).as("n_outliers"),
        max($"z_micro").as("max_z_micro"))
  }
  private val v36Sql = {
    val mu = "CAST(sd AS DOUBLE) / 1e6 / nv"
    s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |sums AS (SELECT i AS pos,
       |    SUM(CAST(floor(v[i] * 1e6 + 0.5) AS BIGINT)) AS s,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM e, UNNEST(generate_series(1, len(v))) AS u(i)
       |  GROUP BY 1),
       |ctm AS (SELECT list(CAST(s AS DOUBLE) / 1e6 / n ORDER BY pos) AS m
       |  FROM sums),
       |d AS (SELECT vec_id, label,
       |    sqrt(list_reduce(list_transform(generate_series(1, len(v)),
       |      i -> (v[i] - m[i]) * (v[i] - m[i])), (a, x) -> a + x)) AS dist
       |  FROM e CROSS JOIN ctm),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv,
       |    SUM(CAST(floor(dist * 1e6 + 0.5) AS BIGINT)) AS sd,
       |    SUM(CAST(floor(dist * dist * 1e6 + 0.5) AS BIGINT)) AS sq
       |  FROM d),
       |z AS (SELECT label,
       |    CAST(floor((dist - $mu) /
       |      sqrt(greatest(CAST(sq AS DOUBLE) / 1e6 / nv - ($mu) * ($mu),
       |        1e-12)) * 1e6 + 0.5) AS BIGINT) AS z_micro
       |  FROM d CROSS JOIN st)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM(CASE WHEN z_micro >= $outlierZMicro THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_outliers,
       |  MAX(z_micro) AS max_z_micro
       |FROM z GROUP BY 1""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("v01_knn_exact", v01, Some(v01Sql)),
    Q("v02_knn_ann_lsh", v02, Some(v02Sql)),
    Q("v03_cosine_dup_exact", v03, Some(v03Sql)),
    Q("v04_cosine_dup_lsh", v04, Some(v04Sql)),
    Q("v05_knn_ivf", v05, Some(GoldenOracles.v05)),
    Q("v06_knn_ivf_disk", v06, Some(v01Sql)),
    Q("v07_quantize_int8", v07, Some(v07Sql)),
    Q("v08_knn_pq_adc", v08, Some(GoldenOracles.v08)),
    Q("v09_knn_ivfpq", v09, Some(GoldenOracles.v09)),
    Q("v10_semantic_dedup", v10, Some(v10Sql)),
    Q("v11_knn_ivfpq_disk", v11, Some(GoldenOracles.v09)),
    Q("v12_label_purity", v12, Some(v12Sql)),
    Q("v13_ann_recall", v13, Some(v13Sql)),
    Q("v14_knn_graph", v14, Some(v14Sql)),
    Q("v15_outlier_prune", v15, Some(v15Sql)),
    Q("v16_matryoshka_recall", v16, Some(v16Sql)),
    Q("v17_hard_negatives", v17, Some(v17Sql)),
    Q("v18_cluster_profile", v18, Some(v18Sql)),
    Q("v19_diversity_sample", v19, Some(v19Sql)),
    Q("v20_quant_error_profile", v20, Some(v20Sql)),
    Q("v21_knn_pagerank", v21, Some(v21Sql)),
    Q("v22_rrf_fusion", v22, Some(v22Sql)),
    Q("v23_knn_triangles", v23, Some(v23Sql)),
    Q("v24_cell_drift", v24, Some(v24Sql)),
    Q("v25_ivf_recall_curve", v25, Some(GoldenOracles.v25)),
    Q("v26_knn_int8", v26, Some(v26Sql)),
    Q("v27_filtered_knn", v27, Some(v27Sql)),
    Q("v28_ivf_incremental", v28, Some(GoldenOracles.v28)),
    Q("v29_mmr_rerank", v29, Some(v29Sql)),
    Q("v30_filtered_recall_curve", v30, Some(GoldenOracles.v30)),
    Q("v31_semantic_decontam", v31, Some(v31Sql)),
    Q("v32_pca_power", v32, Some(GoldenOracles.v32), planFn = Some(pcaPlan)),
    Q("v33_pca_spectrum", v33, Some(GoldenOracles.v33), planFn = Some(pcaPlan)),
    Q("v34_whitened_dedup", v34, Some(v34Sql)),
    Q("v35_lpa_communities", v35, Some(v35Sql)),
    Q("v36_embedding_outliers", v36, Some(v36Sql)))

}
