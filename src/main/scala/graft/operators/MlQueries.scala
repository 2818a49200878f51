package graft.operators

import graft.Tables
import graft.ml.KMeans
import graft.vec.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K-Means operators over the `embeddings` fixture (reference I1/I2 +
  * N5/N6/N12: kmeans/KMeansOriginal.java:108-143, KMeansBlock.java:
  * 41-102). m01/m02 expose the two halves of one Lloyd iteration in
  * SQL-checkable form; m03 runs the real driver loop (graft.ml.KMeans).
  *
  * Determinism for the oracle: distances are left folds in index order
  * (bit-identical to DuckDB's list_reduce); per-cluster means are FP
  * sums whose partial order differs between engines, so means are
  * rounded to 6 decimals on both sides (absolute reordering error is
  * ~1e-13, far below the rounding grain).
  */
object MlQueries {

  private[operators] val k = 8

  private def embeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "embeddings")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
  }

  /** Initial centroids = the k lowest vec_ids (deterministic seed). */
  private def initCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    KMeans.initFromLowestIds(embeddings(s, dir), "vec_id", k)

  // ---- m01: nearest-centroid assignment, one projection (N5+N6) ----
  private def m01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = initCentroids(s, dir)
    embeddings(s, dir)
      .select($"vec_id", KMeans.assign($"v", cents).as("a"))
      .select($"vec_id", $"a.cid".cast("long").as("cid"),
        round($"a.dist2", 6).as("dist2"))
  }
  private val m01Sql = {
    val d2 = VectorOps.sqdistSql("e.embedding", "c.cv")
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
       |           FROM embeddings WHERE vec_id < $k),
       |     d AS (SELECT e.vec_id, c.cid, $d2 AS dist2
       |           FROM embeddings e CROSS JOIN c),
       |     r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY dist2, cid) AS rn FROM d)
       |SELECT vec_id, cid, round(dist2, 6) AS dist2 FROM r WHERE rn = 1""".stripMargin
  }

  // ---- m02: one full Lloyd step — assignment + per-dim means (A2/A3) --
  private def m02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = initCentroids(s, dir)
    embeddings(s, dir)
      .select(KMeans.assign($"v", cents).getField("cid").cast("long").as("cid"),
        $"v")
      .select($"cid", posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"cid", $"dim".cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), round(sum($"x") / count(lit(1)), 6).as("mean"))
  }
  private val m02Sql = {
    val d2 = VectorOps.sqdistSql("e.embedding", "c.cv")
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
       |           FROM embeddings WHERE vec_id < $k),
       |     d AS (SELECT e.vec_id, e.embedding, c.cid, $d2 AS dist2
       |           FROM embeddings e CROSS JOIN c),
       |     r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY dist2, cid) AS rn FROM d),
       |     a AS (SELECT cid, embedding FROM r WHERE rn = 1),
       |     x AS (SELECT cid, CAST(i - 1 AS BIGINT) AS dim,
       |             CAST(embedding[i] AS DOUBLE) AS x
       |           FROM a CROSS JOIN generate_series(1, 64) AS g(i))
       |SELECT cid, dim, COUNT(*) AS n, round(SUM(x) / COUNT(*), 6) AS mean
       |FROM x GROUP BY cid, dim""".stripMargin
  }

  // ---- m03: the real iterative K-Means (I1/I2), 5 Lloyd steps ----
  // Oracle-checked end to end: the engine runs fixed-point Lloyd
  // (centroids snapped to the 1e-6 grid after every step, floor-form
  // rounding — identical IEEE ops in both engines), and the oracle
  // replays the SAME 5 iterations as an unrolled CTE chain in DuckDB.
  // Snapping makes each iteration boundary engine-independent: the
  // only FP divergence between Spark's partial-agg sums and DuckDB's
  // SUM is ~1e-13, far below the snap grain, so assignments and
  // means agree exactly at every step (same index-order distance
  // folds, same lowest-cid tiebreak, same empty-cluster-keeps-old
  // rule via the LEFT JOIN COALESCE).
  private[operators] val m03Iters = 5
  private def m03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val model = KMeans.fit(e, initCentroids(s, dir), maxIter = m03Iters,
      postStep = _.map(_.map(KMeans.snap6)))
    val rows = for {
      (c, cid) <- model.centroids.zipWithIndex
      (x, dim) <- c.zipWithIndex
    } yield (cid.toLong, dim.toLong, x)
    s.createDataFrame(rows.toIndexedSeq).toDF("cid", "dim", "mean")
  }
  private[operators] val m03Sql = {
    val d2 = VectorOps.sqdistSql("e.v", "c.cv")
    val steps = (1 to m03Iters).map { i =>
      val p = i - 1
      s"""  d$i AS (SELECT e.vec_id, e.v, c.cid, $d2 AS dist2
         |          FROM e CROSS JOIN c$p c),
         |  a$i AS (SELECT vec_id, v, cid FROM (
         |            SELECT *, row_number() OVER (PARTITION BY vec_id
         |              ORDER BY dist2, cid) AS rn FROM d$i) WHERE rn = 1),
         |  m$i AS (SELECT cid, g.i AS dim,
         |            floor((SUM(v[g.i]) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS val
         |          FROM a$i CROSS JOIN generate_series(1, 64) AS g(i)
         |          GROUP BY cid, g.i),
         |  n$i AS (SELECT cid, list(val ORDER BY dim) AS cv FROM m$i GROUP BY cid),
         |  c$i AS (SELECT p.cid, coalesce(n.cv, p.cv) AS cv
         |          FROM c$p p LEFT JOIN n$i n USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |  c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $k),
       |$steps
       |SELECT cid, CAST(g.i - 1 AS BIGINT) AS dim, cv[g.i] AS mean
       |FROM c$m03Iters CROSS JOIN generate_series(1, 64) AS g(i)""".stripMargin
  }

  // ---- m04: the A5 in-scan pre-agg step (KMeansBlock) ----
  // Same Lloyd step as m02 but through KMeans.stepBlock — one
  // single-pass job with per-partition (sum, count) combiners instead
  // of the posexplode plan; the oracle is the same SQL step (without
  // the per-group count column), so the block pre-agg path itself gets
  // a green driver row. All k clusters are non-empty here (each seed
  // centroid IS a dataset point that assigns to itself), so the SQL's
  // assigned-clusters-only output covers every centroid.
  private def m04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val next = KMeans.stepBlock(embeddings(s, dir), initCentroids(s, dir))
    val rows = for {
      (c, cid) <- next.zipWithIndex
      (x, dim) <- c.zipWithIndex
    } yield (cid.toLong, dim.toLong, math.rint(x * 1e6) / 1e6)
    s.createDataFrame(rows.toIndexedSeq).toDF("cid", "dim", "mean")
  }
  private val m04Sql = {
    val d2 = VectorOps.sqdistSql("e.embedding", "c.cv")
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
       |           FROM embeddings WHERE vec_id < $k),
       |     d AS (SELECT e.vec_id, e.embedding, c.cid, $d2 AS dist2
       |           FROM embeddings e CROSS JOIN c),
       |     r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY dist2, cid) AS rn FROM d),
       |     a AS (SELECT cid, embedding FROM r WHERE rn = 1),
       |     x AS (SELECT cid, CAST(i - 1 AS BIGINT) AS dim,
       |             CAST(embedding[i] AS DOUBLE) AS x
       |           FROM a CROSS JOIN generate_series(1, 64) AS g(i))
       |SELECT cid, dim, round(SUM(x) / COUNT(*), 6) AS mean
       |FROM x GROUP BY cid, dim""".stripMargin
  }

  /** g01: the G2 Gaussian cluster generator feeding the engine end to
    * end — generate the reference's seeded fixture (single RNG stream,
    * reference draw order: means first, then d gaussians per point),
    * assign every point to its nearest TRUE mean, and roll up
    * per-cluster counts and centroids. Gaussian draws from a Java RNG
    * are not SQL-reproducible, but the seeded stream is a constant, so
    * the oracle is the pinned golden rollup (GoldenOracles.g01); the
    * draw-order contract is additionally spec-tested in
    * PointSourcesSpec. The sequential RNG stream is the reference's own
    * generator contract (a scale deployment would seed per partition
    * instead — see PointSources scaladoc).
    */
  private def g01(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (means, pts, _) =
      graft.sources.PointSources.gaussianPoints(
        seed = 7L, numPoints = 20000, k = 4, d = 2)
    val df = s.createDataset(pts.toIndexedSeq.map(p => Tuple1(p.toSeq)))
      .toDF("v")
    df.select(KMeans.assign($"v", means).getField("cid").cast("long").as("cid"),
        $"v")
      .select($"cid", $"v"(0).as("x"), $"v"(1).as("y"))
      .groupBy($"cid")
      .agg(count(lit(1)).as("n"),
        round(avg($"x"), 4).as("mean_x"), round(avg($"y"), 4).as("mean_y"))
  }

  /** m05: k-means|| scalable initialization (Bahmani et al., VLDB'12)
    * — the distributed seeding a 1000-executor fit needs (the
    * reference, and m01–m04, seed from the k lowest ids; sequential
    * k-means++ would make k full passes). Hash-deterministic
    * end-to-end (md5-coin sampling, DECIMAL-folded totals, top-weight
    * Lloyd reduction — see KMeans.scalableInit), so its sf0.01 output
    * is a constant: pinned golden (GoldenOracles.m05), verified
    * bit-identical across 8 vs 32 cores before pinning. Quality and
    * determinism invariants in KMeansSpec.
    */
  private def m05(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val init = KMeans.scalableInit(embeddings(s, dir), "vec_id", k,
      rounds = 3)
    val rows = for {
      (c, cid) <- init.zipWithIndex
      (x, dim) <- c.zipWithIndex
    } yield (cid.toLong, dim.toLong, KMeans.snap6(x))
    s.createDataFrame(rows.toIndexedSeq).toDF("cid", "dim", "x")
  }

  // ---- m06: K-Means elbow curve (inertia vs k, one corpus pass) ----
  // The model-selection table every clustering-based curation stage
  // (v12/v15/v18's exemplar seeding, IVF cell sizing) needs before
  // fixing k: mean within-cluster squared distance for k in
  // {2, 4, 8, 16} lowest-id seed centroids. The rungs are PREFIXES of
  // one 16-centroid set, so — v16's fused-rung trick — a single
  // distance pass computes every curve point: distances to all 16
  // seeds once, then per-rung conditional minima in the same hash
  // agg. No rung re-scans the corpus.
  //
  // Scale shape: the 16-row centroid side is a broadcast; the distance
  // expansion is 16× rows of (id, cid, d2) scalars — never a second
  // vector copy; per-vector minima partial-aggregate before the
  // doc-key exchange and the curve itself is a 4-value scalar agg.
  //
  // Exactness: per-vector minima compare bit-identical doubles (the
  // m01 fold discipline); each rung's inertia sum folds the snapped
  // minima through DECIMAL(18,6) (exact in any order) and the mean
  // divides by an exact count, snapped floor-form.
  private val elbowKs = Seq(2, 4, 8, 16)

  private def m06(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val cents = e.filter($"vec_id" < elbowKs.max)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    val d2 = e.crossJoin(broadcast(cents))
      .select($"vec_id", $"cid", VectorOps.sqdist($"v", $"cv").as("d2"))
    val minCols = elbowKs.map(kk =>
      min(when($"cid" < kk, $"d2")).as(s"m$kk"))
    val mins = d2.groupBy($"vec_id").agg(minCols.head, minCols.tail: _*)
    val aggCols = count(lit(1)).as("n_vecs") +:
      elbowKs.map(kk => sum((floor(col(s"m$kk") * 1e6 + 0.5) / 1e6)
        .cast("decimal(18,6)")).as(s"s$kk"))
    val sums = mins.agg(aggCols.head, aggCols.tail: _*)
    sums.select($"n_vecs", explode(array(elbowKs.map(kk =>
        struct(lit(kk.toLong).as("k"), col(s"s$kk").as("si"))): _*)).as("r"))
      .select($"r.k".as("k"), $"n_vecs",
        (floor($"r.si".cast("double") / $"n_vecs" * 1e6 + 0.5) / 1e6)
          .as("mean_inertia"))
  }
  private lazy val m06Sql = {
    val d2 = VectorOps.sqdistSql("e.v", "c.cv")
    s"""WITH ev AS (SELECT vec_id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |    FROM embeddings),
       |  c AS (SELECT vec_id AS cid, v AS cv FROM ev
       |        WHERE vec_id < ${elbowKs.max}),
       |  d AS (SELECT e.vec_id, c.cid, $d2 AS d2 FROM ev e CROSS JOIN c),
       |  m AS (SELECT vec_id,
       |      ${elbowKs.map(kk =>
      s"MIN(CASE WHEN cid < $kk THEN d2 END) AS m$kk").mkString(",\n|      ")}
       |    FROM d GROUP BY 1),
       |  g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |      ${elbowKs.map(kk =>
      s"SUM(CAST(floor(m$kk * 1e6 + 0.5) / 1e6 AS DECIMAL(18,6))) AS s$kk")
      .mkString(",\n|      ")}
       |    FROM m),
       |  r AS (${elbowKs.map(kk =>
      s"SELECT $kk AS k, n_vecs, s$kk AS si FROM g")
      .mkString("\n|    UNION ALL ")})
       |SELECT CAST(k AS BIGINT) AS k, n_vecs,
       |  floor(CAST(si AS DOUBLE) / n_vecs * 1e6 + 0.5) / 1e6 AS mean_inertia
       |FROM r""".stripMargin
  }

  // ---- m07: simplified silhouette (cluster-quality audit) ----
  // The "are these clusters real" number a curation run reads before
  // trusting cluster-conditioned sampling (v18/v19) or exemplar
  // seeding (v12): per cluster, the mean simplified silhouette
  // (b − a)/max(a, b) with a = distance to the nearest (assigned)
  // centroid and b = distance to the second-nearest — the standard
  // centroid-based approximation that needs NO point-to-point pairs,
  // so it scales where true silhouette (corpus-quadratic) cannot.
  //
  // Scale shape: the k-row centroid side broadcasts; the distance
  // expansion is k× scalar rows (no vector copy); then ONE vec-keyed
  // bounded aggregation — sort_array(collect_list(struct(d2, cid)))
  // holds k entries per point (map-side partials, so the exchange
  // carries ≤ tasks·1 rows per vec) — and a final k-row cluster agg.
  // One corpus-keyed exchange of scalars; nothing quadratic.
  //
  // r22 (guide §2.4): the pre-r22 form ran THREE vec-keyed exchanges
  // (min → argmin-join → second-min-join), each branch re-deriving the
  // k× distance expansion (the crossJoin is exchange-free, so AQE
  // stage reuse never collapsed it) — paired 1.12 → 0.81 s. The
  // single sorted array gives all three scalars at once, exactly:
  // ds[0] IS min(struct(d2, cid)) — a2 = min d2 with the lowest-cid
  // tiebreak — and because each cid appears exactly once per point,
  // every later entry has cid ≠ own, so ds[1].d2 IS the b-side min
  // over cid ≠ own (ties at a2 included: the tied entry sorts to
  // ds[1] and b2 = a2, exactly the join form's answer).
  //
  // Exactness: distances are the index-order folds; the sort compares
  // the same (d2, cid) structs the min/join dance compared;
  // b ≥ a ⇒ s = (√b − √a)/√b, three IEEE ops in fixed order (sqrt is
  // correctly rounded, so cross-engine exact), snapped per point,
  // DECIMAL-folded per cluster, mean snapped.
  private val silK = 8

  private def m07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
    val cents = e.filter($"vec_id" < silK)
      .select($"vec_id".as("cid"), $"v".as("cv"))
    val d2f = e.crossJoin(broadcast(cents))
      .select($"vec_id", $"cid", VectorOps.sqdist($"v", $"cv").as("d2"))
    val arr = d2f.groupBy($"vec_id")
      .agg(sort_array(collect_list(struct($"d2", $"cid"))).as("ds"))
    val sil = arr.select($"vec_id",
        $"ds".getItem(0).getField("cid").as("own"),
        $"ds".getItem(0).getField("d2").as("a2"),
        $"ds".getItem(1).getField("d2").as("b2"))
      .select($"vec_id", $"own",
        when($"b2" === 0.0, 0.0).otherwise(
          floor((sqrt($"b2") - sqrt($"a2")) / sqrt($"b2") * 1e6 + 0.5) / 1e6)
          .as("sp"))
    sil.groupBy($"own").agg(count(lit(1)).as("n_vecs"),
        sum($"sp".cast("decimal(18,6)")).as("ss"))
      .select($"own".as("cid"), $"n_vecs",
        (floor($"ss".cast("double") / $"n_vecs" * 1e6 + 0.5) / 1e6)
          .as("mean_sil"))
  }
  private lazy val m07Sql = {
    val d2 = VectorOps.sqdistSql("e.v", "c.cv")
    s"""WITH ev AS (SELECT vec_id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |    FROM embeddings),
       |  c AS (SELECT vec_id AS cid, v AS cv FROM ev WHERE vec_id < $silK),
       |  d AS (SELECT e.vec_id, c.cid, $d2 AS d2 FROM ev e CROSS JOIN c),
       |  am AS (SELECT vec_id, MIN(d2) AS a2 FROM d GROUP BY 1),
       |  own AS (SELECT d.vec_id, a2, MIN(cid) AS own FROM d
       |    JOIN am ON d.vec_id = am.vec_id WHERE d2 = a2 GROUP BY 1, 2),
       |  b AS (SELECT d.vec_id, MIN(d2) AS b2 FROM d
       |    JOIN own ON d.vec_id = own.vec_id WHERE cid <> own GROUP BY 1),
       |  sil AS (SELECT own.vec_id, own,
       |      CASE WHEN b2 = 0e0 THEN 0e0 ELSE
       |        floor((sqrt(b2) - sqrt(a2)) / sqrt(b2) * 1e6 + 0.5) / 1e6
       |      END AS sp
       |    FROM own JOIN b ON own.vec_id = b.vec_id)
       |SELECT own AS cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  floor(CAST(SUM(CAST(sp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
       |    * 1e6 + 0.5) / 1e6 AS mean_sil
       |FROM sil GROUP BY 1""".stripMargin
  }

  // ---- m08: 2-component Gaussian mixture EM over quality scores ----
  // The iterative-ML pattern beyond K-Means (I2's driver loop with
  // soft assignments): fit a two-Gaussian mixture to d38's classifier
  // scores so the keep/drop threshold comes from the DATA's own
  // bimodality instead of a hand-picked cut — the mixture-split
  // thresholding step real curation pipelines run on quality and
  // perplexity scores. Each EM iteration is ONE distributed pass: the
  // current parameters fold into the expression tree as LITERALS
  // (codegen'd, no UDF, no broadcast), executors compute per-row
  // responsibilities and their sufficient statistics, and only
  // 7 scalars cross the wire (the K-Means/I3 driver discipline).
  //
  // Determinism (golden premise): every per-row statistic — r, r·x,
  // r·x², and the row's log-density in micro-nats — is snapped
  // (DECIMAL(30,15) / integer micro-nats) BEFORE summing, so each
  // M-step sees exact order-independent sums and the whole trajectory
  // is a constant of the fixture under any partitioning
  // (GoldenSweepSpec re-proves at sf0.1). EM's monotone-loglik
  // theorem is spec-pinned in GmmSpec on the per-iteration history.
  private[operators] val gmmIters = 50
  private[operators] final case class GmmParams(w1: Double, m1: Double,
      v1: Double, w2: Double, m2: Double, v2: Double)

  private[operators] def gmmScores(s: SparkSession, dir: String): DataFrame =
    TextQueries.qualityClassify(Tables(s, dir, "documents"))
      .select(col("qscore").as("x"))

  /** The ONE distributed pass m08 makes: the exact (x, count)
    * histogram of the score column. qscore is 6dp-snapped into
    * [-0.5, 0.5] (`TextQueries.qualityClassify`), so the domain is
    * bounded at ≤ 1,000,001 distinct values (in practice a few
    * thousand) — a hash-agg whose result a driver can hold no matter
    * the corpus size. Every EM quantity is a function of x only, so
    * the histogram is a lossless sufficient statistic: per-row
    * snapped contributions for equal x are identical, making
    * Σ_rows snap(f(x)) ≡ Σ_x count(x)·snap(f(x)) exactly. */
  private[operators] def gmmHistogram(scores: DataFrame)
      : Array[(Double, Long)] = // bounded gather: ≤ 1e6 rows by snap domain
    scores.groupBy("x").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))

  /** One E+M round over the histogram, driver-side, replaying the
    * distributed decimal discipline BIT-EXACTLY: each per-x
    * contribution is computed in IEEE double with the same
    * association order the SQL expression tree had, snapped to
    * DECIMAL(30,15) via the same Double.toString → HALF_UP route
    * Spark's double→decimal cast takes, and scaled by the exact
    * integer count before the (exact) decimal sum. The log-likelihood
    * stays integer micro-nats. Returns (new params, loglik under the
    * CURRENT params). */
  private[operators] def gmmStepHist(hist: Array[(Double, Long)],
      p: GmmParams): (GmmParams, Long) = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def snap(d: Double): JBD = // == cast(double as decimal(30,15))
      new JBD(java.lang.Double.toString(d)).setScale(15, RoundingMode.HALF_UP)
    def dens(w: Double, m: Double, v: Double, x: Double): Double =
      w * math.exp(-(x - m) * (x - m) / (2 * v)) / math.sqrt(2 * math.Pi * v)
    // The per-x contributions fold in PARALLEL chunks: decimal
    // addition is exact, hence associative and commutative, so the
    // chunked sum is bit-identical to the sequential left fold (same
    // for the integer micro-nat loglik) — the same order-independence
    // argument the distributed per-row form already rests on. The
    // histogram grows with corpus score cardinality until the 6dp
    // snap domain saturates (≤ 1e6 + 1 rows), and a single-threaded
    // 50-iteration fold over it was the m08 x10 superlinearity
    // (VERDICT r16 next 6): the one distributed scan rode 10× like
    // every map-only screen, but the driver tail rode 10× TOO on one
    // core. Chunking caps the tail at histSize/cores per iteration;
    // past saturation it is O(1e6/cores) regardless of corpus size.
    final case class Part(var r1: JBD, var s1: JBD, var q1: JBD,
        var r2: JBD, var s2: JBD, var q2: JBD, var ll: Long, var n: Long)
    val nChunks = math.min(Runtime.getRuntime.availableProcessors,
      math.max(1, hist.length / 1024))
    val bounds = (0 to nChunks).map(i =>
      (hist.length.toLong * i / nChunks).toInt)
    val parts = java.util.stream.IntStream.range(0, nChunks).parallel()
      .mapToObj[Part] { ci =>
        val pt = Part(JBD.ZERO, JBD.ZERO, JBD.ZERO,
          JBD.ZERO, JBD.ZERO, JBD.ZERO, 0L, 0L)
        var i = bounds(ci)
        while (i < bounds(ci + 1)) {
          val (x, cnt) = hist(i)
          val f1 = dens(p.w1, p.m1, p.v1, x)
          val f2 = dens(p.w2, p.m2, p.v2, x)
          val tot = f1 + f2 + 1e-300
          val c = JBD.valueOf(cnt)
          pt.r1 = pt.r1.add(snap(f1 / tot).multiply(c))
          pt.s1 = pt.s1.add(snap(f1 / tot * x).multiply(c))
          pt.q1 = pt.q1.add(snap(f1 / tot * x * x).multiply(c))
          pt.r2 = pt.r2.add(snap(f2 / tot).multiply(c))
          pt.s2 = pt.s2.add(snap(f2 / tot * x).multiply(c))
          pt.q2 = pt.q2.add(snap(f2 / tot * x * x).multiply(c))
          pt.ll += cnt * math.floor(math.log(tot) * 1e6 + 0.5).toLong
          pt.n += cnt
          i += 1
        }
        pt
      }.collect(java.util.stream.Collectors.toList[Part])
    var (r1, s1, q1) = (JBD.ZERO, JBD.ZERO, JBD.ZERO)
    var (r2, s2, q2) = (JBD.ZERO, JBD.ZERO, JBD.ZERO)
    var ll = 0L; var n = 0L
    parts.forEach { pt =>
      r1 = r1.add(pt.r1); s1 = s1.add(pt.s1); q1 = q1.add(pt.q1)
      r2 = r2.add(pt.r2); s2 = s2.add(pt.s2); q2 = q2.add(pt.q2)
      ll += pt.ll; n += pt.n
    }
    val nd = n.toDouble
    def m(su: JBD, r: JBD) = su.doubleValue() / r.doubleValue()
    def v(qu: JBD, su: JBD, r: JBD) = {
      val (q, s, rr) = (qu.doubleValue(), su.doubleValue(), r.doubleValue())
      math.max(q / rr - (s / rr) * (s / rr), 1e-5) // variance floor
    }
    (GmmParams(r1.doubleValue() / nd, m(s1, r1), v(q1, s1, r1),
      r2.doubleValue() / nd, m(s2, r2), v(q2, s2, r2)), ll)
  }

  /** Fixed-init, fixed-count EM; returns the parameter/loglik
    * trajectory (head = init, last = final). ONE corpus pass total:
    * the exact score histogram (see gmmHistogram — the 6dp snap
    * bounds its domain), then all EM rounds run driver-side over the
    * histogram with decimal-exact sufficient statistics identical by
    * construction to the per-row distributed form (r13's bench found
    * the old shape scanning the corpus 51 times; at 100 TB that is
    * 51 cluster-wide scans for a 1-D two-component fit). */
  private[operators] def gmmFit(scores: DataFrame)
      : Seq[(GmmParams, Long)] = {
    val init = GmmParams(0.5, -0.05, 0.0025, 0.5, 0.05, 0.0025)
    val h = gmmHistogram(scores)
    val hist = scala.collection.mutable.ArrayBuffer.empty[(GmmParams, Long)]
    var p = init
    for (_ <- 0 until gmmIters) {
      val (np, ll) = gmmStepHist(h, p)
      hist += ((p, ll))
      p = np
    }
    hist += ((p, gmmStepHist(h, p)._2))
    hist.toSeq
  }

  /** The real distributed DAG behind the eager m08 — the single
    * histogram scan that is now m08's ONLY corpus pass (all EM rounds
    * run driver-side over it) — the Catalog.auditPlan hook (q35/v32
    * eager discipline). */
  private[operators] def m08Plan(s: SparkSession, dir: String)
      : org.apache.spark.sql.execution.SparkPlan =
    gmmScores(s, dir).groupBy("x").agg(count(lit(1)).as("c"))
      .queryExecution.executedPlan

  private def m08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hist = gmmFit(gmmScores(s, dir))
    val (p, ll) = hist.last
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // components reported low-mean-first (deterministic order)
    val comps =
      if (p.m1 <= p.m2)
        Seq((0L, p.w1, p.m1, p.v1), (1L, p.w2, p.m2, p.v2))
      else Seq((0L, p.w2, p.m2, p.v2), (1L, p.w1, p.m1, p.v1))
    comps.map { case (c, w, m, v) =>
      (c, r6(w), r6(m), r6(math.sqrt(v)), ll)
    }.toDF("comp", "weight", "mean", "stddev", "loglik_micronats")
  }

  // ---- m09: ridge distillation of the quality classifier ----
  // The interpretability audit production filter stacks run next to
  // d38: fit a linear model predicting the hashed classifier's score
  // from two cheap surface features (average token length, stopword
  // ratio) so a reviewer can read WHAT the black-box filter rewards —
  // and a drifting coefficient flags a filter regression before it
  // reshapes the corpus. Fit = ridge normal equations, k=3 with
  // intercept (λ = 1e-3 on every coefficient, guaranteeing the 3×3
  // system is nonsingular even on degenerate slices).
  //
  // Scale shape: ONE corpus pass — a map-only feature projection
  // (d38's zero-shuffle scoring plus two d03 ratios, no join between
  // the score and feature legs) into a single 9-register hash agg;
  // the "solve" is a scalar Cramer expression over the one aggregate
  // row. No iteration, no driver loop, no second pass: the gradient-
  // descent shape (a pass per step — the pre-fix m08 anti-pattern)
  // is exactly what normal equations exist to avoid at 100 TB.
  //
  // Exactness: features are micro-snapped to BIGINT per row
  // (identical doubles both engines → identical integers), products
  // and sums are exact integer arithmetic in DECIMAL(38,0) (order-
  // independent; BIGINT would already hold sf0.1 but not 10^12 docs),
  // and the closed-form solve is ONE shared expression string per
  // coefficient — identical IEEE op order by construction — snapped
  // floor-form to micro.
  private val ridgeDets: (String, String, String, String) = (
    "(a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02) + a02*(a01*a12 - a11*a02))",
    "(b0*(a11*a22 - a12*a12) - a01*(b1*a22 - a12*b2) + a02*(b1*a12 - a11*b2))",
    "(a00*(b1*a22 - a12*b2) - b0*(a01*a22 - a12*a02) + a02*(a01*b2 - b1*a02))",
    "(a00*(a11*b2 - b1*a12) - a01*(a01*b2 - b1*a02) + b0*(a01*a12 - a11*a02))")
  // the A = X'X + λI / b = X'y entries from the integer sum registers,
  // identical text both engines (CAST casing is syntax, not op order)
  private val ridgeA: Seq[(String, String)] = Seq(
    "a00" -> "cast(n as double) + 1e-3",
    "a01" -> "cast(s1 as double) / 1e6",
    "a02" -> "cast(s2 as double) / 1e6",
    "a11" -> "cast(s11 as double) / 1e12 + 1e-3",
    "a12" -> "cast(s12 as double) / 1e12",
    "a22" -> "cast(s22 as double) / 1e12 + 1e-3",
    "b0" -> "cast(sy as double) / 1e6",
    "b1" -> "cast(s1y as double) / 1e12",
    "b2" -> "cast(s2y as double) / 1e12")

  /** The m09 pipeline from a (doc_id, text) frame: micro-snap the
    * features, fold the 9 integer sum registers in one hash agg, and
    * solve the 3×3 system as a scalar Cramer expression over the one
    * aggregate row. Stateless-then-aggregate column ops only, so the
    * same tree runs over a batch scan or a document readStream in
    * complete mode (s46 — the register-maintenance shape s41's PCA
    * stream uses). */
  private[graft] def ridgeFit(docs: org.apache.spark.sql.DataFrame)
      : DataFrame = {
    val f = TextQueries.qualityFeatureFrame(docs)
      .select(
        expr("cast(floor(x1 * 1e6 + 0.5) as bigint)").as("ix1"),
        expr("cast(floor(x2 * 1e6 + 0.5) as bigint)").as("ix2"),
        expr("cast(floor(y * 1e6 + 0.5) as bigint)").as("iy"))
    def d38sum(e: String) = sum(expr(e).cast("decimal(38,0)"))
    // products are taken in DECIMAL, never BIGINT: ix = floor(f*1e6)
    // is unbounded above on pathological rows (a doc dominated by one
    // multi-thousand-char token pushes avg_token_len*1e6 high enough
    // that a BIGINT ix*ix wraps silently under non-ANSI semantics
    // while DuckDB errors — divergent AND corrupt). Casting each
    // factor to DECIMAL(19,0) first keeps the product exact on both
    // engines: any bigint² < 8.7e37 fits 38 digits, and DuckDB's
    // multiply width rule (19+19 = 38) accepts it.
    def dprod(a: String, b: String) = sum(
      expr(s"cast($a as decimal(19,0)) * cast($b as decimal(19,0))")
        .cast("decimal(38,0)"))
    val g = f.agg(
      count(lit(1)).as("n"),
      d38sum("ix1").as("s1"), d38sum("ix2").as("s2"), d38sum("iy").as("sy"),
      dprod("ix1", "ix1").as("s11"), dprod("ix1", "ix2").as("s12"),
      dprod("ix2", "ix2").as("s22"),
      dprod("ix1", "iy").as("s1y"), dprod("ix2", "iy").as("s2y"))
    val a = g.select((col("n") +:
      ridgeA.map { case (nm, e) => expr(e).as(nm) }): _*)
    val (det, d0, d1, d2) = ridgeDets
    a.select(col("n").as("n_docs"),
      expr(s"cast(floor($d0 / $det * 1e6 + 0.5) as bigint)").as("b0_micro"),
      expr(s"cast(floor($d1 / $det * 1e6 + 0.5) as bigint)").as("b1_micro"),
      expr(s"cast(floor($d2 / $det * 1e6 + 0.5) as bigint)").as("b2_micro"))
  }

  private def m09(s: SparkSession, dir: String): DataFrame =
    ridgeFit(Tables(s, dir, "documents"))
  private[operators] lazy val m09Sql = {
    val (det, d0, d1, d2) = ridgeDets
    val aCols = ridgeA.map { case (nm, e) =>
      e.replace("cast(", "CAST(").replace(" as double)", " AS DOUBLE)") +
        s" AS $nm"
    }.mkString(",\n|    ")
    s"""WITH f AS (
       |${TextQueries.qualityFeatureSql}
       |),
       |j AS (SELECT CAST(floor(x1 * 1e6 + 0.5) AS BIGINT) AS ix1,
       |    CAST(floor(x2 * 1e6 + 0.5) AS BIGINT) AS ix2,
       |    CAST(floor(y * 1e6 + 0.5) AS BIGINT) AS iy
       |  FROM f),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(ix1 AS DECIMAL(38,0))) AS s1,
       |    SUM(CAST(ix2 AS DECIMAL(38,0))) AS s2,
       |    SUM(CAST(iy AS DECIMAL(38,0))) AS sy,
       |    SUM(CAST(ix1 AS DECIMAL(19,0)) * CAST(ix1 AS DECIMAL(19,0))) AS s11,
       |    SUM(CAST(ix1 AS DECIMAL(19,0)) * CAST(ix2 AS DECIMAL(19,0))) AS s12,
       |    SUM(CAST(ix2 AS DECIMAL(19,0)) * CAST(ix2 AS DECIMAL(19,0))) AS s22,
       |    SUM(CAST(ix1 AS DECIMAL(19,0)) * CAST(iy AS DECIMAL(19,0))) AS s1y,
       |    SUM(CAST(ix2 AS DECIMAL(19,0)) * CAST(iy AS DECIMAL(19,0))) AS s2y
       |  FROM j),
       |a AS (SELECT n,
       |    $aCols
       |  FROM g)
       |SELECT n AS n_docs,
       |  CAST(floor($d0 / $det * 1e6 + 0.5) AS BIGINT) AS b0_micro,
       |  CAST(floor($d1 / $det * 1e6 + 0.5) AS BIGINT) AS b1_micro,
       |  CAST(floor($d2 / $det * 1e6 + 0.5) AS BIGINT) AS b2_micro
       |FROM a""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("m08_gmm_quality", m08, Some(GoldenOracles.m08), planFn = Some(m08Plan)),
    Q("m01_kmeans_assign", m01, Some(m01Sql)),
    Q("m02_kmeans_step", m02, Some(m02Sql)),
    Q("m03_kmeans_loop", m03, Some(m03Sql)),
    Q("m04_kmeans_step_block", m04, Some(m04Sql)),
    Q("m05_kmeans_scalable_init", m05, Some(GoldenOracles.m05)),
    Q("m06_kmeans_elbow", m06, Some(m06Sql)),
    Q("m07_silhouette", m07, Some(m07Sql)),
    Q("m09_ridge_fit", m09, Some(m09Sql)),
    Q("g01_gaussian_generator", g01, Some(GoldenOracles.g01)))
}
