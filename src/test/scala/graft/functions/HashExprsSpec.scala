package graft.functions

import graft.TestSpark
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HashExprsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs() = {
    import spark.implicits._
    spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") >= 3)
  }

  test("native simhash64 expression equals the HOF form on real docs") {
    import spark.implicits._
    // the original higher-order-function rendering, kept here as the
    // independent oracle for the native expression
    val acc = "aggregate(" +
      "transform(toks, t -> xxhash64(t)), " +
      "array_repeat(0, 64), " +
      "(acc, h) -> zip_with(acc, sequence(0, 63), " +
      "(a, b) -> a + CASE WHEN (h & shiftleft(1L, b)) <> 0 THEN 1 ELSE -1 END))"
    val hofSimhash = expr("aggregate(zip_with(" + acc + ", sequence(0, 63), " +
      "(c, b) -> IF(c > 0, shiftleft(1L, b), 0L)), 0L, (s, v) -> s | v)")
    val rows = docs()
      .select($"doc_id",
        hofSimhash.as("hof"),
        GraftFunctions.simhash64($"toks").as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("hof") == r.getAs[Long]("native"),
        s"doc ${r.get(0)}")
    }
  }

  test("native minhash signature equals the HOF form on real docs") {
    import spark.implicits._
    val k = 32
    val rows = docs()
      .withColumn("sh", TextOps.shingles("toks", 3))
      .select($"doc_id",
        expr(s"array(${(0 until k).map(i =>
          s"array_min(transform(sh, t -> xxhash64(t, ${i + 1})))").mkString(", ")})")
          .as("hof"),
        GraftFunctions.minhashSignature($"sh", k).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("hof") ==
        r.getAs[scala.collection.Seq[Long]]("native"), s"doc ${r.get(0)}")
    }
  }

  test("native normTokens equals the regex normalize+split chain") {
    import spark.implicits._
    val hof = split(lower(trim(regexp_replace($"text", "\\s+", " "))), " ")
    // real docs plus crafted edge cases: empty, all-whitespace, mixed
    // whitespace classes, multi-byte and case-mapped unicode
    val crafted = Seq("", "   ", " \t\n\f\r ", "a", "  a  b ",
      "HÉLLO\tWörld", "日本語 テスト", "Mixed\r\nCASE\ttokens  here",
      "İstanbul Iİ")
      .toDF("text")
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select($"text")
    for (df <- Seq(crafted, docs)) {
      val rows = df.select(hof.as("hof"),
        GraftFunctions.normTokens($"text").as("native")).collect()
      rows.foreach { r =>
        assert(r.getAs[scala.collection.Seq[String]]("hof") ==
          r.getAs[scala.collection.Seq[String]]("native"),
          s"input: ${r}")
      }
    }
  }

  test("fused shingle-minhash equals the two-step shingles+minhash form") {
    import spark.implicits._
    val k = 16
    val rows = docs()
      .withColumn("sh", TextOps.shingles("toks", 3))
      .select($"doc_id",
        GraftFunctions.minhashSignature($"sh", k).as("twoStep"),
        GraftFunctions.minhashShingles($"toks", 3, k).as("fused"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("twoStep") ==
        r.getAs[scala.collection.Seq[Long]]("fused"), s"doc ${r.get(0)}")
    }
    // multi-byte UTF-8 tokens take the buffer-copy path too
    val uni = Seq(Seq("héllo", "wörld", "日本語", "emoji🙂", "x"))
      .toDF("toks")
      .withColumn("sh", TextOps.shingles("toks", 3))
      .select(GraftFunctions.minhashSignature($"sh", k).as("twoStep"),
        GraftFunctions.minhashShingles($"toks", 3, k).as("fused"))
      .head()
    assert(uni.getAs[scala.collection.Seq[Long]]("twoStep") ==
      uni.getAs[scala.collection.Seq[Long]]("fused"))
  }

  test("native gramHashes equals per-window xxhash64 of the joined gram") {
    import spark.implicits._
    val l = 8
    val rows = docs()
      .filter(size($"toks") >= l)
      .select($"doc_id", $"toks",
        GraftFunctions.gramHashes($"toks", l).as("gh"),
        expr(s"transform(sequence(0, size(toks) - $l), i -> " +
          s"xxhash64(concat_ws(' ', ${(0 until l).map(j => s"toks[i + $j]").mkString(", ")})))")
          .as("ref"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("gh") ==
        r.getAs[scala.collection.Seq[Long]]("ref"), s"doc ${r.get(0)}")
    }
    // short input -> null (the reference expr can't even run there:
    // sequence(0, negative) descends — the engine always guards
    // size >= l first, as d71/d82 do)
    val short = Seq(Seq("a", "b")).toDF("toks")
      .select(GraftFunctions.gramHashes($"toks", l).as("gh")).head()
    assert(short.isNullAt(0), "fewer than l tokens must yield null")
    // multi-byte tokens take the buffer-copy path
    val uni = Seq(Seq("héllo", "wörld", "日本語", "x",
        "y", "z", "emoji🙂", "w", "v")).toDF("toks")
      .select(GraftFunctions.gramHashes($"toks", l).as("gh"),
        expr(s"transform(sequence(0, size(toks) - $l), i -> " +
          s"xxhash64(concat_ws(' ', ${(0 until l).map(j => s"toks[i + $j]").mkString(", ")})))")
          .as("ref"))
      .head()
    assert(uni.getAs[scala.collection.Seq[Long]]("gh") ==
      uni.getAs[scala.collection.Seq[Long]]("ref"))
  }

  test("native signLsh equals the HOF band-code form on real embeddings") {
    import spark.implicits._
    import graft.vec.VectorOps
    val planes = VectorOps.hyperplanes(24, dim = 64, seed = 42L)
    val bitsPerBand = 4
    // original HOF rendering as the independent oracle
    val bits: Seq[org.apache.spark.sql.Column] =
      planes.toSeq.map(h => when(VectorOps.dotLit($"v", h) >= 0.0, 1L).otherwise(0L))
    val hofCodes = array(bits.grouped(bitsPerBand).toSeq.zipWithIndex.map {
      case (g, band) =>
        g.zipWithIndex.map { case (b, j) => b * lit(1L << j) }
          .reduce(_ + _) + lit(band.toLong << bitsPerBand)
    }: _*)
    val rows = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(VectorOps.toDouble($"embedding").as("v"))
      .select(hofCodes.as("hof"),
        GraftFunctions.signLsh($"v", planes, bitsPerBand).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("hof") ==
        r.getAs[scala.collection.Seq[Long]]("native"))
    }
  }

  test("native termCounts equals the per-term HOF filter-count form") {
    import spark.implicits._
    // vocab with hits, misses, and a term that repeats within docs
    val vocab = Seq("the", "data", "zzz-never-present", "of", "a")
    val hof = expr("transform(array('the','data','zzz-never-present','of','a'), " +
      "t -> size(filter(toks, x -> x = t)))")
    val rows = docs()
      .select($"doc_id", hof.as("hof"),
        GraftFunctions.termCounts($"toks", vocab).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2), s"doc ${r.get(0)}")
    }
    // interpreted path (eval without codegen) agrees too
    val interp = TermCountsExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("a", "b", "a", "c"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      Seq("a", "c", "x")).eval(null)
    assert(interp.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq == Seq(2, 1, 0))
  }

  test("native termCounts stays inside WholeStageCodegen") {
    import spark.implicits._
    val plan = docs()
      .select(GraftFunctions.termCounts($"toks", Seq("the", "of")).as("tf"))
      .queryExecution.executedPlan
    val bad = KernelPlans.codegenViolations(plan, classOf[TermCountsExpr])
    assert(bad.isEmpty, s"${bad.mkString("; ")}:\n$plan")
  }

  test("native exprs stay inside WholeStageCodegen") {
    import spark.implicits._
    val plan = docs()
      .select(GraftFunctions.simhash64($"toks").as("s"),
        GraftFunctions.minhashSignature($"toks", 8).as("m"),
        GraftFunctions.gramHashes($"toks", 8).as("g"))
      .queryExecution.executedPlan
    val bad = KernelPlans.codegenViolations(plan, classOf[SimHash64Expr],
      classOf[MinHashSigExpr], classOf[GramHashesExpr])
    assert(bad.isEmpty, s"${bad.mkString("; ")}:\n$plan")
  }

  test("native nearestCentroid equals the HOF argmin form on real embeddings") {
    import spark.implicits._
    import graft.vec.VectorOps
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
    val cents = e.orderBy($"vec_id").limit(6).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("v").toArray)
    // original HOF rendering as the independent oracle
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(VectorOps.sqdistLit($"v", c).as("dist2"), lit(i).as("cid"))
    }
    val hof = array_min(array(scored.toIndexedSeq: _*))
    val rows = e.select($"vec_id", hof.as("h"),
      GraftFunctions.nearestCentroid($"v", cents).as("n")).collect()
    rows.foreach { r =>
      val h = r.getStruct(1); val n = r.getStruct(2)
      assert(h.getDouble(0) == n.getDouble(0), s"dist2 differs for ${r.get(0)}")
      assert(h.getInt(1) == n.getInt(1), s"cid differs for ${r.get(0)}")
    }
    // tiebreak: two identical centroids -> lower cid wins, both forms
    val tie = Seq(Seq(0.5, 0.5)).toDF("v")
    val tc = Array(Array(1.0, 1.0), Array(1.0, 1.0))
    assert(tie.select(GraftFunctions.nearestCentroid($"v", tc).getField("cid"))
      .as[Int].head() == 0)
  }

  test("GraftExtensions registers SQL-callable functions") {
    import org.apache.spark.sql.SparkSession
    // getOrCreate would return the shared extension-less session; clear
    // it so the builder constructs a fresh one (same SparkContext)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = s2.sql(
        "SELECT graft_simhash64(array('a','b')) AS s, " +
          "graft_minhash(array('a','b'), 4) AS m").head()
      assert(r.getAs[Long]("s") != 0L)
      assert(r.getAs[scala.collection.Seq[Long]]("m").size == 4)
    } finally {
      // keep the shared TestSpark session as the active one
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("minKDistinct aggregate equals sorted-distinct-take-k under any partitioning") {
    // the KMV sketch's correctness contract: k smallest DISTINCT
    // values, ascending — duplicates (here forced by the % 997
    // collision domain, scattered across partitions so the MERGE path
    // dedups too, not just update) must not occupy sketch slots
    import spark.implicits._
    val xs = (0 until 5000).map(i =>
      ((i % 7).toString, (i * 2654435761L) % 997))
    val df = xs.toDF("g", "v")
    val want = xs.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).distinct.sorted.take(16).toList }
    for (parts <- Seq(1, 3, 17)) {
      val got = df.repartition(parts)
        .groupBy($"g")
        .agg(graft.functions.GraftFunctions.minKDistinct($"v", 16).as("hs"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList)
        .toMap
      assert(got == want, s"parts=$parts")
    }
  }

  test("MinKDistinctBuffer dedups on insert, bounds at k, merges idempotently") {
    val b = new graft.functions.MinKDistinctBuffer(4)
    Seq(5L, 3L, 5L, 9L, 1L, 3L, 7L, 2L).foreach(b.insert)
    assert(b.v.take(b.size).toList == List(1L, 2L, 3L, 5L))
    val c = new graft.functions.MinKDistinctBuffer(4)
    Seq(2L, 0L, 5L).foreach(c.insert)
    b.merge(c)
    assert(b.v.take(b.size).toList == List(0L, 1L, 2L, 3L))
    // idempotent: merging an identical sketch is a no-op
    val d = new graft.functions.MinKDistinctBuffer(4)
    Seq(0L, 1L, 2L, 3L).foreach(d.insert)
    b.merge(d)
    assert(b.v.take(b.size).toList == List(0L, 1L, 2L, 3L))
  }

  test("empty and null-element arrays are handled") {
    import spark.implicits._
    val df = Seq(Seq.empty[String], Seq("a", "b")).toDF("toks")
    val out = df.select(GraftFunctions.simhash64($"toks").as("s"),
      GraftFunctions.minhashSignature($"toks", 4).as("m"),
      GraftFunctions.minhashShingles($"toks", 3, 4).as("msh")).collect()
    assert(out(0).getAs[Long]("s") == 0L)
    // no shingles -> null signature (matches array_min-of-empty = null;
    // a MaxValue sentinel would LSH-match all short docs to each other)
    assert(out(0).isNullAt(1) && out(0).isNullAt(2))
    assert(out(1).getAs[scala.collection.Seq[Long]]("m").size == 4)
    assert(out(1).isNullAt(2)) // 2 tokens < n=3 shingle width
  }

  test("md5_prefix equals the conv(substring(md5)) chain at every used width") {
    import spark.implicits._
    // the interpreted chain every sketch coin used before r19, kept as
    // the independent oracle; widths are exactly the ones the engine
    // uses (bloom positions 4, bucket hashes 6, KMV 10, HLL 12, plus
    // the 1/2/15 edges). Inputs cover ASCII, multibyte UTF-8, the
    // empty string, and a long doc body.
    val inputs = Seq("", "a", "hello world", "héllo wörld 世界",
      "x" * 10000, "0", " ", "\n\t")
    val df = inputs.toDF("s").withColumn("b", $"s".cast("binary"))
    for (k <- Seq(1, 2, 4, 6, 10, 12, 15)) {
      val rows = df.select(
          expr(s"cast(conv(substring(md5(b), 1, $k), 16, 10) as bigint)")
            .as("chain"),
          GraftFunctions.md5Prefix($"b", k).as("native"),
          expr(s"graft_md5_prefix(b, $k)").as("sqlform"))
        .collect()
      rows.foreach { r =>
        assert(r.getAs[Long]("chain") == r.getAs[Long]("native"),
          s"k=$k native mismatch")
        assert(r.getAs[Long]("chain") == r.getAs[Long]("sqlform"),
          s"k=$k sql-registered mismatch")
      }
    }
    // null propagates like the chain's
    val n = Seq[Option[String]](None).toDF("s")
      .select(GraftFunctions.md5Prefix($"s".cast("binary"), 6).as("v"))
      .collect()
    assert(n(0).isNullAt(0))
  }

  test("md5_minhash equals the nested transform/array_min HOF form") {
    import spark.implicits._
    val k = 16
    def hof(shCol: String) =
      s"""transform(sequence(0, ${k - 1}), i ->
         |  array_min(transform($shCol, x ->
         |    md5(cast(concat(cast(i as string), ' ', x) as binary)))))"""
        .stripMargin
    // real shingle arrays off the fixture corpus — the exact d10/s09
    // input shape (distinct word trigrams of the normalized tokens)
    val rows = docs()
      .withColumn("sh", TextOps.shingles("toks", 3))
      .select($"doc_id",
        expr(hof("sh")).as("ref"),
        GraftFunctions.md5Minhash($"sh", k).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("ref") ==
        r.getAs[scala.collection.Seq[String]]("native"), s"doc ${r.get(0)}")
    }
    // edge cases the HOF defines: empty array → k null slots; null
    // elements skipped (all-null → null slot); null array → null;
    // multibyte UTF-8 shingles; single element
    val edge = Seq(
      (1L, Some(Seq[Option[String]]())),
      (2L, Some(Seq[Option[String]](None))),
      (3L, Some(Seq[Option[String]](Some("héllo wörld 世界"), None, Some("a b c")))),
      (4L, Some(Seq[Option[String]](Some("")))),
      (5L, None: Option[Seq[Option[String]]]))
      .toDF("id", "sh")
      .select($"id",
        expr(hof("sh")).as("ref"),
        GraftFunctions.md5Minhash($"sh", k).as("native"))
      .collect()
    edge.foreach { r =>
      // the HOF's outer transform runs over sequence(0, k-1): even a
      // NULL shingle array yields an array of k null slots — both
      // columns must agree on every id, including id 5 (null array)
      assert(r.getAs[scala.collection.Seq[String]]("ref") ==
        r.getAs[scala.collection.Seq[String]]("native"), s"id ${r.get(0)}")
    }
  }

  test("gram_bucket_wsum equals the aggregate-over-uniBigram HOF fold") {
    import spark.implicits._
    val buckets = 4096
    // the d38 weight table, rebuilt independently of TextQueries
    val weights = Array.tabulate(buckets) { b =>
      HashKernels2.md5Prefix(s"qw:$b".getBytes("UTF-8"), 6).toDouble /
        16777216.0 - 0.5
    }
    val arr = typedLit(weights)
    val uniBigram =
      "concat(toks, CASE WHEN size(toks) >= 2 THEN " +
        "transform(sequence(0, size(toks) - 2), " +
        "i -> concat_ws(' ', toks[i], toks[i + 1])) " +
        "ELSE cast(array() as array<string>) END)"
    def hofWsum = aggregate(col("grams"), lit(0.0), (acc, g) =>
      acc + element_at(arr,
        (pmod(GraftFunctions.md5Prefix(g.cast("binary"), 6),
          lit(buckets.toLong)) + lit(1L)).cast("int")))
    // real token arrays off the fixture corpus, plus size(grams)
    // against the closed-form gram count
    val rows = docs()
      .withColumn("grams", expr(uniBigram))
      .select($"doc_id",
        hofWsum.as("ref"),
        GraftFunctions.gramBucketWsum($"toks", weights, buckets).as("native"),
        size($"grams").as("refN"),
        expr("CASE WHEN size(toks) >= 2 THEN size(toks) * 2 - 1 " +
          "ELSE size(toks) END").as("nativeN"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // BIT-identical, not approximately equal: same fold order
      assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("ref")) ==
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("native")),
        s"doc ${r.get(0)}: ${r.getAs[Double]("ref")} vs ${r.getAs[Double]("native")}")
      assert(r.getAs[Int]("refN") == r.getAs[Int]("nativeN"),
        s"doc ${r.get(0)} gram count")
    }
    // edges: empty toks (wsum 0.0, n 0), single token (no bigrams),
    // multibyte UTF-8 through the bigram buffer path, and a null
    // element (a null unigram gram poisons the HOF fold → null —
    // the native kernel must match)
    val edge = Seq(Seq[Option[String]](), Seq(Some("solo")),
      Seq(Some("héllo"), Some("wörld"), Some("日本語"), Some("emoji🙂")),
      Seq(Some("a"), None, Some("b")))
      .toDF("toks")
      .withColumn("grams", expr(uniBigram))
      .select(hofWsum.as("ref"),
        GraftFunctions.gramBucketWsum($"toks", weights, buckets).as("native"))
      .collect()
    edge.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null disagreement: ${r.get(0)} vs ${r.get(1)}")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("ref")) ==
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("native")))
    }
  }

  test("bloom_hits equals the nested transform/aggregate HOF fold") {
    import spark.implicits._
    val k = 3
    // a seeded bitmap with ~half the bits set so hits and misses (and
    // the short-circuit path) are all exercised
    val rnd = new scala.util.Random(7)
    val bits = Array.fill(1 << 10)(rnd.nextLong()) // 2^16 bit space
    val hit =
      s"aggregate(transform(sequence(0, ${k - 1}), " +
        "i -> graft_md5_prefix(cast(concat(cast(i as string), " +
        "' ', g) as binary), 4)), " +
        "cast(1 as bigint), (acc, p) -> acc * " +
        "((element_at(bm, cast(shiftright(p, 6) + 1 as int)) " +
        ">> (p & 63)) & 1))"
    val rows = docs()
      .filter(size($"toks") >= 5)
      .withColumn("grams", TextOps.shingles("toks", 5))
      .withColumn("bm", typedLit(bits))
      .select($"doc_id",
        expr(s"aggregate(grams, cast(0 as bigint), (acc, g) -> acc + $hit)")
          .as("ref"),
        GraftFunctions.bloomHits($"grams", bits, k, 4).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("ref") == r.getAs[Long]("native"),
        s"doc ${r.get(0)}")
    }
    // a null gram poisons the HOF fold → null; the kernel must match
    val n = Seq(Seq(Some("a b c d e"), None)).toDF("grams")
      .withColumn("bm", typedLit(bits))
      .select(expr(s"aggregate(grams, cast(0 as bigint), (acc, g) -> acc + $hit)")
          .as("ref"),
        GraftFunctions.bloomHits($"grams", bits, k, 4).as("native"))
      .head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("bigram_lm_score equals the sequence/aggregate HOF fold") {
    import spark.implicits._
    val buckets = 512
    val rnd = new scala.util.Random(19)
    val lnc = Array.fill(buckets)(rnd.nextInt(2000000).toLong - 1000000L)
    val lnd = Array.fill(buckets)(rnd.nextInt(2000000).toLong - 1000000L)
    val lncArr = typedLit(lnc)
    val lndArr = typedLit(lnd)
    def bucketOf(g: org.apache.spark.sql.Column) =
      pmod(GraftFunctions.md5Prefix(g.cast("binary"), 6), lit(buckets.toLong))
    def at(arr: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      element_at(arr, (b + 1).cast("int"))
    val rows = docs()
      .filter(size($"toks") >= 2)
      .select($"doc_id",
        aggregate(expr("sequence(0, size(toks) - 2)"), lit(0L),
          (acc, i) => {
            val tok = element_at($"toks", (i + 1).cast("int"))
            val nxt = element_at($"toks", (i + 2).cast("int"))
            acc + at(lncArr, bucketOf(concat_ws(" ", tok, nxt))) -
              at(lndArr, bucketOf(tok))
          }).as("ref"),
        GraftFunctions.bigramLmScore($"toks", lnc, lnd).as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("ref") == r.getAs[Long]("native"),
        s"doc ${r.get(0)}")
    }
    // multibyte tokens through the shared buffer (bigram + unigram
    // head reuse)
    val uni = Seq("héllo wörld 日本語 emoji🙂 x").toDF("text")
      .select(TextOps.tokens($"text").as("toks"))
      .select(
        aggregate(expr("sequence(0, size(toks) - 2)"), lit(0L),
          (acc, i) => {
            val tok = element_at($"toks", (i + 1).cast("int"))
            val nxt = element_at($"toks", (i + 2).cast("int"))
            acc + at(lncArr, bucketOf(concat_ws(" ", tok, nxt))) -
              at(lndArr, bucketOf(tok))
          }).as("ref"),
        GraftFunctions.bigramLmScore($"toks", lnc, lnd).as("native"))
      .head()
    assert(uni.getAs[Long]("ref") == uni.getAs[Long]("native"))
  }

  test("tok_len_sum and count_in equal their HOF folds") {
    import spark.implicits._
    val vocab = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val inList = vocab.map(w => s"'$w'").mkString(", ")
    val rows = docs()
      .select($"doc_id",
        expr("aggregate(toks, 0, (a, t) -> a + length(t))").as("refLen"),
        GraftFunctions.tokLenSum($"toks").as("natLen"),
        expr(s"size(filter(toks, t -> t IN ($inList)))").as("refIn"),
        GraftFunctions.countIn($"toks", vocab).as("natIn"))
      .collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Int]("refIn") > 0),
      "fixture must exercise positive stopword hits")
    rows.foreach { r =>
      assert(r.getAs[Int]("refLen") == r.getAs[Int]("natLen"), s"len ${r.get(0)}")
      assert(r.getAs[Int]("refIn") == r.getAs[Int]("natIn"), s"in ${r.get(0)}")
    }
    // multibyte: length() is CHARACTER count, not bytes
    val uni = Seq("日本語 emoji🙂 ascii").toDF("text")
      .select(TextOps.tokens($"text").as("toks"))
      .select(expr("aggregate(toks, 0, (a, t) -> a + length(t))").as("refLen"),
        GraftFunctions.tokLenSum($"toks").as("natLen"))
      .head()
    assert(uni.getAs[Int]("refLen") == uni.getAs[Int]("natLen"))
  }

  test("md5_prefix_grams equals per-window md5_prefix of the joined gram; KMV set identical to the distinct form") {
    import spark.implicits._
    val l = 5
    val rows = docs()
      .filter(size($"toks") >= l)
      .select($"doc_id", $"toks",
        GraftFunctions.md5PrefixGrams($"toks", l, 10).as("native"),
        expr(s"transform(sequence(0, size(toks) - $l), i -> " +
          s"graft_md5_prefix(cast(concat_ws(' ', ${(0 until l).map(j => s"toks[i + $j]").mkString(", ")}) as binary), 10))")
          .as("ref"),
        // the d61 front this kernel replaces: distinct shingle STRINGS
        // then hash — its value SET must equal the positioned walk's
        expr(s"array_sort(array_distinct(transform(array_distinct(" +
          s"transform(sequence(0, size(toks) - $l), i -> " +
          s"concat_ws(' ', ${(0 until l).map(j => s"toks[i + $j]").mkString(", ")}))), " +
          "sh -> graft_md5_prefix(cast(sh as binary), 10))))").as("refSet"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("native") ==
        r.getAs[scala.collection.Seq[Long]]("ref"), s"doc ${r.get(0)}")
      assert(r.getAs[scala.collection.Seq[Long]]("native")
        .distinct.sorted.toSeq ==
        r.getAs[scala.collection.Seq[Long]]("refSet").toSeq,
        s"doc ${r.get(0)} set")
    }
    // short input -> null, like gramHashes
    val short = Seq(Seq("a", "b")).toDF("ts")
      .select(TextOps.tokens(concat_ws(" ", $"ts")).as("toks"))
      .select(GraftFunctions.md5PrefixGrams($"toks", l, 10).as("g")).head()
    assert(short.isNullAt(0))
  }

  test("block_md5 equals the transform/substring/md5 HOF block cut") {
    import spark.implicits._
    val b = 16
    val hof =
      s"""transform(sequence(0, cast(ceil(octet_length(payload) / $b.0) as int) - 1),
         |  i -> struct(md5(substring(payload, i * $b + 1, $b)) as h,
         |    cast(octet_length(substring(payload, i * $b + 1, $b)) as bigint) as blen))"""
        .stripMargin
    // fixture text payloads (the s25/x01 md5(text) ≡ md5(bytes)
    // contract) + crafted sizes around the block boundary, incl. a
    // multibyte payload (byte, not char, slicing)
    val crafted = Seq("x", "x" * 15, "x" * 16, "x" * 17, "x" * 160,
      "日本語テキストのブロック分割テスト🙂", "a b\nbinary-ish\t" + "y" * 40)
      .toDF("text")
    val fixture = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select($"text").filter(length($"text") > 0)
    for (df <- Seq(crafted, fixture)) {
      val rows = df.select($"text".cast("binary").as("payload"))
        .select(expr(hof).as("ref"),
          GraftFunctions.blockMd5($"payload", b).as("native"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val ref = r.getSeq[org.apache.spark.sql.Row](0)
        val nat = r.getSeq[org.apache.spark.sql.Row](1)
        assert(ref.map(x => (x.getString(0), x.getLong(1))) ==
          nat.map(x => (x.getString(0), x.getLong(1))))
      }
    }
    // null payload propagates
    val n = Seq[Option[Array[Byte]]](None).toDF("payload")
      .select(GraftFunctions.blockMd5($"payload", b).as("v")).head()
    assert(n.isNullAt(0))
  }

  test("bm25_sm equals the aggregate-over-query-terms HOF fold") {
    import spark.implicits._
    val nd = 4711L
    val tt = 912345L
    val vocabN = 40
    val rnd = new scala.util.Random(23)
    // per-row: a tf vector, a doc length, and a query-term list with
    // in-vocab indices and micro-weights (idf-sized)
    val rows0 = (1 to 200).map { i =>
      val tf = Array.fill(vocabN)(rnd.nextInt(7))
      val dl = 1L + rnd.nextInt(400)
      val q = Seq.fill(1 + rnd.nextInt(12))(
        (rnd.nextInt(vocabN), 1L + rnd.nextInt(9000000).toLong))
      (i.toLong, tf.toSeq, dl, q)
    }
    val hof =
      "aggregate(q, cast(0 as bigint), (acc, p) -> acc + " +
        "cast(floor(p._2 * ((element_at(tf, p._1 + 1) * 2.2) / " +
        "(element_at(tf, p._1 + 1) + 1.2 * (0.25 + 0.75 * " +
        s"(cast(dl * $nd as double) / $tt)))) + 0.5) as bigint))"
    val rows = rows0.toDF("id", "tf", "dl", "q")
      .select($"id", expr(hof).as("ref"),
        GraftFunctions.bm25Sm($"tf", $"dl", $"q", nd, tt).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("ref") == r.getAs[Long]("native"),
        s"row ${r.get(0)}")
    }
    // empty query-term list → 0, null inputs propagate
    val edge = Seq((Some(Seq(1, 2)), Some(3L), Some(Seq.empty[(Int, Long)])),
      (None: Option[Seq[Int]], Some(3L), Some(Seq((0, 5L)))))
      .toDF("tf", "dl", "q")
      .select(expr(hof).as("ref"),
        GraftFunctions.bm25Sm($"tf", $"dl", $"q", nd, tt).as("native"))
      .collect()
    edge.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getAs[Long]("ref") == r.getAs[Long]("native"))
    }
  }

  test("md5_sort_key limbs equal the conv(substring(md5)) chain and order like the hex string") {
    import spark.implicits._
    val inputs = (1 to 500).map(i => s"doc-$i:ep1") ++
      Seq("", "a", "héllo wörld 世界", "x" * 2000)
    val df = inputs.toDF("s").withColumn("b", $"s".cast("binary"))
    // limb equivalence against the interpreted hex chain (the
    // independent oracle the md5_prefix spec above uses), including
    // the [30,32) tail limb no prefix kernel can reach
    val rows = df.select(
        expr("cast(conv(substring(md5(b), 1, 15), 16, 10) as bigint)").as("c0"),
        expr("cast(conv(substring(md5(b), 16, 15), 16, 10) as bigint)").as("c1"),
        expr("cast(conv(substring(md5(b), 31, 2), 16, 10) as bigint)").as("c2"),
        GraftFunctions.md5SortKey($"b").as("native"),
        expr("graft_md5_sort_key(b)").as("sqlform"),
        md5($"b").as("hex"))
      .collect()
    rows.foreach { r =>
      val nat = r.getAs[scala.collection.Seq[Long]]("native")
      val sql = r.getAs[scala.collection.Seq[Long]]("sqlform")
      val chain = Seq(r.getAs[Long]("c0"), r.getAs[Long]("c1"), r.getAs[Long]("c2"))
      assert(nat == chain, s"native limbs $nat != chain $chain")
      assert(sql == chain, s"sql-registered limbs $sql != chain $chain")
    }
    // ORDER equivalence — the property d24 rides on: sorting by the
    // key array must reproduce sorting by the hex string exactly
    val byHex = rows.sortBy(_.getAs[String]("hex")).map(_.getAs[String]("hex"))
    implicit val seqOrd: Ordering[scala.collection.Seq[Long]] =
      Ordering.Implicits.seqOrdering(Ordering.Long)
    val byKey = rows.sortBy(_.getAs[scala.collection.Seq[Long]]("native"))
      .map(_.getAs[String]("hex"))
    assert(byKey.toSeq == byHex.toSeq,
      "array order diverged from hex lexicographic order")
    // null propagates
    val n = Seq[Option[String]](None).toDF("s")
      .select(GraftFunctions.md5SortKey($"s".cast("binary")).as("v"))
      .collect()
    assert(n(0).isNullAt(0))
  }

  test("graft_dec2 is bit-identical to cast(double AS DECIMAL(18,2))") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // adversarial sample: exact 2dp money values and their ulp
    // neighbors, 3dp half-boundaries (the HALF_UP discontinuities),
    // magnitude sweeps across the fast-path/fallback seam (t <= 0 at
    // |d| ~ 2^50), subnormals, signed zeros, NaN/Inf, and a broad
    // random cloud with long shortest-reprs
    val rnd = new scala.util.Random(20260820L)
    def ulps(d: Double, n: Int): Seq[Double] =
      (-n to n).map { i =>
        var x = d
        var k = i
        while (k > 0) { x = Math.nextUp(x); k -= 1 }
        while (k < 0) { x = Math.nextDown(x); k += 1 }
        x
      }
    val money = (0 until 4000).flatMap { _ =>
      val k = rnd.nextInt(200000000) - 100000000 // +-1e6.xx
      ulps(k / 100.0, 2)
    }
    val halves = (0 until 4000).flatMap { _ =>
      val k = rnd.nextInt(2000000000) - 1000000000
      ulps((k * 10 + 5) / 1000.0, 2) // x.xx5 three-decimal halves
    }
    val sweeps = (-330 to 308).flatMap { ex =>
      Seq(math.pow(10, ex), -math.pow(10, ex),
        math.pow(10, ex) * 1.2345678901234567)
    }.filter(d => !d.isInfinite && math.abs(d) < 9.0e15)
    val seam = (0 until 2000).map(_ =>
      (rnd.nextDouble() - 0.5) * 9.0e15) // around and below the t<=0 seam
    val cloud = (0 until 30000).map { _ =>
      java.lang.Double.longBitsToDouble(rnd.nextLong()) match {
        case d if d.isNaN || d.isInfinite || math.abs(d) >= 9.0e15 =>
          rnd.nextDouble() * 1e6 - 5e5
        case d => d
      }
    }
    val specials = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue,
      -Double.MinPositiveValue, 2.675, -2.675, 7.105, 8.835, 0.005, -0.005)
    val all = (money ++ halves ++ sweeps ++ seam ++ cloud ++ specials)
    val rows = all.toDF("d").repartition(8)
      .select($"d", $"d".cast(DecimalType(18, 2)).as("ref"),
        GraftFunctions.dec2($"d").as("nat"))
      .collect()
    assert(rows.length == all.length)
    rows.foreach { r =>
      val ref = if (r.isNullAt(1)) null else r.getDecimal(1)
      val nat = if (r.isNullAt(2)) null else r.getDecimal(2)
      assert(ref == nat, s"d=${r.get(0)} bits=${java.lang.Double.doubleToRawLongBits(r.getAs[Double]("d"))}: cast=$ref dec2=$nat")
    }
    // null propagates
    val n = Seq[Option[Double]](None).toDF("d")
      .select(GraftFunctions.dec2($"d").as("v")).collect()
    assert(n(0).isNullAt(0))
    // the ANSI overflow throws on both sides (behavior parity)
    intercept[Exception] {
      Seq(1.0e18).toDF("d").select($"d".cast(DecimalType(18, 2))).collect()
    }
    intercept[Exception] {
      Seq(1.0e18).toDF("d").select(GraftFunctions.dec2($"d")).collect()
    }
  }
  test("md5_minmax equals the array_min/array_max-over-md5 HOF pair") {
    import spark.implicits._
    // real token arrays off the fixture corpus, both d12 shapes
    for (n <- Seq(3, 5)) {
      val rows = docs()
        .filter(size($"toks") >= n)
        .withColumn("sh", TextOps.shingles("toks", n))
        .withColumn("mm", GraftFunctions.md5MinMax($"toks", n))
        .select($"doc_id",
          expr("array_min(transform(sh, t -> md5(cast(t as binary))))")
            .as("refMn"),
          expr("array_max(transform(sh, t -> md5(cast(t as binary))))")
            .as("refMx"),
          $"mm.mn".as("mn"), $"mm.mx".as("mx"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[String]("refMn") == r.getAs[String]("mn"),
          s"n=$n doc ${r.get(0)} min")
        assert(r.getAs[String]("refMx") == r.getAs[String]("mx"),
          s"n=$n doc ${r.get(0)} max")
      }
    }
    // edges: exactly one window; duplicate-heavy windows (min/max are
    // duplicate-insensitive); multibyte UTF-8; size < n -> null on
    // both sides (the HOF side guarded like the call sites' filter)
    val edge = Seq((1L, "a b c"),
      (2L, "h\u00e9llo w\u00f6rld \u4e16\u754c h\u00e9llo w\u00f6rld \u4e16\u754c h\u00e9llo w\u00f6rld"),
      (3L, "x x x x"), (4L, "a b"))
      .toDF("id", "text")
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("sh", when(size($"toks") >= 3, TextOps.shingles("toks", 3)))
      .withColumn("mm", GraftFunctions.md5MinMax($"toks", 3))
      .select($"id",
        expr("array_min(transform(sh, t -> md5(cast(t as binary))))")
          .as("refMn"),
        expr("array_max(transform(sh, t -> md5(cast(t as binary))))")
          .as("refMx"),
        $"mm.mn".as("mn"), $"mm.mx".as("mx"))
      .collect()
    edge.foreach { r =>
      assert(r.getAs[String]("refMn") == r.getAs[String]("mn"),
        s"id ${r.get(0)} min")
      assert(r.getAs[String]("refMx") == r.getAs[String]("mx"),
        s"id ${r.get(0)} max")
    }
  }

  test("gram_distinct equals size(shingles) exactly") {
    import spark.implicits._
    for (l <- Seq(3, 5)) {
      val rows = docs()
        .filter(size($"toks") >= l)
        .select($"doc_id",
          size(TextOps.shingles("toks", l)).as("ref"),
          GraftFunctions.gramDistinctCount($"toks", l).as("native"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(r.getAs[Int]("ref") == r.getAs[Int]("native"),
        s"l=$l doc ${r.get(0)}"))
    }
    // a long repetitive synthetic doc exercises the open-addressed
    // table's growth/probe path (8k windows, 1500-period repetition)
    val txt = (0 until 8000).map(i => "t" + (i % 1500)).mkString(" ")
    val one = Seq((1L, txt)).toDF("id", "text")
      .withColumn("toks", TextOps.tokens($"text"))
      .select(size(TextOps.shingles("toks", 5)).as("ref"),
        GraftFunctions.gramDistinctCount($"toks", 5).as("native"))
      .collect()(0)
    assert(one.getAs[Int]("ref") == one.getAs[Int]("native"))
    // degenerate sizes: exactly one window; all-identical windows
    val tiny = Seq((1L, "a b c d e"), (2L, "x x x x x x x x"))
      .toDF("id", "text")
      .withColumn("toks", TextOps.tokens($"text"))
      .select($"id", size(TextOps.shingles("toks", 5)).as("ref"),
        GraftFunctions.gramDistinctCount($"toks", 5).as("native"))
      .collect()
    tiny.foreach(r => assert(r.getAs[Int]("ref") == r.getAs[Int]("native"),
      s"id ${r.get(0)}"))
  }

  /** Every concrete KernelCall compiled into graft.functions. */
  private def kernelClasses: Set[Class[_]] = {
    val base = classOf[KernelCall]
    val pkg = base.getPackage.getName
    // the build's class directory (tests run against compiled classes)
    val dir = new java.io.File(new java.io.File(
      base.getProtectionDomain.getCodeSource.getLocation.toURI), pkg.replace('.', '/'))
    assert(dir.isDirectory, s"$dir is not a class directory")
    dir.list().toSeq.filter(_.endsWith(".class"))
      .map(f => Class.forName(s"$pkg.${f.stripSuffix(".class")}", false,
        base.getClassLoader))
      .filter(c => base.isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .toSet
  }

  /** Deep value equality over converted results: doubles bit-exact
    * (NaN and -0.0 included), boxed values of the same class only. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.indices.forall(i => same(x(i), y(i)))
    case (x: org.apache.spark.sql.Row, y: org.apache.spark.sql.Row) =>
      same(x.toSeq, y.toSeq)
    case _ => (a == null && b == null) ||
      (a != null && b != null && a.getClass == b.getClass && a == b)
  }

  test("every KernelCall: interpreted eval equals the codegen'd UnsafeProjection") {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import scala.util.{Failure, Success, Try}
    // fixture rows (real docs and embeddings) plus the edges of each
    // input type: null input, null element, empty, fewer than n tokens
    val texts = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select("text").orderBy("doc_id").limit(24).collect().map(_.getString(0)).toSeq
    val vecs = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .orderBy("vec_id").limit(12)
      .select(graft.vec.VectorOps.toDouble(col("embedding")))
      .collect().map(_.getSeq[Double](0).toArray).toSeq
    val dim = vecs.head.length
    def strs(xs: String*) = new GenericArrayData(
      xs.map(x => if (x == null) null else UTF8String.fromString(x)).toArray[Any])
    val nullFreeToks: Seq[Any] =
      texts.map(t => TextKernels.normTokens(UTF8String.fromString(t))) ++
        Seq(null, strs(), strs("a", "b"), strs("héllo", "wörld", "日本語", "x"))
    val toks = nullFreeToks ++ Seq(strs("a", null, "b c"), strs(null))
    val strings: Seq[Any] = texts.map(UTF8String.fromString) ++
      Seq(null, UTF8String.EMPTY_UTF8, UTF8String.fromString(" \t\n"))
    val binaries: Seq[Any] =
      texts.map(_.getBytes("UTF-8")) ++ Seq(null, Array.emptyByteArray)
    val doubles: Seq[Any] = Seq(0.0, -0.0, 1.005, -2.675, 123456.785, 1e300,
      Double.NaN, Double.NegativeInfinity, null)
    val vectors: Seq[Any] = vecs.map(v => new GenericArrayData(v)) ++
      Seq(null, new GenericArrayData(Array.empty[Double]),
        new GenericArrayData((null +: Seq.fill(dim - 1)(0.5)).toArray[Any]))
    val rnd = new scala.util.Random(17)
    val bmRows: Seq[Seq[Any]] = (1 to 20).map { _ =>
      Seq(new GenericArrayData(Array.fill(8)(rnd.nextInt(5))),
        1L + rnd.nextInt(300),
        new GenericArrayData(Array.fill[Any](1 + rnd.nextInt(4))(
          InternalRow(rnd.nextInt(8), 1L + rnd.nextInt(900000)))))
    } ++ Seq(Seq(null, 3L, new GenericArrayData(Array.empty[Any])),
      Seq(new GenericArrayData(Array(1, 2)), null, new GenericArrayData(Array.empty[Any])),
      Seq(new GenericArrayData(Array(1, 2)), 3L, new GenericArrayData(Array.empty[Any])))

    def in(i: Int, t: DataType) = BoundReference(i, t, nullable = true)
    val tok = in(0, ArrayType(StringType))
    val nf = in(0, ArrayType(StringType, containsNull = false))
    val bin = in(0, BinaryType)
    val v = in(0, ArrayType(DoubleType))
    val one = (xs: Seq[Any]) => xs.map(Seq(_))
    val pairs = vectors.map(Seq(_, vectors.head)) :+ Seq(vectors.head, null)
    val cases: Seq[(KernelCall, Seq[Seq[Any]])] = Seq(
      SimHash64Expr(tok) -> one(toks),
      MinHashSigExpr(tok, 8) -> one(toks),
      MinHashShinglesExpr(nf, 3, 8) -> one(nullFreeToks),
      GramHashesExpr(nf, 3) -> one(nullFreeToks),
      Md5PrefixExpr(bin, 6) -> one(binaries),
      Md5SortKeyExpr(bin) -> one(binaries),
      Md5MinhashExpr(tok, 4) -> one(toks),
      QcWsumExpr(tok, Array.tabulate(16)(b => b * 0.25 - 1.5), 16) -> one(toks),
      BloomHitsExpr(tok, Array.fill(1024)(rnd.nextLong()), 3, 4) -> one(toks),
      BigramLmScoreExpr(nf, Array.fill(64)(rnd.nextInt(1000).toLong),
        Array.fill(64)(rnd.nextInt(1000).toLong)) -> one(nullFreeToks),
      TokLenSumExpr(nf) -> one(nullFreeToks),
      Dec2Expr(in(0, DoubleType)) -> one(doubles),
      BlockMd5Expr(bin, 16) -> one(binaries),
      Bm25SmExpr(in(0, ArrayType(IntegerType)), in(1, LongType),
        in(2, ArrayType(StructType(Seq(StructField("_1", IntegerType),
          StructField("_2", LongType))))), 4711L, 912345L) -> bmRows,
      CountInExpr(nf, Seq("the", "a", "of")) -> one(nullFreeToks),
      Md5PrefixGramsExpr(nf, 3, 10) -> one(nullFreeToks),
      Md5MinMaxExpr(nf, 3) -> one(nullFreeToks),
      GramDistinctCountExpr(nf, 3) -> one(nullFreeToks),
      SignLshExpr(v, Array.fill(8 * dim)(rnd.nextGaussian()), dim, 4) -> one(vectors),
      NearestCentroidExpr(v, vecs.take(3).flatten.toArray, dim) -> one(vectors),
      DotExpr(v, in(1, ArrayType(DoubleType))) -> pairs,
      CosineExpr(v, in(1, ArrayType(DoubleType))) -> pairs,
      NormTokensExpr(in(0, StringType)) -> one(strings),
      TermCountsExpr(tok, Seq("the", "of", "zzz-never")) -> one(toks),
      GopherStatsExpr(tok, Seq(2, 3)) -> one(toks),
      CharCountsExpr(in(0, StringType), "aeiou ") -> one(strings))
    assert(cases.map(_._1.getClass).toSet[Class[_]] == kernelClasses,
      "the parity table must cover every KernelCall")
    for ((k, rows) <- cases) {
      assert(k.checkInputDataTypes().isSuccess, k.prettyName)
      val proj = GenerateUnsafeProjection.generate(Seq(k))
      def scala(x: => Any) = Try(CatalystTypeConverters.convertToScala(x, k.dataType))
      val outcomes = rows.map { r =>
        val row = InternalRow.fromSeq(r)
        val interpreted = scala(k.eval(row))
        val generated = scala(proj(row).copy().get(0, k.dataType))
        (interpreted, generated) match {
          case (Success(a), Success(b)) =>
            assert(same(a, b), s"${k.prettyName} on $r: eval $a vs codegen $b")
          case (Failure(a), Failure(b)) =>
            assert(a.getClass == b.getClass, s"${k.prettyName} on $r: $a vs $b")
          case other => fail(s"${k.prettyName} on $r: $other")
        }
        interpreted
      }
      assert(outcomes.exists(o => o.isSuccess && o.get != null),
        s"${k.prettyName}: no row produced a value")
    }
  }
}
