package graft.functions

import graft.TestSpark
import graft.vec.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native dot/cosine kernels against their pre-native HOF
  * renderings (the HashExprsSpec discipline: the HOF chain is the
  * independent in-engine oracle). Bit-identity, not tolerance — the
  * kernels sit under cross-engine-hashed queries (v01/v03/v04/v10/
  * v13/v14/v16/v17), so a one-ulp drift is a gate break. */
class VecExprsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def vecs(n: Int, d: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(d)(rnd.nextGaussian()))
  }

  test("native dot is bit-identical to the HOF fold on random vectors") {
    import spark.implicits._
    val rows = vecs(200, 64, 7L).zip(vecs(200, 64, 8L))
    val df = rows.toDF("a", "b")
    val out = df.select(
      VectorOps.dot($"a", $"b").as("native"),
      VectorOps.dotHof($"a", $"b").as("hof")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"dot drift: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("a null element fails loudly instead of silently scoring as 0.0") {
    import spark.implicits._
    // the kernels read elements primitively (a null would score as
    // 0.0) while the HOF form they are documented bit-identical to
    // yields NULL — so an actual null element must be a loud data-bug
    // error, not a silent divergence (ADVICE r10)
    val df = vecs(3, 4, 9L).zip(vecs(3, 4, 10L)).toDF("a", "b")
      .select(transform($"a", x =>
        when(x > lit(Double.MinValue), lit(null).cast("double"))
          .otherwise(x)).as("a"), $"b")
    val e = intercept[Exception] {
      df.select(VectorOps.dot($"a", $"b")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("null element")),
      s"wrong failure: ${messages(e)}")
    // and a null-free but element-NULLABLE column (the parquet schema
    // reality) still computes — the check costs only where it can fire
    val ok = df.select(transform($"a", x => coalesce(x, lit(0.0))).as("a"), $"b")
      .select(VectorOps.dot($"a", $"b").as("d")).collect()
    assert(ok.forall(!_.isNullAt(0)))
  }

  test("native fused cosine is bit-identical to the HOF composition") {
    import spark.implicits._
    // include scaled/antiparallel/orthogonal shapes and denormal-ish
    // magnitudes alongside random pairs
    val special = Seq(
      (Seq(1.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0)),
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
      (Seq(1e-160, 2e-160, -3e-160), Seq(4e-160, -5e-160, 6e-160)),
      (Seq(1e150, -2e150, 3e150), Seq(1e150, 2e150, -3e150)),
      (Seq(-0.0, 0.0, 1.0), Seq(0.0, -0.0, 1.0)))
    val rows = vecs(200, 64, 9L).zip(vecs(200, 64, 10L)) ++ special
    val df = rows.toDF("a", "b")
    val out = df.select(
      VectorOps.cosine($"a", $"b").as("native"),
      VectorOps.cosineHof($"a", $"b").as("hof")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"cosine drift: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("native kernels stay inside WholeStageCodegen") {
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // range-backed input: a local Seq would constant-fold the whole
      // projection into a LocalTableScan and prove nothing
      val df = spark.range(64).select(
          array((0 until 8).map(j =>
            pmod(xxhash64($"id", lit(j)), lit(1000L)) / 1000.0): _*).as("a"),
          array((0 until 8).map(j =>
            pmod(xxhash64($"id", lit(j + 100)), lit(1000L)) / 1000.0): _*).as("b"))
        .select(VectorOps.cosine($"a", $"b").as("c"),
          VectorOps.dot($"a", $"b").as("d"))
      val p = df.queryExecution.executedPlan
      val bad = KernelPlans.codegenViolations(p, classOf[CosineExpr],
        classOf[DotExpr])
      assert(bad.isEmpty, s"${bad.mkString("; ")}:\n$p")
      val rows = df.collect() // and the generated Java compiles/runs
      assert(rows.length == 64 && rows.forall(r => !r.isNullAt(0)))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("mismatched lengths fail loudly (the HOF would silently NULL)") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VectorOps.dot($"a", $"b")).collect()
    }
    assert(e.getMessage != null)
  }
}
