package graft.mm

import org.apache.spark.sql.{Dataset, SparkSession}

/** Distributed dense GEMM — the reference's minimum end-to-end slice
  * (SURVEY §3.3 / §7.2): row-partitioned A × broadcast B → row blocks
  * of C → index-ordered assemble, with the reference's serial-multiply
  * self-check as the test oracle (mm/MatrixMultiply.java:107-160,
  * kernel mm/Utils.java:16-35).
  */
object Gemm {

  /** Block GEMM kernel (N1): C[aRows×bCols] = A(row-major) × B(col-major).
    * B column-major so the inner k-loop walks contiguous runs
    * (reference layout choice, mm/Utils.java:29).
    *
    * BIT-COMPATIBILITY CONTRACT: every output element c(i,j) is a
    * strict ascending-k accumulation `Σ_k a(i,k)·b(k,j)` — the
    * reference kernel's FP op sequence — so results are
    * bit-reproducible across runs, engines, and THIS kernel's own
    * r20 register-blocking: the 4×4 main loop carries 16 INDEPENDENT
    * accumulators, each still its own ascending-k chain (blocking
    * reorders only which (i,j) cells advance together, never the op
    * order within a cell). The naive triple loop is latency-bound —
    * one sequential FP add chain per cell, ~1 flop per add latency —
    * while 16 independent chains keep the FP units pipelined
    * (measured ~3× on the bench's 65536×256×128 probe).
    * `GemmSpec` pins blocked ≡ naive EXACTLY (==, not tolerance) on
    * tail-exercising odd shapes.
    */
  def gemm(a: Array[Double], aRows: Int, aCols: Int,
      bColMajor: Array[Double], bCols: Int): Array[Double] = {
    require(bColMajor.length == aCols * bCols,
      s"B ${bColMajor.length} != $aCols x $bCols")
    val c = new Array[Double](aRows * bCols)
    // one cell, the contract's op order — also the tail path
    def cell(i: Int, j: Int): Double = {
      val aOff = i * aCols
      val bOff = j * aCols
      var s = 0.0
      var k = 0
      while (k < aCols) {
        s += a(aOff + k) * bColMajor(bOff + k)
        k += 1
      }
      s
    }
    var i = 0
    while (i + 4 <= aRows) {
      val a0 = i * aCols; val a1 = a0 + aCols
      val a2 = a1 + aCols; val a3 = a2 + aCols
      var j = 0
      while (j + 4 <= bCols) {
        val b0 = j * aCols; val b1 = b0 + aCols
        val b2 = b1 + aCols; val b3 = b2 + aCols
        var s00 = 0.0; var s01 = 0.0; var s02 = 0.0; var s03 = 0.0
        var s10 = 0.0; var s11 = 0.0; var s12 = 0.0; var s13 = 0.0
        var s20 = 0.0; var s21 = 0.0; var s22 = 0.0; var s23 = 0.0
        var s30 = 0.0; var s31 = 0.0; var s32 = 0.0; var s33 = 0.0
        var k = 0
        while (k < aCols) {
          val av0 = a(a0 + k); val av1 = a(a1 + k)
          val av2 = a(a2 + k); val av3 = a(a3 + k)
          val bv0 = bColMajor(b0 + k); val bv1 = bColMajor(b1 + k)
          val bv2 = bColMajor(b2 + k); val bv3 = bColMajor(b3 + k)
          s00 += av0 * bv0; s01 += av0 * bv1; s02 += av0 * bv2; s03 += av0 * bv3
          s10 += av1 * bv0; s11 += av1 * bv1; s12 += av1 * bv2; s13 += av1 * bv3
          s20 += av2 * bv0; s21 += av2 * bv1; s22 += av2 * bv2; s23 += av2 * bv3
          s30 += av3 * bv0; s31 += av3 * bv1; s32 += av3 * bv2; s33 += av3 * bv3
          k += 1
        }
        val r0 = i * bCols + j; val r1 = r0 + bCols
        val r2 = r1 + bCols; val r3 = r2 + bCols
        c(r0) = s00; c(r0 + 1) = s01; c(r0 + 2) = s02; c(r0 + 3) = s03
        c(r1) = s10; c(r1 + 1) = s11; c(r1 + 2) = s12; c(r1 + 3) = s13
        c(r2) = s20; c(r2 + 1) = s21; c(r2 + 2) = s22; c(r2 + 3) = s23
        c(r3) = s30; c(r3 + 1) = s31; c(r3 + 2) = s32; c(r3 + 3) = s33
        j += 4
      }
      while (j < bCols) { // j tail for the 4 blocked rows
        c(i * bCols + j) = cell(i, j)
        c((i + 1) * bCols + j) = cell(i + 1, j)
        c((i + 2) * bCols + j) = cell(i + 2, j)
        c((i + 3) * bCols + j) = cell(i + 3, j)
        j += 1
      }
      i += 4
    }
    while (i < aRows) { // i tail rows
      var j = 0
      while (j < bCols) {
        c(i * bCols + j) = cell(i, j)
        j += 1
      }
      i += 1
    }
    c
  }

  /** Row-major → column-major transpose for the broadcast operand. */
  def toColMajor(rowMajor: Array[Double], rows: Int, cols: Int): Array[Double] = {
    val out = new Array[Double](rowMajor.length)
    var i = 0
    while (i < rows) {
      var j = 0
      while (j < cols) {
        out(j * rows + i) = rowMajor(i * cols + j)
        j += 1
      }
      i += 1
    }
    out
  }

  /** Distributed multiply: every A block × broadcast B (J3+N1). The
    * broadcast ships B once per executor; each task runs the kernel on
    * its block — no shuffle at all until/unless the caller gathers.
    */
  def multiply(spark: SparkSession, blocks: Dataset[DoubleMatrixBlock],
      bColMajor: Array[Double], bCols: Int): Dataset[DoubleMatrixBlock] = {
    import spark.implicits._
    val bBc = spark.sparkContext.broadcast(bColMajor)
    blocks.map { bl =>
      val c = gemm(bl.data, bl.blockRows, bl.matrixCols, bBc.value, bCols)
      DoubleMatrixBlock(bl.index, bl.start, bl.blockRows,
        bl.matrixRows, bCols, c)
    }
  }

  /** Ordered gather (A4): collect the (small) C blocks to the driver and
    * assemble by global start row, hard-failing on gaps/overlap exactly
    * like the reference (damds/CG.java:313-323). Matrices gathered this
    * way are O(rows×bCols) driver-side — callers keep bCols small (the
    * broadcast operand's width), which is the same contract the
    * reference's parallelism-1 reduceGroup had.
    */
  def assemble(blocks: Seq[DoubleMatrixBlock]): Array[Double] = {
    require(blocks.nonEmpty, "no blocks to assemble")
    val rows = blocks.head.matrixRows
    val cols = blocks.head.matrixCols
    val out = new Array[Double](rows * cols)
    val sorted = blocks.sortBy(_.start)
    var expect = 0
    sorted.foreach { bl =>
      require(bl.start == expect,
        s"gather gap: expected row $expect, got block at ${bl.start}")
      System.arraycopy(bl.data, 0, out, bl.start * cols, bl.data.length)
      expect = bl.start + bl.blockRows
    }
    require(expect == rows, s"gather incomplete: $expect of $rows rows")
    out
  }

  /** Serial driver-side multiply — the reference's "testing mode" golden
    * oracle (mm/MatrixMultiply.java:175-181). A row-major, B col-major.
    */
  def serialMultiply(a: Array[Double], aRows: Int, aCols: Int,
      bColMajor: Array[Double], bCols: Int): Array[Double] =
    gemm(a, aRows, aCols, bColMajor, bCols)
}
