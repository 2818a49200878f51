package graft.mm

import graft.GraftSession

/** Reference-compatible matrix-multiply CLI (mm/MatrixMultiply.java:
  * 27-105): same flags (-n -m -p -i -o, -t test mode), same flow —
  * generate the n×m A into the input file, generate B, distributed
  * row-block GEMM against broadcast B, ordered assemble, write C; test
  * mode verifies against the serial multiply exactly like the
  * reference's self-check.
  */
object MatrixMultiplyMain {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("-") && !v.startsWith("-") =>
        k.drop(1) -> v
    }.toMap
    val n = a("n").toInt; val m = a("m").toInt; val p = a("p").toInt
    val input = a("i"); val output = a("o")
    val testMode = args.contains("-t")

    GraftSession.using { spark =>
      // generate + write A, then read it back (reference flow)
      MatrixIO.writeDoubleMatrix(input, MatrixIO.randomMatrix(n, m, seed = 1L))
      val b = Gemm.toColMajor(MatrixIO.randomMatrix(m, p, seed = 2L), m, p)
      val blocks = MatrixIO.doubleMatrixBlocks(spark, input, n, m,
        GraftSession.cores)
      val cBlocks = Gemm.multiply(spark, blocks, b, p)
      val c = Gemm.assemble(cBlocks.collect().toSeq)
      MatrixIO.writeDoubleMatrix(output, c)
      if (testMode) {
        val aData = MatrixIO.readDoubleSlice(input, m, 0, n, bigEndian = true)
        val want = Gemm.serialMultiply(aData, n, m, b, p)
        require(c.toSeq == want.toSeq, "distributed C != serial C")
        println(s"TEST OK: ${n}x$m x ${m}x$p verified against serial multiply")
      }
      println(s"wrote ${n}x$p C to $output")
    }
  }
}
