package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass alphabet histogram kernel.
  *
  * The entropy/secret screens (d84/d87 and their streaming lifts) need,
  * per string, the occurrence count of every char of a FIXED ASCII
  * alphabet. The composed-functions form —
  * `transform(alphabet, c -> length(s) - length(replace(s, c, '')))` —
  * is semantically exact but re-scans the string once per alphabet
  * char and allocates a fresh string per `replace`: 74 full scans +
  * 74 copies per document. This kernel makes ONE pass over the UTF-8
  * bytes with a 128-slot lookup table.
  *
  * Exactness vs the composed form: the alphabet is ASCII-only and
  * UTF-8 continuation/lead bytes of multibyte code points are all
  * >= 0x80, so an ASCII byte in the encoding IS an occurrence of that
  * character — byte-scan counts equal the `replace` char counts for
  * every input, including multibyte text (asserted in CharCountsSpec).
  */
object CharCountKernels {
  /** 128-slot byte→alphabet-index table (-1 = not in alphabet). */
  def lookupFor(alphabet: String): Array[Int] = {
    require(alphabet.nonEmpty && alphabet.forall(_ < 128),
      "graft_char_counts needs a non-empty ASCII alphabet")
    require(alphabet.distinct.length == alphabet.length,
      "graft_char_counts alphabet has duplicate chars")
    val lut = Array.fill(128)(-1)
    alphabet.zipWithIndex.foreach { case (c, i) => lut(c.toInt) = i }
    lut
  }

  def counts(s: UTF8String, lut: Array[Int], k: Int): Array[Int] = {
    val out = new Array[Int](k)
    val n = s.numBytes
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) {
        val idx = lut(b)
        if (idx >= 0) out(idx) += 1
      }
      i += 1
    }
    out
  }
}

/** graft_char_counts(s: string, 'alphabet') → array<int> of per-char
  * occurrence counts in alphabet order. */
final case class CharCountsExpr(child: Expression, alphabet: String)
    extends KernelCall with UnaryLike[Expression] {
  def inputTypes: Seq[DataType] = Seq(StringType)
  def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_char_counts"
  protected def kernel: KernelCall.Kernel = KernelCall.Kernel(CharCountKernels, "counts")
  override protected def constants: Seq[Any] =
    Seq(CharCountKernels.lookupFor(alphabet), alphabet.length)
  override protected def withNewChildInternal(newChild: Expression): CharCountsExpr =
    copy(child = newChild)
}
