package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions hook registering the native kernels as SQL
  * functions, so `spark.sql("SELECT graft_simhash64(toks) ...")` works.
  * Every session `graft.GraftSession` opens carries it:
  *
  * {{{
  * val spark = graft.GraftSession() // spark.sql.extensions = this class
  * spark.sql("SELECT graft_simhash64(array('a', 'b'))")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64Expr].getName, "graft_simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash64(tokens)")
        SimHash64Expr(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_char_counts"),
      new ExpressionInfo(classOf[CharCountsExpr].getName, "graft_char_counts"),
      (args: Seq[Expression]) => args match {
        case Seq(s, Literal(a: org.apache.spark.unsafe.types.UTF8String, _)) =>
          CharCountsExpr(s, a.toString)
        case _ => throw new IllegalArgumentException(
          "graft_char_counts(s, alphabet literal string)")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_prefix"),
      new ExpressionInfo(classOf[Md5PrefixExpr].getName, "graft_md5_prefix"),
      (args: Seq[Expression]) => args match {
        case Seq(bin, Literal(k: Int, IntegerType)) => Md5PrefixExpr(bin, k)
        case _ => throw new IllegalArgumentException(
          "graft_md5_prefix(bin, hexDigits literal int)")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_md5_sort_key"),
      new ExpressionInfo(classOf[Md5SortKeyExpr].getName, "graft_md5_sort_key"),
      (args: Seq[Expression]) => args match {
        case Seq(bin) => Md5SortKeyExpr(bin)
        case _ => throw new IllegalArgumentException(
          "graft_md5_sort_key(bin)")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash"),
      (args: Seq[Expression]) => args match {
        case Seq(arr, Literal(k: Int, IntegerType)) => MinHashSigExpr(arr, k)
        case _ => throw new IllegalArgumentException(
          "graft_minhash(shingles, k literal int)")
      }))
  }
}
