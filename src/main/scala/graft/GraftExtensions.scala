package graft

import graft.functions.{MinhashSig, ShingleMinHash, VecDot, VecSqDist}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions registering the library's native Catalyst
  * expressions (the brief's tier (b): a codegen'd Expression where the
  * built-in functions can't express the operator efficiently).
  *
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * on the session builder (done by [[GraftSession]] for every main and the
  * test session); call via `functions.call_function("shingle_min_hash", col)`
  * or SQL. Queries outside this registry never require the extension —
  * every operator keeps a portable Column-DSL formulation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // arity validated here so a wrong-arity SQL call fails analysis with
    // a real message instead of an IndexOutOfBounds from the builder
    def arity(name: String, n: Int, exprs: Seq[Expression]): Unit =
      require(exprs.length == n,
        s"$name requires exactly $n argument(s), got ${exprs.length}")
    ext.injectFunction((
      FunctionIdentifier("shingle_min_hash"),
      new ExpressionInfo(classOf[ShingleMinHash].getName, null,
        "shingle_min_hash",
        "shingle_min_hash(str) - min Rabin-Karp hash over 8-codepoint windows",
        ""),
      (exprs: Seq[Expression]) => { arity("shingle_min_hash", 1, exprs)
        ShingleMinHash(exprs.head) }))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, null, "vec_dot",
        "vec_dot(a, b) - exact integer dot product of two array<bigint>", ""),
      (exprs: Seq[Expression]) => { arity("vec_dot", 2, exprs)
        VecDot(exprs.head, exprs(1)) }))
    ext.injectFunction((
      FunctionIdentifier("vec_sqdist"),
      new ExpressionInfo(classOf[VecSqDist].getName, null, "vec_sqdist",
        "vec_sqdist(a, b) - exact integer squared distance of two array<bigint>", ""),
      (exprs: Seq[Expression]) => { arity("vec_sqdist", 2, exprs)
        VecSqDist(exprs.head, exprs(1)) }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSig].getName, null, "minhash_sig",
        "minhash_sig(hashes) - 16 affine-permutation MinHash minima of an array<bigint>", ""),
      (exprs: Seq[Expression]) => { arity("minhash_sig", 1, exprs)
        MinhashSig(exprs.head) }))
  }
}
