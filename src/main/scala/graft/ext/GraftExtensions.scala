package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session extension registering graft's codegen'd kernels under SQL names.
  * Install with `spark.sql.extensions=graft.ext.GraftExtensions` so SQL
  * text can call `graft_cosine(a, b)`, `graft_minhash_sig(sh, 16)` and the
  * rest. The DataFrame API does not need it: the graft.ops constructors
  * (`Similarity.cosine`, `Dedup.minhashSignature`, ...) build the same
  * expressions directly, in any session. The integer-literal checks below
  * apply to the SQL forms only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(
      name: String,
      arity: Int,
      build: Seq[Expression] => Expression
  ): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.ext.GraftExtensions", name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name expects exactly $arity arguments")
        build(args)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_json_get", 2, args => JsonGetSimple(args(0), args(1))))
    ext.injectFunction(fn("graft_md5hex", 1, args => Md5HexExpr(args(0))))
    ext.injectFunction(fn("graft_hash60_arr", 1, args => Hash60Array(args(0))))
    ext.injectFunction(fn("graft_dot_double", 2, args => DotProductDouble(args(0), args(1))))
    ext.injectFunction(fn("graft_cosine", 2, args => CosineSimilarity(args(0), args(1))))
    ext.injectFunction(fn("graft_simhash60", 1, args => SimHash60(args(0))))
    ext.injectFunction(fn("graft_shingles", 2, args => {
      val n = args(1) match {
        case Literal(v: Int, IntegerType) => v
        case _ => throw new IllegalArgumentException(
          "graft_shingles: n must be an integer literal")
      }
      ShinglesExpr(args(0), n)
    }))
    ext.injectFunction(fn("graft_grams", 2, args => {
      val n = args(1) match {
        case Literal(v: Int, IntegerType) => v
        case _ => throw new IllegalArgumentException(
          "graft_grams: n must be an integer literal")
      }
      GramsAllExpr(args(0), n)
    }))
    ext.injectFunction(fn("graft_minhash_sig", 2, args => {
      val k = args(1) match {
        case Literal(v: Int, IntegerType) => v
        case _ => throw new IllegalArgumentException(
          "graft_minhash_sig: k must be an integer literal")
      }
      MinHashSig(args(0), k)
    }))
    ext.injectFunction(fn("graft_lsh_bucket", 4, args => {
      def intLit(e: Expression, what: String): Int = e match {
        case Literal(v: Int, IntegerType) => v
        case _ => throw new IllegalArgumentException(
          s"graft_lsh_bucket: $what must be an integer literal")
      }
      SignLshBucket(args(0),
        intLit(args(1), "planes"), intLit(args(2), "dim"), intLit(args(3), "firstPlane"))
    }))
  }
}
