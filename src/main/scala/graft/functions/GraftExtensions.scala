package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension exposing the engine's custom Catalyst expressions
  * to SQL users — `spark.sql("SELECT graft_dot(a, b)")` works the same
  * as the typed Column API. Install at build time by setting
  * `spark.sql.extensions=graft.functions.GraftExtensions` on the
  * session builder,
  *
  * or imperatively on an existing session with
  * [[GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
  }
}

object GraftFunctions {

  private def info(name: String, usage: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, null, name, usage, "", "", "", "math_funcs", "4.1.2", "", "built-in")

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      info("graft_dot",
        "_FUNC_(a, b) - codegen'd dot product of two array<double> columns.",
        classOf[DotProduct]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(args(0), args(1))
      }),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64",
        "_FUNC_(hashes) - 64-bit SimHash majority vote over an array<bigint> of token hashes.",
        classOf[SimHash64]),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash64 takes exactly 1 argument")
        SimHash64(args.head)
      }),
    (FunctionIdentifier("graft_minhash_sig"),
      info("graft_minhash_sig",
        "_FUNC_(shingles, k) - k-component engine-portable minhash signature " +
          "(md5-seeded (h1 + i*h2) mod p family) over an array<string>.",
        classOf[PortableMinHashSignature]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash_sig takes exactly 2 arguments")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_minhash_sig: k must be an integer literal, got $other")
        }
        PortableMinHashSignature(args.head, k, graft.ops.Dedup.PortableMinhashMod)
      }),
    (FunctionIdentifier("graft_md5_prefix60"),
      info("graft_md5_prefix60",
        "_FUNC_(tokens) - per-element portable 60-bit md5-prefix hashes of an array<string>.",
        classOf[Md5Prefix60Array]),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_md5_prefix60 takes exactly 1 argument")
        Md5Prefix60Array(args.head)
      }),
    (FunctionIdentifier("graft_rolling_minhash"),
      info("graft_rolling_minhash",
        "_FUNC_(text, window) - minimum rolling byte-hash fingerprint with the given window.",
        classOf[RollingMinHash]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_rolling_minhash takes exactly 2 arguments")
        val w = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_rolling_minhash: window must be an integer literal, got $other")
        }
        RollingMinHash(args.head, w)
      }),
    (FunctionIdentifier("graft_winnow"),
      info("graft_winnow",
        "_FUNC_(text, k, w) - sorted distinct winnowed k-gram fingerprints (the MOSS selection).",
        classOf[WinnowedFingerprints]),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_winnow takes exactly 3 arguments")
        def intLit(e: Expression, name: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_winnow: $name must be an integer literal, got $other")
        }
        WinnowedFingerprints(args.head, intLit(args(1), "k"), intLit(args(2), "w"))
      }))

  /** Register every graft function + the dot-product optimizer rewrite
    * on an already-built session (the path for sessions the caller
    * doesn't construct, e.g. a shared driver-provided session).
    * Idempotent. */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (id, inf, builder) =>
      org.apache.spark.sql.graft.Bridge.registerFunction(spark, id, inf, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.DotProductRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.DotProductRewrite
  }
}
