package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.ann.{CosineSim, LshBuckets, VecDot, VecMaxAbs, VecQuantizeInt8, VecQuantizeMae}
import graft.dedup.{MinHashSig, SimHash64}
import graft.functions.{CharShingleHashes, Fnv1a64, ShingleHashes}

/** Session extensions registering graft's custom Catalyst expressions for
  * SQL use, the post-hoc rule that lowers SQL UPDATE / MERGE INTO /
  * row-level DELETE over graft tables onto the collection engine, and
  * the columnar rule [[graft.plans.BoundLiterals]], which binds the
  * constants of a graft read's residual filter as code parameters so a
  * read that differs from the last one only in its constants reuses the
  * compiled class. Graft tables need no optimizer rule: their scans
  * report statistics natively. Both rules need `spark.sql.extensions`
  * (or `withExtensions`) at session build: [[GraftExtensions.register]]
  * adds only the expressions, because a running session takes no new
  * analyzer or physical rules.
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   // or: --conf spark.sql.extensions=graft.GraftExtensions
  *   spark.sql("SELECT fnv1a64(text) FROM docs")
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) FROM ...")
  *   spark.sql("SELECT minhash_sig(shingles, 64) FROM ...")
  *   spark.sql("SELECT lsh_buckets(embedding, 8, 12, 64) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.All.foreach { case (name, builder) =>
      e.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // SQL UPDATE / MERGE INTO / row-level DELETE over graft tables:
    // Spark rewrites these only for SupportsRowLevelOperations tables,
    // so the post-hoc rule lowers them onto the collection engine
    // (analysis-time injection only — like Delta, DML requires
    // spark.sql.extensions at session build)
    e.injectPostHocResolutionRule(session => graft.sources.GraftDmlRule(session))
    // residual-filter constants as code parameters, on the adaptive and
    // the non-adaptive path alike
    e.injectColumnar(_ => graft.plans.BoundLiterals.Columnar)
  }
}

/** Runtime registration of the expressions for sessions that already
  * exist (extensions only apply at builder time; the DML rule and the
  * bound-literal rule need `spark.sql.extensions` at session build). */
object GraftExtensions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  /** name -> expression builder for every native graft expression. */
  val All: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "fnv1a64" -> ((exprs: Seq[Expression]) => Fnv1a64(exprs.head)),
    "simhash64" -> ((exprs: Seq[Expression]) => SimHash64(exprs.head)),
    "minhash_sig" -> ((exprs: Seq[Expression]) =>
      MinHashSig(exprs.head, intArg(exprs(1), "minhash_sig"))),
    "vec_dot" -> ((exprs: Seq[Expression]) => VecDot(exprs.head, exprs(1))),
    "shingle_hashes" -> ((exprs: Seq[Expression]) =>
      ShingleHashes(exprs.head, intArg(exprs(1), "shingle_hashes"))),
    "char_shingle_hashes" -> ((exprs: Seq[Expression]) =>
      CharShingleHashes(exprs.head, intArg(exprs(1), "char_shingle_hashes"))),
    "cosine_sim" -> ((exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))),
    "vec_max_abs" -> ((exprs: Seq[Expression]) => VecMaxAbs(exprs.head)),
    "repetition_stats" -> ((exprs: Seq[Expression]) =>
      graft.functions.RepetitionStats(exprs.head)),
    "vec_quantize_int8" -> ((exprs: Seq[Expression]) => VecQuantizeInt8(exprs.head, exprs(1))),
    "vec_quantize_mae" -> ((exprs: Seq[Expression]) =>
      VecQuantizeMae(exprs.head, exprs(1), exprs(2))),
    "lsh_buckets" -> ((exprs: Seq[Expression]) => LshBuckets(
      exprs.head,
      intArg(exprs(1), "lsh_buckets"), intArg(exprs(2), "lsh_buckets"),
      intArg(exprs(3), "lsh_buckets"),
      if (exprs.length > 4) intArg(exprs(4), "lsh_buckets") else 0)),
    "scaled_long" -> ((exprs: Seq[Expression]) =>
      graft.functions.DoubleToScaledLong(exprs.head, intArg(exprs(1), "scaled_long"))),
  )

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    All.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, builder)
    }
  }
}
