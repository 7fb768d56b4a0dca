package graft

import org.apache.spark.sql.SparkSession
import graft.functions.{CosineDistance, PackSignBitsExpr, PolyHashExpr, ShingleHashesExpr}
import graft.operators.ChunkGenerator

/** SQL-surface registration: exposes the engine's codegen kernels to
  * `spark.sql(...)` users.
  *
  * {{{
  * graft.GraftFunctions.register(spark)
  * spark.sql("SELECT graft_cosine_distance(a.embedding, b.embedding) ...")
  * }}}
  *
  * Also usable cluster-wide via `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftFunctions {

  /** The one function table: `register` and [[GraftExtensions]] both
    * install every entry, each builder checking its own arity.
    */
  private[graft] val fns: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "graft_cosine_distance" -> (es => { arity(es, 2, 2, "graft_cosine_distance")
      CosineDistance(es(0), es(1)) }),
    "graft_cosine_similarity" -> (es => { arity(es, 2, 2, "graft_cosine_similarity")
      CosineDistance(es(0), es(1), asDistance = false) }),
    "graft_polyhash" -> (es => { arity(es, 1, 1, "graft_polyhash")
      PolyHashExpr(es(0)) }),
    "graft_shingle_hashes" -> (es => { arity(es, 1, 1, "graft_shingle_hashes")
      ShingleHashesExpr(es(0), 3) }),
    // bits from an optional constant 2nd arg (default 32); a non-foldable
    // or NULL second argument is a clear plan-time error, not an NPE
    "graft_pack_sign_bits" -> (es => { arity(es, 1, 2, "graft_pack_sign_bits")
      PackSignBitsExpr(es(0), {
        if (es.length <= 1) 32
        else foldableInt(es(1), "graft_pack_sign_bits", "bits")
      }) }),
    // generator (table) function: LATERAL VIEW graft_chunk(text, len)
    "graft_chunk" -> (es => { arity(es, 2, 2, "graft_chunk")
      ChunkGenerator(es(0), foldableInt(es(1), "graft_chunk", "length")) }),
    "graft_quantized_l2" -> (es => { arity(es, 2, 3, "graft_quantized_l2")
      graft.functions.QuantizedL2Expr(es(0), es(1), {
        if (es.length <= 2) 45
        else foldableInt(es(2), "graft_quantized_l2", "scaleBits")
      }) }),
    "graft_random_proj" -> (es => { arity(es, 1, 2, "graft_random_proj")
      graft.functions.RandomProjExpr(es(0), {
        if (es.length <= 1) 16
        else foldableInt(es(1), "graft_random_proj", "outDims")
      }) }),
    // winnowing fingerprints of a token array: (toks[, n[, w]]). n and w
    // must be >= 1 — a non-positive window would make every window
    // minimum stay Long.MaxValue and emit a bogus sentinel fingerprint,
    // so reject it at analysis time like a wrong arity
    "graft_winnow" -> (es => { arity(es, 1, 3, "graft_winnow")
      graft.functions.WinnowFingerprintsExpr(es(0),
        if (es.length <= 1) 3 else foldablePositiveInt(es(1), "graft_winnow", "n"),
        if (es.length <= 2) 4 else foldablePositiveInt(es(2), "graft_winnow", "w")) }),
    // |a ∩ b| of two SORTED long arrays (the pair-verify kernel)
    "graft_sorted_intersect" -> (es => { arity(es, 2, 2, "graft_sorted_intersect")
      graft.functions.SortedIntersectCountExpr(es(0), es(1)) }),
    // one greedy left-to-right BPE merge (l, r) over a token array
    "graft_bpe_merge" -> (es => { arity(es, 3, 3, "graft_bpe_merge")
      graft.functions.BpeMergeExpr(es(0),
        foldableString(es(1), "graft_bpe_merge", "l"),
        foldableString(es(2), "graft_bpe_merge", "r")) }),
    // ±w windowed co-occurrence pairs of a pos-sorted struct<pos,tok> array
    "graft_windowed_pairs" -> (es => { arity(es, 1, 2, "graft_windowed_pairs")
      graft.functions.WindowedPairsExpr(es(0),
        if (es.length <= 1) 5
        else foldablePositiveInt(es(1), "graft_windowed_pairs", "w")) }))

  /** Wrong-argument-count is an AnalysisException, not a raw
    * IndexOutOfBounds from `es(i)` inside the builder.
    */
  private def arity(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      min: Int, max: Int, fn: String): Unit =
    if (es.length < min || es.length > max)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          (s"$fn: wrong number of arguments (${es.length}; expected " +
            (if (min == max) s"$min)" else s"$min to $max)"))))

  private def foldableInt(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, arg: String): Int =
    if (!e.foldable || e.eval() == null)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"$fn: the $arg argument must be a non-null integer literal"))
    else e.eval().asInstanceOf[Number].intValue()

  /** Plan-time string literal, with the same error discipline as
    * [[foldableInt]].
    */
  private def foldableString(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, arg: String): String =
    if (!e.foldable || e.eval() == null)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"$fn: the $arg argument must be a non-null string literal"))
    else e.eval().toString

  /** [[foldableInt]] that additionally rejects values < 1 — for window /
    * shingle widths where a non-positive size is semantically void and
    * would otherwise produce sentinel garbage instead of an error.
    */
  private def foldablePositiveInt(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, arg: String): Int = {
    val v = foldableInt(e, fn, arg)
    if (v < 1)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR",
        messageParameters = Map("message" ->
          s"$fn: the $arg argument must be >= 1 (got $v)"))
    v
  }

  def register(spark: SparkSession): Unit =
    fns.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** Session-extensions entry point (`spark.sql.extensions=graft.GraftExtensions`):
  * injects the whole [[GraftFunctions]] table at session build time, the
  * deployment-wide path that needs no per-session register() call.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftFunctions.fns.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // optimizer rule: put the foldable cosine argument on the hoisted
    // side regardless of how the user wrote the call
    ext.injectOptimizerRule(_ => graft.plans.CosineArgSwapRule)
  }
}
