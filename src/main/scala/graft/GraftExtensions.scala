package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.DoubleType
import graft.functions.{BottomK, CcLocal, DotProduct, GramHash, L2Squared, LineScore, MaxRun, Md5PrefixLong, MinOne, MisraGries, SimhashAgg, SrpBucketPairs, WinnowPos}

/** Session extensions: registers graft's native expressions so they're
  * callable from SQL / `expr(...)` in any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (GraftSession sets this).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Standard SQL analysis error for wrong arity — `graft_simhash(x)` fails
    * like any misused built-in (WRONG_NUM_ARGS, SQLSTATE 42605) instead of a
    * raw IllegalArgumentException.
    */
  private def requireArity(name: String, expected: Int, exprs: Seq[Expression]): Unit =
    if (exprs.length != expected)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> expected.toString,
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_dot", 2, exprs)
        DotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2Squared].getName, "graft_l2sq"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_l2sq", 2, exprs)
        L2Squared(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bottomk"),
      new ExpressionInfo(classOf[BottomK].getName, "graft_bottomk"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_bottomk", 2, exprs)
        if (!exprs(1).foldable)
          throw new AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> "`graft_bottomk`",
              "paramName" -> "`k`",
              "paramType" -> "\"INT\""))
        val k = exprs(1).eval().asInstanceOf[Number].intValue()
        BottomK(exprs.head, k).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_mgtopk"),
      new ExpressionInfo(classOf[MisraGries].getName, "graft_mgtopk"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_mgtopk", 2, exprs)
        if (!exprs(1).foldable)
          throw new AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> "`graft_mgtopk`",
              "paramName" -> "`k`",
              "paramType" -> "\"INT\""))
        val k = exprs(1).eval().asInstanceOf[Number].intValue()
        MisraGries(exprs.head, k).toAggregateExpression()
      }))
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // runtime row-level filters but leaves them out of the public registry;
    // these expose the same map-side-combinable sketch + codegen'd probe to
    // the decontamination scale seam without reimplementing either.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_bloom_agg", 3, exprs)
        new BloomFilterAggregate(exprs.head, exprs(1), exprs(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_might_contain", 2, exprs)
        BloomFilterMightContain(exprs.head, exprs(1))
      }))
    def foldableInt(name: String, param: String, e: Expression): Int = {
      if (!e.foldable)
        throw new AnalysisException(
          errorClass = "NON_FOLDABLE_ARGUMENT",
          messageParameters = Map(
            "funcName" -> s"`$name`",
            "paramName" -> s"`$param`",
            "paramType" -> "\"INT\""))
      e.eval().asInstanceOf[Number].intValue()
    }
    ext.injectFunction((
      new FunctionIdentifier("graft_md5_long"),
      new ExpressionInfo(classOf[Md5PrefixLong].getName, "graft_md5_long"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_md5_long", 3, exprs)
        Md5PrefixLong(exprs.head,
          foldableInt("graft_md5_long", "start", exprs(1)),
          foldableInt("graft_md5_long", "len", exprs(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_gram_hash"),
      new ExpressionInfo(classOf[GramHash].getName, "graft_gram_hash"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_gram_hash", 3, exprs)
        GramHash(exprs.head,
          foldableInt("graft_gram_hash", "k", exprs(1)),
          foldableInt("graft_gram_hash", "len", exprs(2)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_min1"),
      new ExpressionInfo(classOf[MinOne].getName, "graft_min1"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_min1", 1, exprs)
        MinOne(exprs.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_max_run"),
      new ExpressionInfo(classOf[MaxRun].getName, "graft_max_run"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_max_run", 1, exprs)
        MaxRun(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_winnow_pos"),
      new ExpressionInfo(classOf[WinnowPos].getName, "graft_winnow_pos"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_winnow_pos", 2, exprs)
        WinnowPos(exprs.head, foldableInt("graft_winnow_pos", "w", exprs(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cc_local"),
      new ExpressionInfo(classOf[CcLocal].getName, "graft_cc_local"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_cc_local", 1, exprs)
        CcLocal(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_srp_bucket_pairs"),
      new ExpressionInfo(classOf[SrpBucketPairs].getName, "graft_srp_bucket_pairs"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_srp_bucket_pairs", 3, exprs)
        // tau as double, so a SQL decimal literal (0.85) is accepted
        SrpBucketPairs(exprs.head, exprs(1), Cast(exprs(2), DoubleType))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_line_score"),
      new ExpressionInfo(classOf[LineScore].getName, "graft_line_score"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_line_score", 2, exprs)
        LineScore(exprs.head,
          foldableInt("graft_line_score", "minWords", exprs(1)))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashAgg].getName, "graft_simhash"),
      (exprs: Seq[Expression]) => {
        requireArity("graft_simhash", 2, exprs)
        SimhashAgg(exprs.head, exprs(1)).toAggregateExpression()
      }))
  }
}
