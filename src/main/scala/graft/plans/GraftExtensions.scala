package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArraySort, Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, HeavyHittersAgg, KmvAgg, SortedIntersectSize, TopKAgg, VectorSumAgg}

/** Session extensions: the library's custom Catalyst expressions as SQL
  * functions, so `spark.sql` users get them too, and the [[MvRewrite]]
  * optimizer rule. No other optimizer rule is injected. The functions:
  *
  *   graft_cosine(a, b)            — fused cosine over array<float>
  *   graft_topk(score, id, k)      — bounded-heap top-k aggregate
  *   graft_vector_sum(v)           — elementwise array<double> sum aggregate
  *   graft_heavy_hitters(term, m)  — Misra-Gries heavy-hitters aggregate
  *   graft_sorted_intersect(a, b)  — sorted-merge intersection size (exact)
  *   graft_kmv(hash, k)            — KMV bottom-k distinct sketch aggregate
  *   graft_qsketch(hash, v, k)     — bottom-k quantile sketch aggregate
  *   graft_qsketch_merge(qsk, k)   — merge stored quantile sketches
  *
  * Install both at session build (`.withExtensions(new GraftExtensions)`),
  * or register the functions alone on a live session
  * (`GraftExtensions.register(spark)`; [[MvRewrite.serving]] adds the rule
  * for the scope of one served query).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => MvRewrite())
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  private val definitions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine",
      info("graft_cosine", "graft_cosine(a, b) - fused cosine similarity over float arrays"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))),
    ("graft_topk",
      info("graft_topk", "graft_topk(score, id, k) - top-k (score desc, id asc) pairs"),
      (args: Seq[Expression]) => TopKAgg(
        args(2).eval().asInstanceOf[Number].intValue(), args(0), args(1))
          .toAggregateExpression()),
    ("graft_vector_sum",
      info("graft_vector_sum",
        "graft_vector_sum(v) - elementwise sum of array<double> per group"),
      (args: Seq[Expression]) => VectorSumAgg(args(0)).toAggregateExpression()),
    ("graft_heavy_hitters",
      info("graft_heavy_hitters",
        "graft_heavy_hitters(term, m) - Misra-Gries summary at capacity m"),
      (args: Seq[Expression]) => HeavyHittersAgg(
        args(1).eval().asInstanceOf[Number].intValue(), args(0))
          .toAggregateExpression()),
    ("graft_sorted_intersect",
      info("graft_sorted_intersect",
        "graft_sorted_intersect(a, b) - intersection size of two array<bigint> " +
          "(inputs are array_sort'ed; pre-sorted callers should use the " +
          "SortedIntersectSize expression directly to skip the sort)"),
      // SortedIntersectSize's contract is sorted input — unsorted silently
      // yields garbage. SQL is a public surface, so sort defensively here;
      // the library's own hot paths build the expression directly over
      // already-sorted arrays and never pay this.
      (args: Seq[Expression]) => SortedIntersectSize(
        new ArraySort(args(0)), new ArraySort(args(1)), 0.0)),
    ("graft_kmv",
      info("graft_kmv",
        "graft_kmv(hash, k) - KMV distinct sketch: the k smallest distinct " +
          "BIGINT hashes per group, sorted ascending (functions.Kmv has the " +
          "store/merge/estimate companions)"),
      (args: Seq[Expression]) => KmvAgg(
        args(1).eval().asInstanceOf[Number].intValue(), args(0))
          .toAggregateExpression()),
    ("graft_qsketch",
      info("graft_qsketch",
        "graft_qsketch(hash, value, k) - bottom-k quantile sketch: the k " +
          "(hash, value) pairs with smallest BIGINT hashes per group " +
          "(hash ties keep min value; functions.QuantileSketch has the " +
          "store/merge/estimate companions)"),
      (args: Seq[Expression]) => graft.functions.QSketchAgg(
        args(2).eval().asInstanceOf[Number].intValue(), args(0), args(1))
          .toAggregateExpression()),
    ("graft_qsketch_merge",
      info("graft_qsketch_merge",
        "graft_qsketch_merge(qsk, k) - merge stored bottom-k quantile " +
          "sketches (array<struct<h,v>>) into the union's bottom-k"),
      (args: Seq[Expression]) => graft.functions.QSketchMergeAgg(
        args(1).eval().asInstanceOf[Number].intValue(), args(0))
          .toAggregateExpression()))

  /** Runtime registration on an existing session. */
  def register(spark: SparkSession): Unit =
    definitions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
