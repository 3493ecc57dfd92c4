package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, DotProduct, MinKDistinctLongs, MinKStrings, TopKByScore}

/** SparkSessionExtensions entry point: installs the engine's custom
  * Catalyst expressions as SQL functions at session build time —
  * the idiomatic deployment path for a cluster
  * (`spark.sql.extensions=graft.GraftExtensions`). It is the only
  * place the SQL functions are registered; GraftSession.build
  * installs it.
  *
  * Usage:
  *   SparkSession.builder().withExtensions(new GraftExtensions) …
  * or
  *   --conf spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: the native as-of join's planner
    // strategy (logical AsOfJoin → merge-scan AsOfJoinExec) and its
    // column-pruning optimizer rule (Catalyst's ColumnPruning doesn't
    // know the custom node)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsOfJoinColumns)
    ext.injectOptimizerRule(_ => graft.plans.PushLeftFilterThroughAsOfJoin)
    // /*+ RANGE_BIN(w[, maxBins]) */ — rewrite inner band joins
    // (point-in-interval / interval-overlap predicates) into the
    // binned equi-join form. Injected into the MAIN resolution batch,
    // not injectHintResolutionRule: the "Hints" batch runs before any
    // attribute resolution, so a rule there never sees the resolved
    // child it needs to classify the band predicate's sides — inside
    // the resolution fixed point the child resolves first while the
    // unrecognized hint node is still present (RemoveAllHints only
    // runs in a later batch).
    // per-session instance: the rule re-analyzes its rewrite through a
    // DataFrame build, which must run against the session that owns
    // the plan, not whatever session happens to be thread-active
    ext.injectResolutionRule(session => new graft.plans.BinRangeJoinHint(session))
    // SQL surface for the native as-of join:
    //   SELECT * FROM asof_join('left', 'right', 'key[:rkey]',
    //                           'left_time', 'right_time'[, tolerance])
    // (see AsOfJoinOps.buildFromSql for the argument contract)
    ext.injectTableFunction((
      FunctionIdentifier("asof_join"),
      new ExpressionInfo(graft.plans.AsOfJoinOps.getClass.getName, "asof_join"),
      (exprs: Seq[Expression]) => graft.plans.AsOfJoinOps.buildFromSql(exprs)))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    // topk_by_score(score, id, k) — k must fold to an int at plan time
    ext.injectFunction((
      FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 3) throw new IllegalArgumentException(
          s"topk_by_score expects 3 arguments (score, id, k), got ${exprs.length}")
        TopKByScore(exprs(0), exprs(1), foldableK("topk_by_score", exprs(2)))
      }))
    // min_k_strings(s, k) — the bounded companion to
    // sort_array(collect_list(s)); k must fold to an int at plan time
    ext.injectFunction((
      FunctionIdentifier("min_k_strings"),
      new ExpressionInfo(classOf[MinKStrings].getName, "min_k_strings"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          s"min_k_strings expects 2 arguments (value, k), got ${exprs.length}")
        MinKStrings(exprs(0), foldableK("min_k_strings", exprs(1)))
      }))
    // min_k_distinct_longs(hash, k) — the KMV/theta sketch aggregate
    // from SQL: min_k_distinct_longs(xxhash64(id), 4096) builds the
    // sketch, and the estimates are plain SQL over the array (see
    // StatOps.thetaSetOps / BoundedAgg.kmvEstimate)
    ext.injectFunction((
      FunctionIdentifier("min_k_distinct_longs"),
      new ExpressionInfo(classOf[MinKDistinctLongs].getName, "min_k_distinct_longs"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          s"min_k_distinct_longs expects 2 arguments (value, k), got ${exprs.length}")
        MinKDistinctLongs(exprs(0), foldableK("min_k_distinct_longs", exprs(1)))
      }))
  }

  /** Shared k-argument contract for the bounded aggregates/functions:
    * a plan-time-foldable INT (the buffer bound must be known before
    * execution).
    */
  private def foldableK(fn: String, e: Expression): Int = e match {
    case f if f.foldable => f.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$fn: k must be an INT, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn: k must be a foldable int expression, got $other")
  }
}
