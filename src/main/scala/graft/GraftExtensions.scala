package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CosineSimilarity, HyperplaneBucket, LongVecDot, LongVecL2}

/** Session-extension entry point: registers the engine's native
  * expressions into every session built with
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * so `SELECT cosine_sim(a, b)` / `hyperplane_bucket(v, 6)` work in
  * plain SQL on a cluster without any driver-side registration call.
  * (The per-session alternative is CosineSimilarity.register(spark).)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // point-lookup partition pruning on MergeTable scans: `key = lit`
    // implies `bucket = md5prefix(lit)` (contract in the footers)
    e.injectOptimizerRule(_ => graft.plans.KeyToBucketPruning)
    // ...and a lookup so pruned to ONE bucket collects on the driver
    // (DriverLookupExec: no job, no per-literal codegen). Injected as
    // a columnar rule's pre-transition pass: the post-planner strategy
    // hook runs only inside adaptive execution, which a plan without
    // an exchange never enters
    e.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = graft.plans.DriverLookup
    })
    // value-predicate FILE pruning on MergeTable scans: manifest #st=
    // per-file min/max stats drop files a pushed range can never match.
    // Pre-CBO runs once, after the fixed-point batches have pushed the
    // filters onto the relation
    e.injectPreCBORule(_ => graft.plans.StatsFilePruning)
    // prepared key lookups: the parser's lookup leaf resolves to an
    // optimized fragment, planned by Spark's FileSourceStrategy
    e.injectResolutionRule(s => graft.plans.ResolveMergeTableLookup(s))
    e.injectPlannerStrategy(_ => graft.plans.MergeTableLookupStrategy)
    // SQL DML: MERGE INTO merge_table.`/dir` routed to the clause
    // engine (the write-side twin of the merge_table read TVF)
    e.injectResolutionRule(_ => graft.plans.MergeIntoMergeTable)
    // SQL maintenance: OPTIMIZE ... SORT BY/ZORDER BY [STRIPE n] and
    // VACUUM ... [RETAIN n VERSIONS] — a delegating parser that
    // recognizes exactly these two statement shapes (Delta's
    // operational idiom) and hands everything else through untouched
    e.injectParser((_, parser) => new graft.plans.GraftSqlParser(parser))
    // SQL surface for the snapshot table: SELECT ... FROM
    // merge_table('/dir'[, version]) — time travel + pruning compose
    e.injectTableFunction((
      new FunctionIdentifier("merge_table"),
      new ExpressionInfo(graft.ext.MergeTable.getClass.getName,
        "merge_table"),
      graft.ext.MergeTable.tableFunctionBuilder))
    // TIMESTAMP time travel (in-commit timestamps, strictly monotone)
    e.injectTableFunction((
      new FunctionIdentifier("merge_table_as_of"),
      new ExpressionInfo(graft.ext.MergeTable.getClass.getName,
        "merge_table_as_of"),
      graft.ext.MergeTable.asOfFunctionBuilder))
    // CDC batch between committed versions — the fingerprint
    // short-circuit and changed-bucket file pruning ride into SQL
    e.injectTableFunction((
      new FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.ext.MergeTable.getClass.getName,
        "table_changes"),
      graft.ext.MergeTable.changesFunctionBuilder))
    // manifest-only version ledger (v, files, buckets, rows)
    e.injectTableFunction((
      new FunctionIdentifier("merge_table_history"),
      new ExpressionInfo(graft.ext.MergeTable.getClass.getName,
        "merge_table_history"),
      graft.ext.MergeTable.historyFunctionBuilder))
    // one-row DESCRIBE DETAIL idiom (metadata only, zero data reads)
    e.injectTableFunction((
      new FunctionIdentifier("merge_table_detail"),
      new ExpressionInfo(graft.ext.MergeTable.getClass.getName,
        "merge_table_detail"),
      graft.ext.MergeTable.detailFunctionBuilder))
    // maintained IVM views served in plain SQL (definition inferred
    // from the partials' schema; avg derived from the exact partials)
    e.injectTableFunction((
      new FunctionIdentifier("ivm_view"),
      new ExpressionInfo(graft.ext.Ivm.getClass.getName, "ivm_view"),
      graft.ext.Ivm.viewFunctionBuilder))
    // mergeable rollup summaries (HLL distinct / histogram / exact
    // additive partials) served in plain SQL, kind inferred from the
    // summary's schema; 3-arg form = range-distinct sketch union
    e.injectTableFunction((
      new FunctionIdentifier("rollup_view"),
      new ExpressionInfo(graft.ext.Rollup.getClass.getName,
        "rollup_view"),
      graft.ext.Rollup.rollupViewBuilder))
    e.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("long_vec_dot"),
      new ExpressionInfo(classOf[LongVecDot].getName, "long_vec_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        LongVecDot(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("long_vec_l2"),
      new ExpressionInfo(classOf[LongVecL2].getName, "long_vec_l2"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        LongVecL2(exprs.head, exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "hyperplane_bucket"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HyperplaneBucket(exprs.head, GraftExtensions.intLiteral(exprs(1)))))
  }
}

object GraftExtensions {
  /** The planes argument must be a foldable int literal — evaluated at
    * registration, so a bad call fails at analysis, not mid-job. */
  private[graft] def intLiteral(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    require(e.foldable, "hyperplane_bucket(v, planes): planes must be a literal")
    e.eval() match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"hyperplane_bucket(v, planes): planes must be an int literal, got $other")
    }
  }
}
