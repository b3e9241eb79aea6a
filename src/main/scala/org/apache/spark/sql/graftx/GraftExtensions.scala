package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's native expressions with the
  * SQL function registry, so `spark.sql("... cosine_sim(a, b) ...")` works
  * exactly like a built-in (installed via
  * `spark.sql.extensions=org.apache.spark.sql.graftx.GraftExtensions` —
  * see graft.Tables.mkSession).
  *
  * Custom-operator surface (SURVEY.md §5 preference order): (b) one codegen
  * expression for the scalar hot path, and (c) one whole-operator plan —
  * [[TopKPerKey]] via [[TopKStrategy]] — where composition genuinely loses
  * at scale (row_number+filter shuffles every row; the custom plan ships
  * ≤ k rows per key per partition). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarityExpr].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarityExpr(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("int_dot"),
      new ExpressionInfo(classOf[IntDotProductExpr].getName, "int_dot"),
      (exprs: Seq[Expression]) => IntDotProductExpr(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain_str"),
      new ExpressionInfo(classOf[BloomMightContainStr].getName, "bloom_might_contain_str"),
      (exprs: Seq[Expression]) => BloomMightContainStr(exprs.head, exprs(1))))
    ext.injectPlannerStrategy(_ => TopKStrategy)
    // optimizer rewrite: row_number() <= k filter pattern → TopKPerKey, so
    // the idiomatic window form still gets the map-side-heap physical plan
    ext.injectOptimizerRule(_ => RewriteRankFilterToTopK)
    // AQE re-planning: a global sort over a measured-small input skips the
    // range partitioner's sampling job
    ext.injectQueryStagePrepRule(SmallSortSinglePartition)
  }
}
