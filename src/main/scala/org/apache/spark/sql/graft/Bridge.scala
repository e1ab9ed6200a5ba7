package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column <-> Expression conversions
  * (Spark 4 wraps Columns around ColumnNodes, not Expressions) — the
  * supported extension-point technique for libraries shipping native
  * Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on a LIVE session (the
    * `SparkSessionExtensions` route only applies at session construction).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** DataFrame over a hand-built (already-resolved) logical plan — the
    * entry point for custom operators like [[graft.plans.AsOfJoinPlan]].
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Live-session hook for extra planner strategies. */
  def experimental(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.ExperimentalMethods =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental

  /** Whether a construction-time-injected optimizer rule is already active
    * (injectOptimizerRule lands in extendedOperatorOptimizationRules) — the
    * live-session installer must not add a second copy via
    * experimental.extraOptimizations.
    */
  def hasOptimizerRule(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Boolean =
    spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(rule)

  /** Root paths of every file-source leaf under `plan` (`private[sql]`
    * LogicalRelation/HadoopFsRelation access) — lets an optimizer rule
    * scope a rewrite to the physical store a declaration describes.
    */
  def fileScanRootPaths(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] =
    fileScanLeafInfo(plan).flatMap(_._1)

  /** (root paths, leaf output attributes) of every file-source leaf under
    * `plan`. The attributes carry the leaf's own exprIds, so a rule can
    * verify a name it resolved higher in the tree is the SAME attribute
    * the store produced (not a derived column that merely reuses the
    * name — exprId pass-through is the proof of provenance Catalyst
    * itself uses).
    */
  def fileScanLeafInfo(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[(Seq[String],
             Seq[org.apache.spark.sql.catalyst.expressions.Attribute])] =
    plan.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Some((fs.location.rootPaths.map(_.toString).toSeq, l.output))
          case _ => None
        }
      // the v2 read path (useV1SourceList excluding the format)
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        v2.table match {
          case ft: org.apache.spark.sql.execution.datasources.v2.FileTable =>
            Some((ft.fileIndex.rootPaths.map(_.toString).toSeq, v2.output))
          // the engine's own tile store is a file-store leaf too: its
          // root path makes a scan over it visibly FOREIGN to any
          // path-scoped parquet layout (a rule must decline a multi-store
          // read, not prune rows the zarr side never indexed). No layout
          // ever registers FOR a zarr root — box filters on its grid
          // columns push down natively and exactly
          // (ZarrScanBuilder.pushFilters), which is strictly stronger
          // than a cover superset.
          case zt: graft.sources.zarr.ZarrTable =>
            Some((Seq(zt.dir), v2.output))
          case _ => None
        }
      case _ => None
    }

  /** Whether every partition of `rdd` recomputes in the same order:
    * Spark's own `DeterministicLevel` of its lineage is `DETERMINATE`. A
    * shuffle without a key ordering upstream makes the order depend on
    * which map outputs arrive first.
    */
  def recomputesInOrder(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    rdd.outputDeterministicLevel == org.apache.spark.rdd.DeterministicLevel.DETERMINATE
}
