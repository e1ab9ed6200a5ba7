package graft.tools

import org.apache.spark.sql.SparkSession

/** Repo-wide physical-plan sweep: build every batch gate's plan at
  * sf0.001 and assert the NEGATIVE space the per-gate guards can't cover
  * exhaustively —
  *
  *  1. **No CartesianProduct anywhere.** The one shape with no defensible
  *     use in this engine; a single occurrence fails the audit.
  *  2. **BroadcastNestedLoopJoin only where it already is.** Every current
  *     BNLJ site was individually adjudicated (broadcast of a scalar
  *     1-row aggregate, a codebook, or a deliberately bounded stratum —
  *     see each gate's docstring); the audit pins that set as a SNAPSHOT,
  *     so a future edit that silently degrades an equi-join to a
  *     nested-loop shows up as drift, while removing one just shrinks the
  *     list (reported, not failed).
  *
  * Streaming (`st_*`) gates are excluded: building their result executes
  * the full micro-batch run (their plan properties are pinned by the
  * streaming specs instead).
  *
  * `sbt "Test/runMain graft.tools.PlanAudit"` — prints violations/drift and a
  * final verdict line; exit 1 on any violation.
  */
object PlanAudit {

  /** Gates whose plans legitimately contain a BroadcastNestedLoopJoin
    * today (sorted). All are broadcasts of scalar folds, codebooks, or
    * bounded strata — never a data-sized relation.
    */
  private val bnljSnapshot = Set(
    "aj_resample", "ann_binary", "ann_binary_recall", "ann_filtered",
    "ann_ivf", "ann_ivfpq", "ann_ivfpq_rerank", "ann_lsh_bucket",
    "ann_mmr", "ann_recall", "ann_recall_probe2", "ann_topk",
    "dd_embed_cos", "dd_embed_lsh_verify", "dd_lsh_recall",
    "dd_lsh_tuning", "dd_semantic", "dd_simhash_pairs", "dq_benford",
    "dq_check", "dq_referential", "dq_skew", "ft_epoch_shuffle",
    "ft_target_encode", // broadcast of the 1-row smoothing-prior fold
    "ft_training_matrix", "gr_clustering", "gr_modularity",
    "km_assign_quality", "km_cluster", "q40_histogram", "rag_rrf",
    "rl_count", "rl_merge", "rl_remove", "rl_sort", "sq_basket_lift",
    "sq_lifecycle", "sq_rfm", "ts_anomaly", "ts_decompose", "tx_bm25",
    "tx_bpe_train", "tx_collocations", "tx_postings", "tx_quality_clf",
    "tx_tfidf", "vec_cos_float", "vec_dot_pairs", "vec_matryoshka")

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.DotProductFusion.ensureInstalled(spark)

    var violations = 0
    var audited = 0
    val bnljSeen = scala.collection.mutable.SortedSet[String]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("st_"))
      .foreach { case (name, fn) =>
        try {
          val p = fn(spark, sf).queryExecution.executedPlan.toString
          audited += 1
          if (p.contains("CartesianProduct")) {
            violations += 1
            println(s"[VIOLATION] $name plans a CartesianProduct")
          }
          if (p.contains("BroadcastNestedLoopJoin")) {
            bnljSeen += name
            if (!bnljSnapshot(name)) {
              violations += 1
              println(s"[VIOLATION] $name grew a BNLJ not in the " +
                "adjudicated snapshot — equi-join degraded?")
            }
          }
        } catch {
          case e: Throwable =>
            violations += 1
            println(s"[VIOLATION] $name failed to plan: ${e.getMessage}")
        } finally spark.catalog.clearCache()
      }
    val gone = bnljSnapshot -- bnljSeen
    if (gone.nonEmpty)
      println(s"[drift] snapshot entries no longer using BNLJ " +
        s"(prune them): ${gone.mkString(", ")}")
    println(s"[plan-audit] gates=$audited violations=$violations " +
      s"bnlj=${bnljSeen.size}/${bnljSnapshot.size}")
    if (violations > 0) sys.exit(1)
  }
}
