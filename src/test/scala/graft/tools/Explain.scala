package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints `explain("formatted")` for selected queries so scan
  * pushdown (`PushedFilters`/`ReadSchema`), broadcast joins, and
  * whole-stage-codegen spans can be eyeballed.
  *
  * `sbt "Test/runMain graft.tools.Explain q1_agg q3_dim_join"` (no args = all).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted =
      if (args.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    for (name <- wanted; fn <- graft.SparkEntry.queries.get(name)) {
      println(s"\n========== $name ==========")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
