package graft.tools
import graft.BenchProtocol
/** Ad-hoc per-query wall-time probe:
  * `Test/runMain graft.tools.TimeQueries q1_agg ...`.
  * Session, calib micro-run, and loadavg come from [[graft.BenchProtocol]]
  * — the SAME code path Bench's artifact uses — so the timed plans are the
  * ones the artifact measures and probe numbers can be calib-normalized
  * against any round's artifact. Repeat a name for min-of-N.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (cpus, cpusN) = BenchProtocol.cpusEnv()
    val spark = BenchProtocol.session(cpus, cpusN)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/lineitem.parquet").limit(1).collect()
    println(f"CALIB ${BenchProtocol.calibMin3(spark)}%.3f s (min-of-3)")
    def time(name: String)(f: => Long): Unit = {
      val load = BenchProtocol.loadavg()
      val t0 = System.nanoTime(); val n = f
      println(f"TIME $name%-18s ${(System.nanoTime()-t0)/1e9}%7.2f s  rows=$n  load=$load%.2f")
    }
    val fns = graft.SparkEntry.queries
    for (q <- args) { time(q) { fns(q)(spark, d).count() }; spark.catalog.clearCache() }
    spark.stop()
  }
}
