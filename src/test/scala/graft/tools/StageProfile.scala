package graft.tools

import org.apache.spark.scheduler._
import graft.BenchProtocol

/** Per-stage profiler for declared gates (guide §1: measure first, decide
  * from stage-level evidence, not wall-clock guesses).
  *
  * `Test/runMain graft.tools.StageProfile gate [gate ...]` times each gate once
  * through the bench session (BenchProtocol — the artifact's own plans) and
  * prints, per stage: wall span, cumulative task time, shuffle read/write
  * bytes, input bytes, task count, and the first line of the stage name, so
  * the expensive exchange/aggregate of a multi-job gate is named directly.
  * Stages from all jobs of the gate's action(s) are attributed to the gate
  * via a per-gate listener window.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (cpus, cpusN) = BenchProtocol.cpusEnv()
    val spark = BenchProtocol.session(cpus, cpusN)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/lineitem.parquet").limit(1).collect()

    final case class St(name: String, wallMs: Long, taskMs: Long,
      shRead: Long, shWrite: Long, input: Long, tasks: Int)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages.put(si.stageId, St(si.name, wall, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, si.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fns = graft.SparkEntry.queries
    for (q <- args) {
      stages.clear()
      val t0 = System.nanoTime()
      val n = fns(q)(spark, d).count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener bus is async; give the tail events a beat to land
      Thread.sleep(300)
      println(f"\n===== $q  total=$sec%.2f s  rows=$n =====")
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(-_._2.wallMs)
      val totTask = rows.map(_._2.taskMs).sum
      println(f"stages=${rows.size} cumTaskTime=${totTask / 1000.0}%.1f s")
      for ((id, s) <- rows.take(18))
        println(f"  stage $id%4d wall=${s.wallMs / 1000.0}%6.2f s " +
          f"task=${s.taskMs / 1000.0}%7.2f s tasks=${s.tasks}%3d " +
          f"shR=${s.shRead / 1e6}%8.1f MB shW=${s.shWrite / 1e6}%8.1f MB " +
          f"in=${s.input / 1e6}%8.1f MB  ${s.name.takeWhile(_ != '\n').take(70)}")
    }
    spark.stop()
  }
}
