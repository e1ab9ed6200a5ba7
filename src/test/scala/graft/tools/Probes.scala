package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

object Probes {

  /** The synthetic-scale probes' session: `local[$SPARK_GRAFT_CPUS]`
    * (default 32) with as many shuffle partitions, AQE on, UI off.
    */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

/** Sums `metric` over every task that ends while this listener is attached
  * (it attaches itself to `sc`). Both `reset` and `get` first drain the
  * listener bus, so no event of an earlier action lands after a reset and
  * none of the measured action's is still queued at a read.
  */
final class TaskMetricSum(sc: SparkContext, metric: TaskMetrics => Long)
    extends SparkListener {
  private val sum = new AtomicLong(0)
  sc.addSparkListener(this)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) sum.addAndGet(metric(t.taskMetrics))

  def reset(): Unit = { org.apache.spark.ListenerDrain.drain(sc); sum.set(0) }

  def get(): Long = { org.apache.spark.ListenerDrain.drain(sc); sum.get }
}
