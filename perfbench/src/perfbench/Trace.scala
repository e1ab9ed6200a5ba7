package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark task metrics summed over the jobs of one phase. */
final class PhaseStats {
  var jobs, stages, tasks, shuffleRecords = 0L
  var shuffleBytes, spillBytes = 0L
  var cpuS, gcS, fetchWaitS, schedDelayS, serS = 0.0
  /** Per stage, the sum of its tasks' peak execution memory. */
  val stageExecMem = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  /** Spark's account of the memory the phase needed at once: the largest
    * per-stage sum of task peak execution memory (sort and aggregation
    * buffers of the stage's concurrently running tasks).
    */
  def execMemPeakBytes: Long = if (stageExecMem.isEmpty) 0L else stageExecMem.values.max
}

/** Attributes every job to the phase named by the submitting thread's
  * `perfbench.phase` local property, and sums its stages' and tasks'
  * metrics per phase. Jobs without the property are ignored.
  */
final class PhaseListener extends SparkListener {
  private val stagePhase = mutable.Map.empty[Int, String]
  private val stats = mutable.Map.empty[String, PhaseStats]

  private def of(phase: String) = stats.getOrElseUpdate(phase, new PhaseStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(PhaseListener.Key))).foreach { ph =>
      of(ph).jobs += 1
      e.stageIds.foreach(stagePhase(_) = ph)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagePhase.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (ph <- stagePhase.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = of(ph)
      val info = e.taskInfo
      s.tasks += 1
      s.cpuS += m.executorCpuTime / 1e9
      s.gcS += m.jvmGCTime / 1e3
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      s.spillBytes += m.diskBytesSpilled
      s.stageExecMem(e.stageId) += m.peakExecutionMemory
      s.serS += (m.executorDeserializeTime + m.resultSerializationTime) / 1e3
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      s.schedDelayS += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult) / 1e3
    }
  }

  /** Remove and return a phase's totals, after all its events arrived. */
  def take(sc: SparkContext, phase: String): PhaseStats = {
    org.apache.spark.perfbench.Drain(sc)
    synchronized(stats.remove(phase).getOrElse(new PhaseStats))
  }
}

object PhaseListener {
  val Key = "perfbench.phase"
}

/** A timed interval. Spans of one call share `call`; `parent` is the id of
  * the enclosing span, -1 for a call's root.
  */
final case class Span(call: Long, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory and tags the jobs run inside each span with the
  * span's name, so [[PhaseListener]] attributes their task metrics to it.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextCall = 0L
  private var nextId = 0

  def call[T](name: String)(f: => T): T = { nextCall += 1; span(name)(f) }

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prev = sc.getLocalProperty(PhaseListener.Key)
    stack.push(id)
    sc.setLocalProperty(PhaseListener.Key, name)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(nextCall, id, parent, name, t0, System.nanoTime())
      sc.setLocalProperty(PhaseListener.Key, prev)
      stack.pop()
    }
  }

  /** Write every span as one JSON line per span. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"call":${s.call},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
