package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.{GridSpec, Tile}

/** Throughput smoke for the tile engine: an NxN grid of 128x128 tiles with
  * a dense synthetic blob field through the full image2labels pipeline (two
  * shuffles) on local[32], reporting wall time and actual shuffle bytes
  * written. The 0/1 blob pixels cross the O1 halo at one byte each.
  *
  * `sbt "runMain graft.tools.ScaleSmoke 32"` -> 32x32 grid = 16.8M pixels.
  */
object ScaleSmoke {

  private val shuffleBytes = new AtomicLong(0)

  private final class ShuffleListener extends SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null)
        shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 32
    val cs = 128
    val ov = 16
    val spark = SparkSession.builder()
      .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new ShuffleListener)
    import spark.implicits._

    def blob(gy: Int, gx: Int): Array[Long] = {
      val data = new Array[Long](cs * cs)
      var y = 0
      while (y < cs) {
        val iy = gy * cs + y
        var x = 0
        while (x < cs) {
          val ix = gx * cs + x
          val cy = (iy / 24) * 24 + 12 + ((iy / 24 * 31 + ix / 24 * 17) % 7 - 3)
          val cx = (ix / 24) * 24 + 12 + ((iy / 24 * 13 + ix / 24 * 29) % 7 - 3)
          val dy = iy - cy; val dx = ix - cx
          if (dy * dy + dx * dx <= 25) data(y * cs + x) = 1L
          x += 1
        }
        y += 1
      }
      data
    }

    def longTiles = spark.range(n.toLong * n).map { lin =>
      val (gy, gx) = ((lin / n).toInt, (lin % n).toInt)
      Tile(Array(gy, gx), Array(n, n), Array(cs, cs), blob(gy, gx))
    }

    val spec = GridSpec(Array(n.toLong * cs, n.toLong * cs), Array(cs, cs))
    val totalPx = n.toLong * n * cs * cs
    println(s"grid ${n}x$n of ${cs}x$cs tiles = $totalPx pixels, overlap $ov")

    def run(name: String)(labelCount: => Long): Unit = {
      shuffleBytes.set(0)
      val t0 = System.nanoTime()
      val labels = labelCount
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle briefly
      Thread.sleep(500)
      println(f"$name%-10s wall ${wall}%6.2f s  ${totalPx / wall / 1e6}%6.1f Mpx/s  " +
        f"shuffle ${shuffleBytes.get / 1e6}%8.1f MB  objects ${labels - 1}")
    }

    run("u8-wire") {
      Relabel.image2labels(longTiles, spec, CCLSegmentation(), Array(ov, ov), 0.05)
        .flatMap(_.data.distinct.iterator).distinct().count()
    }
    // overlap-sufficiency diagnostic marginal cost: time the segmented
    // stage alone, then segmented + diagnostic — the delta is what the
    // margin-face scan adds when riding the pipeline (the blobs are
    // radius-5 < overlap-16 and disjoint, so the violation count must be
    // ZERO; a nonzero count here would mean the parity rule is silently
    // splitting objects in this probe's own field)
    def segmented = Relabel.segmentOverlappedInput(
      Relabel.prepareInput(longTiles, spec, Array(ov, ov)), CCLSegmentation())
    run("seg-only") { segmented.count(); 1L }
    run("seg+diag") {
      val v = Relabel.overlapSufficiency(segmented, Array(ov, ov)).count()
      require(v == 0, s"diagnostic flagged $v margin-spanning labels")
      1L
    }
    spark.stop()
  }
}
