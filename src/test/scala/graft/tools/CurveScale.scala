package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Layout-pruning probe: how many BYTES does a 2-D box query actually read
  * under three physical layouts of the same table — unsorted, Morton-sorted,
  * Hilbert-sorted — each range-partitioned into the same file count so
  * per-file min/max statistics (and parquet row-group stats inside them) are
  * the only difference. The query pushes the curve-interval cover
  * (ZInterval/HInterval) plus the exact box residual; input bytes come from
  * the task input metrics, so parquet's stats-based skipping shows up
  * directly.
  *
  * `sbt "Test/runMain graft.tools.CurveScale 4000000 64"` → 4M rows, 64
  * files per layout. Expectation at any scale: both curves read a small
  * fraction of the unsorted bytes, and Hilbert ≤ Morton (tighter
  * envelopes, the lo_locality gate's measured claim).
  */
object CurveScale {

  /** FILE-count pruning: of the store's parquet files, how many carry at
    * least one row group whose [min, max] envelope on `colName` intersects
    * any cover range — i.e. how many files a stats-driven scanner opens
    * for data at all. Footers are read directly (parquet-hadoop), so the
    * number is the layout's own property, independent of which engine
    * scans it — the per-FILE skip is what an object store monetizes
    * (whole GET requests never issued), where recordsRead only shows the
    * post-row-group residue.
    */
  private def filesOverlapping(dir: String, colName: String,
      ranges: Seq[(Long, Long)]): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    var hit = 0
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(f.getPath, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val overlaps = reader.getFooter.getBlocks.asScala.exists { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == colName)
            .map(_.getStatistics)
            .collect { case s: org.apache.parquet.column.statistics
                .LongStatistics if s.hasNonNullValue =>
              ranges.exists { case (lo, hi) =>
                !(s.getMax < lo || s.getMin > hi) }
            }
            // a row group without usable stats cannot be skipped: count it
            .getOrElse(true)
        }
        if (overlaps) hit += 1
      } finally reader.close()
    }
    (hit, files.length)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 4000000L
    val files = if (args.length > 1) args(1).toInt else 64
    val spark = Probes.localSession()
    spark.sparkContext.setLogLevel("WARN")

    // synthetic 16-bit keys with mild correlation (realistic: co-clustered
    // dimensions prune better than independent ones, either curve)
    val base = spark.range(n).selectExpr(
      "CAST(pmod(hash(id), 65536) AS BIGINT) & 65535 AS x",
      "CAST(pmod(hash(id * 31 + 7), 65536) AS BIGINT) & 65535 AS y",
      "id AS payload")
      .withColumn("morton",
        graft.functions.InterleaveBits.zorder(col("x"), col("y")))
      .withColumn("h",
        graft.functions.HilbertIndex.hilbert(col("x"), col("y")))

    val root = graft.TempDirs.create("graft_curvescale")
    def write(sortCol: Option[String], name: String): String = {
      val dir = s"$root/$name"
      val df = sortCol match {
        case Some(c) =>
          base.repartitionByRange(files, col(c)).sortWithinPartitions(c)
        case None => base.repartition(files)
      }
      df.write.mode(SaveMode.Overwrite).parquet(dir)
      dir
    }
    val unsorted = write(None, "unsorted")
    val bymorton = write(Some("morton"), "morton")
    val byhilbert = write(Some("h"), "hilbert")

    // records materialized OUT of parquet (after row-group/page skipping,
    // before the Spark-side filter) — the direct measure of what the
    // min/max statistics pruned; bytesRead at probe scale is dominated by
    // per-file footers and the extra curve column
    val recs = new TaskMetricSum(spark.sparkContext,
      _.inputMetrics.recordsRead)

    // the same 2-D box through each layout's natural predicate
    val (xlo, xhi, ylo, yhi) = (20000L, 24000L, 40000L, 46000L)
    def measure(label: String, q: DataFrame): (String, Long, Long) = {
      recs.reset()
      val rows = q.count()
      (label, rows, recs.get())
    }
    val boxFilter = col("x").between(xlo, xhi) && col("y").between(ylo, yhi)
    val zpred = graft.functions.ZInterval.cover(xlo, xhi, ylo, yhi)
      .map { case (a, b) => col("morton").between(a, b) }.reduce(_ || _)
    val hpred = graft.functions.HInterval.cover(xlo, xhi, ylo, yhi)
      .map { case (a, b) => col("h").between(a, b) }.reduce(_ || _)
    val runs = Seq(
      measure("unsorted ", spark.read.parquet(unsorted).filter(boxFilter)),
      measure("morton   ", spark.read.parquet(bymorton)
        .filter(zpred && boxFilter)),
      measure("hilbert  ", spark.read.parquet(byhilbert)
        .filter(hpred && boxFilter)))
    val rowCounts = runs.map(_._2).distinct
    require(rowCounts.size == 1,
      s"layouts disagree on the box answer: $rowCounts")
    val baseRecs = runs.head._3.toDouble
    println(f"rows=$n%d files=$files%d box rows=${runs.head._2}%d")
    runs.foreach { case (label, _, r) =>
      println(f"$label recordsRead=$r%12d  (${r / baseRecs * 100}%6.2f%% of unsorted)")
    }
    val (mFiles, mTot) = filesOverlapping(bymorton, "morton",
      graft.functions.ZInterval.cover(xlo, xhi, ylo, yhi))
    val (hFiles, hTot) = filesOverlapping(byhilbert, "h",
      graft.functions.HInterval.cover(xlo, xhi, ylo, yhi))
    println(f"morton   filesRead=$mFiles%5d of $mTot%5d")
    println(f"hilbert  filesRead=$hFiles%5d of $hTot%5d")

    // ---- 3-D: the same probe one dimension up (order-10 keys, octree
    // cover3, via the GraftLayout sidecar + rule — the lo_hscan3_auto
    // path end to end, so the measured pruning covers the AUTOMATIC form)
    val base3 = spark.range(n).selectExpr(
      "CAST(pmod(hash(id), 1024) AS BIGINT) & 1023 AS cx",
      "CAST(pmod(hash(id * 31 + 7), 1024) AS BIGINT) & 1023 AS cy",
      "CAST(pmod(hash(id * 131 + 3), 1024) AS BIGINT) & 1023 AS cz",
      "id AS payload")
    val un3 = s"$root/unsorted3"
    base3.repartition(files).write.mode(SaveMode.Overwrite).parquet(un3)
    val h3dir = s"$root/hilbert3"
    graft.plans.GraftLayout.writeHilbert3(
      base3, h3dir, "cx", "cy", "cz", "ch", files)
    val (bxlo, bxhi, bylo, byhi, bzlo, bzhi) =
      (300L, 420L, 600L, 700L, 100L, 260L)
    val box3 = col("cx").between(bxlo, bxhi) &&
      col("cy").between(bylo, byhi) && col("cz").between(bzlo, bzhi)
    val runs3 = Seq(
      measure("unsorted3", spark.read.parquet(un3).filter(box3)),
      measure("hilbert3 ", graft.plans.GraftLayout.read(spark, h3dir)
        .filter(box3)))
    require(runs3.map(_._2).distinct.size == 1,
      s"3-D layouts disagree: ${runs3.map(_._2)}")
    val cov3 = graft.functions.HInterval.cover3(
      bxlo, bxhi, bylo, byhi, bzlo, bzhi)
    val base3Recs = runs3.head._3.toDouble
    println(f"3-D box rows=${runs3.head._2}%d cover ranges=${cov3.size}%d")
    runs3.foreach { case (label, _, r) =>
      println(f"$label recordsRead=$r%12d  (${r / base3Recs * 100}%6.2f%% of unsorted)")
    }
    val (h3Files, h3Tot) = filesOverlapping(h3dir, "ch", cov3)
    println(f"hilbert3 filesRead=$h3Files%5d of $h3Tot%5d " +
      f"(cover ranges=${cov3.size}%d, cap 256)")
  }
}
