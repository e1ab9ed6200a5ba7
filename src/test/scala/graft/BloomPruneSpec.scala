package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parquet bloom-filter pruning, measured rather than assumed: the same
  * point lookup against the same adversely-sorted data reads a fraction
  * of the bytes when the probe column carries a bloom filter — proving
  * the reader actually consults the filter to skip row groups (min/max
  * stats are useless here by construction: the file is sorted by a
  * DIFFERENT key, so every row group spans nearly the full event_id
  * range).
  */
class BloomPruneSpec extends AnyFunSuite {

  lazy val spark = {
    val s = SparkTest.session
    s.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", "graft.CountingFileSystem")
    s
  }
  private val sf = "/root/testdata/sf0.01"

  private def writeStore(bloom: Boolean): String = {
    val dir = "cfs:" + TempDirs.create("graft_bloom")
    val w = spark.read.parquet(s"$sf/events.parquet")
      .sort("user_id") // scatter event_id across every row group
      .coalesce(1)
      .write.mode("overwrite")
      // small row groups -> many bloom-skippable units in one file
      .option("parquet.block.size", (64 * 1024).toString)
    (if (bloom) w.option("parquet.bloom.filter.enabled#event_id", "true")
     else w).parquet(dir)
    dir
  }

  private def bytesForPointRead(dir: String): Long = {
    CountingFileSystem.reset()
    val rows = spark.read.parquet(dir)
      .filter(col("event_id") === 123L).collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("event_id") == 123L)
    CountingFileSystem.rangedBytes(_.contains("graft_bloom"))
  }

  test("bloom filter on a non-sort key cuts point-lookup bytes") {
    val plain = writeStore(bloom = false)
    val bloomed = writeStore(bloom = true)
    val bytesPlain = bytesForPointRead(plain)
    val bytesBloom = bytesForPointRead(bloomed)
    // without blooms every row group's pages are decoded; with blooms all
    // but the one containing event_id=123 are skipped. Require a real
    // reduction, not noise.
    assert(bytesBloom * 2 < bytesPlain,
      s"bloom read $bytesBloom B vs plain $bytesPlain B — no pruning")
  }
}
