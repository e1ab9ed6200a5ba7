package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-snapshot guarantees measured, not assumed: a version-1 read
  * planned from its manifest is (a) byte-stable while version-2 files land
  * in the same directory, and (b) LISTING-FREE — the scan opens exactly
  * the manifest's files and never lists the directory (the property that
  * makes snapshot planning O(manifest), not O(objects), on an object
  * store).
  */
class TimeTravelSpec extends AnyFunSuite {

  lazy val spark = {
    val s = SparkTest.session
    s.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", "graft.CountingFileSystem")
    s
  }
  private val sf = "/root/testdata/sf0.001"

  test("manifest v1 read is isolated from the append and listing-free") {
    val dir = TempDirs.create("graft_tt_spec")
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts"), col("value"))
    val mid = 1705363200000000L
    ev.filter(graft.rel.Q.tsMicros(col("ts")) < mid)
      .write.mode("overwrite").parquet(dir)
    val v1Files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    val v1Count = spark.read.parquet(v1Files: _*).count()

    ev.filter(graft.rel.Q.tsMicros(col("ts")) >= mid)
      .write.mode("append").parquet(dir)
    val allFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(allFiles > v1Files.length, "append produced no new files")

    // isolation: the same manifest still reads the same snapshot
    val v1Again = spark.read.parquet(v1Files: _*)
    assert(v1Again.count() == v1Count)
    assert(v1Again
      .filter(graft.rel.Q.tsMicros(col("ts")) >= mid).count() == 0,
      "v1 snapshot leaked post-commit rows")

    // listing is O(manifest), not O(table): Spark issues one listStatus
    // PER GIVEN FILE (a status lookup on a file path, which on an object
    // store is a HEAD, not a prefix scan); the count must be bounded by
    // the manifest length no matter how many other files share the
    // directory
    CountingFileSystem.reset()
    val viaCfs = spark.read
      .parquet(v1Files.map("cfs:" + _).toIndexedSeq: _*).count()
    assert(viaCfs == v1Count)
    assert(CountingFileSystem.lists.get() <= v1Files.length,
      s"manifest read listed ${CountingFileSystem.lists.get()} times " +
        s"for ${v1Files.length} manifest files — scanning the directory")
  }
}
