package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{Zarr3IO, ZarrIO}
import graft.sources.zarr.ZarrTableProvider
import graft.tiles.{GridSpec, Tile}

/** `assumeComplete` planning: the caller asserts the nominal chunk grid is
  * fully present, and every planning path — row scan, aggregate pushdown,
  * limit — becomes pure metadata arithmetic with ZERO listing calls (the
  * dominant driver-side cost of a 100M-chunk object store). A detectably
  * false assertion (value read hits a missing chunk) fails loudly; a
  * coordinate-only scan trusts the assertion by design.
  */
class ZarrAssumeCompleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkTest.session
    s.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", "graft.CountingFileSystem")
    s
  }

  private def tmpUri(prefix: String): String =
    "cfs:" + TempDirs.create(prefix)

  /** 4x4 image in 2x2 chunks (2x2 grid, 4 chunks, 16 cells), value
    * v(y, x) = y * 10 + x + 1 (nonzero everywhere).
    */
  private def writeStore(dir: String): Unit = {
    import spark.implicits._
    val spec = GridSpec(Array(4L, 4L), Array(2, 2))
    val tiles = for (gy <- 0 until 2; gx <- 0 until 2) yield
      Tile(Array(gy, gx), Array(2, 2), Array(2, 2),
        Array.tabulate(4) { i =>
          val y = gy * 2 + i / 2; val x = gx * 2 + i % 2
          (y * 10 + x + 1).toLong
        })
    ZarrIO.write(spark.createDataset(tiles), spec, dir, "<i8", "zlib")
  }

  test("dense store: enumerated plan equals the listed plan, zero listings") {
    val dir = tmpUri("zarr_ac_dense")
    writeStore(dir)
    val listed = spark.read.format("zarr").load(dir)
      .collect().map(_.toSeq).toSet
    CountingFileSystem.reset()
    val enumerated = spark.read.format("zarr")
      .option("assumeComplete", true).load(dir)
      .collect().map(_.toSeq).toSet
    assert(CountingFileSystem.lists.get() == 0,
      s"assumeComplete scan issued ${CountingFileSystem.lists.get()} listings")
    assert(enumerated == listed)
    // sanity: the counter does fire on the listing path
    CountingFileSystem.reset()
    spark.read.format("zarr").load(dir).collect()
    assert(CountingFileSystem.lists.get() > 0, "listing counter inert")
  }

  test("aggregate pushdown under assumeComplete is zero-I/O INCLUDING listing") {
    val dir = tmpUri("zarr_ac_agg")
    writeStore(dir)
    val df = spark.read.format("zarr").option("assumeComplete", true).load(dir)
    // force table resolution (metadata reads) before counting
    df.schema
    CountingFileSystem.reset()
    val before = ZarrTableProvider.payloadReads.get()
    assert(df.count() == 16L)
    val grouped = df.groupBy("g0").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped == Map(0L -> 8L, 1L -> 8L))
    // a bound past Int.MaxValue empties the enumerated box (it must not
    // wrap around to grid row 0)
    assert(df.filter(col("g0") >= 4294967296L).count() == 0L)
    assert(CountingFileSystem.lists.get() == 0,
      s"metadata aggregate listed the store " +
        s"(${CountingFileSystem.lists.get()} calls)")
    assert(ZarrTableProvider.payloadReads.get() == before,
      "metadata aggregate opened a chunk file")
  }

  test("pruned enumerated scan matches the pruned listed scan") {
    val dir = tmpUri("zarr_ac_prune")
    writeStore(dir)
    def rows(ac: Boolean) = {
      val r = spark.read.format("zarr")
      (if (ac) r.option("assumeComplete", true) else r).load(dir)
        .filter(col("g0") === 1 && col("g1") === 0)
        .collect().map(_.toSeq).toSet
    }
    assert(rows(ac = true) == rows(ac = false))
    assert(rows(ac = true).size == 4)
  }

  test("false assertion: value scan fails loudly, coordinate scan trusts") {
    val dir = tmpUri("zarr_ac_sparse")
    writeStore(dir)
    val local = dir.stripPrefix("cfs:")
    assert(new java.io.File(local, "1.1").delete(), "chunk file to remove")
    // the listing-based scan simply never plans the missing chunk
    assert(spark.read.format("zarr").load(dir).count() == 12L)
    // enumerated value scan: loud failure naming the chunk and the cause
    val ex = intercept[Exception] {
      spark.read.format("zarr").option("assumeComplete", true).load(dir)
        .select("value").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: messages(t.getCause)
    assert(messages(ex).exists(m =>
      m != null && m.contains("assumeComplete") && m.contains("1.1")),
      s"expected a loud absent-chunk error, got: $ex")
    // enumerated coordinate-only scan: nominal grid by design
    assert(spark.read.format("zarr").option("assumeComplete", true).load(dir)
      .select("g0", "g1", "p0", "p1").count() == 16L)
  }

  test("v3 unsharded store: enumerated plan equals the listed plan") {
    import spark.implicits._
    val dir = tmpUri("zarr_ac_v3")
    val spec = GridSpec(Array(4L, 4L), Array(2, 2))
    val tiles = for (gy <- 0 until 2; gx <- 0 until 2) yield
      Tile(Array(gy, gx), Array(2, 2), Array(2, 2),
        Array.tabulate(4)(i => (gy * 100 + gx * 10 + i + 1).toLong))
    Zarr3IO.write(spark.createDataset(tiles), spec, dir, "int64", gzip = true)
    val listed = spark.read.format("zarr").load(dir)
      .collect().map(_.toSeq).toSet
    CountingFileSystem.reset()
    val enumerated = spark.read.format("zarr")
      .option("assumeComplete", true).load(dir)
      .collect().map(_.toSeq).toSet
    assert(CountingFileSystem.lists.get() == 0)
    assert(enumerated == listed && enumerated.size == 16)
  }

  test("sharded store: enumerated shard plan equals the listed plan") {
    import spark.implicits._
    val dir = tmpUri("zarr_ac_shard")
    val spec = GridSpec(Array(6L, 6L), Array(2, 2))
    val tiles = for (gy <- 0 until 3; gx <- 0 until 3) yield
      Tile(Array(gy, gx), Array(3, 3), Array(2, 2),
        Array.tabulate(4)(i => (gy * 100 + gx * 10 + i + 1).toLong))
    Zarr3IO.writeSharded(spark.createDataset(tiles), spec, Array(4, 4),
      dir, "int64", gzip = false)
    val listed = spark.read.format("zarr").load(dir)
      .collect().map(_.toSeq).toSet
    CountingFileSystem.reset()
    val enumerated = spark.read.format("zarr")
      .option("assumeComplete", true).load(dir)
      .collect().map(_.toSeq).toSet
    assert(CountingFileSystem.lists.get() == 0,
      s"sharded assumeComplete scan issued " +
        s"${CountingFileSystem.lists.get()} listings")
    assert(enumerated == listed && enumerated.size == 36)
  }
}
