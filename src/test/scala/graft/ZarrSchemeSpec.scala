package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.sources.Zarr3IO
import graft.tiles.{GridSpec, Tile}

/** Zarr I/O through a NON-file registered scheme ([[CountingFileSystem]],
  * `cfs:`): proves scheme-awareness end-to-end rather than assuming it, and
  * pins the object-store access pattern — sharded reads issue a bounded
  * number of RANGED reads (index + kept inners), never whole-object
  * downloads; metadata aggregates touch only indexes.
  */
class ZarrSchemeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkTest.session
    s.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", "graft.CountingFileSystem")
    s
  }

  private def tmpUri(prefix: String): String =
    "cfs:" + TempDirs.create(prefix)

  /** 6x6 image in 2x2 inners (3x3 inner grid), 4x4-element shards (2x2
    * shard grid); all inners present.
    */
  private val spec = GridSpec(Array(6L, 6L), Array(2, 2))
  private def allTiles: Seq[Tile] =
    for (gy <- 0 until 3; gx <- 0 until 3) yield
      Tile(Array(gy, gx), Array(3, 3), Array(2, 2),
        Array.tabulate(4)(i => (gy * 100 + gx * 10 + i).toLong))

  test("sharded store through cfs:: write, pruned ranged read, round-trip") {
    import spark.implicits._
    val dir = tmpUri("zarr_cfs")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "int64", gzip = false)
    // pruned read of ONE inner chunk, on a cold shard-index cache (the
    // store was just written to a fresh dir): the kept shard is opened
    // (not downloaded) and served by exactly 2 ranged reads — its index
    // tail plus the one inner chunk's byte range
    CountingFileSystem.reset()
    val one = Zarr3IO.read(spark, dir,
      loc => loc(0) == 0 && loc(1) == 0).collect()
    assert(one.length == 1 && one(0).data.toSeq == allTiles.head.data.toSeq)
    val isShard = (p: String) => p.contains("/c/")
    assert(CountingFileSystem.rangedReads(isShard) == 2,
      s"expected index+chunk = 2 ranged reads, saw " +
        s"${CountingFileSystem.rangedReads(isShard)}")
    // and those ranged reads moved far fewer bytes than the shard holds
    val shardBytes = new java.io.File(dir.stripPrefix("cfs:"), "c/0/0").length
    assert(CountingFileSystem.rangedBytes(isShard) < shardBytes,
      s"ranged reads moved ${CountingFileSystem.rangedBytes(isShard)} of a " +
        s"$shardBytes-byte shard — that is a whole-object download")
    // full round-trip through the scheme
    val back = Zarr3IO.read(spark, dir).collect()
    assert(back.length == allTiles.length)
    back.foreach { t =>
      val orig = allTiles.find(_.loc.toSeq == t.loc.toSeq).get
      assert(t.data.toSeq == orig.data.toSeq, t.loc.toSeq)
    }
  }

  test("DSv2 scan and metadata aggregate through cfs:") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpUri("zarr_cfs_dsv2")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "int64", gzip = false)
    val df = spark.read.format("zarr").load(dir)
    // pushed metadata count FIRST (cold shard-index cache): index-only
    // ranged reads, zero payload chunk reads
    graft.sources.zarr.ZarrTableProvider.payloadReads.set(0)
    CountingFileSystem.reset()
    val cnt = df.groupBy("g0").agg(count(lit(1)).as("n"))
    assert(cnt.queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    assert(cnt.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 12L, 1L -> 12L, 2L -> 12L))
    assert(graft.sources.zarr.ZarrTableProvider.payloadReads.get() == 0)
    // 4 shards -> at most one index-sized ranged read each (cache may
    // dedupe), and the bytes stay index-sized: 4 inners x 16 B + 4 B CRC
    val isShard = (p: String) => p.contains("/c/")
    assert(CountingFileSystem.rangedReads(isShard) <= 4)
    assert(CountingFileSystem.rangedBytes(isShard) <= 4L * (4 * 16 + 4))
    // and the payload scan through the scheme agrees with the source data
    assert(df.agg(sum("value")).collect()(0).getLong(0) ==
      allTiles.map(_.data.sum).sum)
  }

  test("streaming sharded read through cfs: reads each shard index once") {
    import spark.implicits._
    val dir = tmpUri("zarr_cfs_stream")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "int64", gzip = false)
    CountingFileSystem.reset()
    val got = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("zarr")
      .option("maxChunksPerTrigger", "1").load(dir)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.addAndGet(b.count()); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.get() == allTiles.map(_.data.length).sum)
    // 4 shard objects served across 4 single-shard micro-batches, each
    // shard covering up to 4 inner chunks: the per-JVM ShardIndexCache
    // must hold across micro-batches AND across the inner chunks of one
    // shard — one index read per shard, one payload read per present
    // inner, nothing proportional to (batches x inners)
    val isShard = (p: String) => p.contains("/c/")
    val inners = allTiles.length // 9 present inner chunks
    val shards = 4
    assert(CountingFileSystem.rangedReads(isShard) <= shards + inners,
      s"saw ${CountingFileSystem.rangedReads(isShard)} ranged reads for " +
        s"$shards shards + $inners inner chunks — index reads are being " +
        "repeated per micro-batch")
  }

  test("DSv2 read and inheriting write each open the store metadata once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpUri("zarr_cfs_meta")
    // 4x4 image in 2x2 chunks: a v2 store of 4 chunk objects
    val tiles = for (gy <- 0 until 2; gx <- 0 until 2) yield
      Tile(Array(gy, gx), Array(2, 2), Array(2, 2),
        Array.tabulate(4)(i => (gy * 100 + gx * 10 + i).toLong))
    graft.sources.ZarrIO.write(spark.createDataset(tiles),
      GridSpec(Array(4L, 4L), Array(2, 2)), dir, "<i8", "")
    CountingFileSystem.reset()
    val got = spark.read.format("zarr").load(dir)
      .agg(sum("value")).collect()(0).getLong(0)
    assert(got == tiles.map(_.data.sum).sum)
    val meta = CountingFileSystem.opensOf(_.endsWith("/.zarray"))
    assert(meta == 1, s"store metadata opened $meta times for one query")
    assert(CountingFileSystem.opens.get() == 1 + 4,
      s"${CountingFileSystem.opens.get() - meta} chunk opens for 4 chunks")
    // a write that takes its layout from the store reads the metadata once
    CountingFileSystem.reset()
    spark.range(16).selectExpr("id div 8 AS g0", "(id div 4) % 2 AS g1",
        "(id div 2) % 2 AS p0", "id % 2 AS p1", "id AS value")
      .write.format("zarr").mode("overwrite").save(dir)
    val writeMeta = CountingFileSystem.opensOf(_.endsWith("/.zarray"))
    assert(writeMeta == 1,
      s"store metadata opened $writeMeta times for one inheriting overwrite")
  }

  test("DSv2 round-trip write + read through cfs:") {
    val dir = tmpUri("zarr_cfs_write")
    spark.range(16)
      .selectExpr("id div 8 AS g0", "(id div 4) % 2 AS g1",
        "(id div 2) % 2 AS p0", "id % 2 AS p1", "id AS value")
      .write.format("zarr")
      .option("shape", "4,4").option("chunks", "2,2")
      .option("dtype", "<i8").option("compressor", "zlib")
      .mode("overwrite").save(dir)
    import org.apache.spark.sql.functions._
    val got = spark.read.format("zarr").load(dir)
      .agg(count(lit(1)), sum("value")).collect()(0)
    assert(got.getLong(0) == 16 && got.getLong(1) == (0 until 16).sum)
  }
}
