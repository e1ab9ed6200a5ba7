package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.sources.Zarr3IO
import graft.tiles.{GridSpec, Tile}

/** zarr v3 `sharding_indexed` codec: shard objects packing a grid of inner
  * chunks plus a binary (offset, nbytes) index, CRC32C-protected, read back
  * via ranged I/O. The range-read claim is proven destructively: bytes of a
  * NON-kept inner chunk inside a kept shard are scrambled in place, and the
  * pruned read must still succeed (it never touches that range) while the
  * full read must fail.
  */
class ZarrShardingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session

  private def tmp(prefix: String): String =
    TempDirs.create(prefix)

  /** Tiles over a 5x7 image in 2x2 inner chunks (3x4 inner grid, edges
    * clipped); shard = 4x4 elements = 2x2 inners (2x2 shard grid, all four
    * shards partially filled at the array boundary).
    */
  private val spec = GridSpec(Array(5L, 7L), Array(2, 2))

  private def allTiles: Seq[Tile] = {
    val grid = spec.gridShape
    for (gy <- 0 until grid(0); gx <- 0 until grid(1)) yield {
      val shape = Array(
        math.min(2L, spec.imageShape(0) - gy * 2L).toInt,
        math.min(2L, spec.imageShape(1) - gx * 2L).toInt)
      Tile(Array(gy, gx), grid.clone(), shape,
        Array.tabulate(shape.product)(i => (gy * 100 + gx * 10 + i).toLong))
    }
  }

  private def roundTrip(dir: String): Unit = {
    val tiles = allTiles
    val back = Zarr3IO.read(spark, dir).collect()
    assert(back.length == tiles.length)
    back.foreach { t =>
      val orig = tiles.find(_.loc.toSeq == t.loc.toSeq).get
      assert(t.shape.toSeq == orig.shape.toSeq, t.loc.toSeq)
      assert(t.data.toSeq == orig.data.toSeq, t.loc.toSeq)
    }
  }

  test("sharded round-trip: edge-clipped inners, trailing CRC32C index") {
    import spark.implicits._
    val dir = tmp("zarr3_shard")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    // one object per shard + zarr.json, NOT one per inner chunk (the local
    // FS also keeps Hadoop .crc sidecars — count only the visible objects)
    val files = new java.io.File(dir, "c").listFiles()
    assert(files != null && files.flatMap(d =>
      Option(d.listFiles()).toSeq.flatten)
      .count(!_.getName.startsWith(".")) == 4)
    val meta = Zarr3IO.readMeta(dir)
    assert(meta.sharding.exists(s => s.inner.toSeq == Seq(2, 2) &&
      s.indexAtEnd && s.indexCrc))
    roundTrip(dir)
  }

  test("index_location=start and no-crc index round-trip") {
    import spark.implicits._
    val dir = tmp("zarr3_shard_start")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "uint16", gzip = false, indexAtEnd = false, indexCrc = false)
    val meta = Zarr3IO.readMeta(dir)
    assert(meta.sharding.exists(s => !s.indexAtEnd && !s.indexCrc))
    roundTrip(dir)
  }

  test("absent inner chunks read as fill_value, present ones intact") {
    import spark.implicits._
    val dir = tmp("zarr3_shard_hole")
    val kept = allTiles.filterNot(_.loc.toSeq == Seq(1, 1))
    Zarr3IO.writeSharded(spark.createDataset(kept), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    // zarr sharding semantics: an ABSENT index entry is not a hole in the
    // array, it's an all-fill region — the tile reader synthesizes it so
    // the frame stays dense (the contract every pipeline stage assumes)
    val back = Zarr3IO.read(spark, dir).collect()
    assert(back.length == allTiles.length)
    val hole = back.find(_.loc.toSeq == Seq(1, 1)).get
    assert(hole.data.forall(_ == 0L), "absent inner must read as fill")
    for (t <- back if t.loc.toSeq != Seq(1, 1))
      assert(t.data.toSeq ==
        kept.find(_.loc.toSeq == t.loc.toSeq).get.data.toSeq)
  }

  test("pruned read never touches a scrambled non-kept inner chunk") {
    import spark.implicits._
    val dir = tmp("zarr3_shard_prune")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    // locate inner (0,1)'s byte range inside shard c/0/0 via its own index
    // (inners per shard = 2x2, C-order position 1) and scramble it
    val shard = new java.io.File(dir, "c/0/0")
    val bytes = java.nio.file.Files.readAllBytes(shard.toPath)
    val idxOff = bytes.length - (4 * 16 + 4)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val off = bb.getLong(idxOff + 16).toInt
    val len = bb.getLong(idxOff + 24).toInt
    assert(off >= 0 && len > 0)
    var i = 0
    while (i < len) { bytes(off + i) = (~bytes(off + i)).toByte; i += 1 }
    // rewrite through StoreIO so the local FS's own .crc sidecar stays
    // consistent — the corruption must be caught by the SHARD layer
    graft.sources.StoreIO.write(graft.sources.StoreIO.hadoopConf,
      shard.getAbsolutePath, bytes)
    // keep = everything except global inner (0,1): succeeds, values intact
    val pruned = Zarr3IO.read(spark, dir,
      loc => !(loc(0) == 0 && loc(1) == 1)).collect()
    assert(pruned.length == allTiles.length - 1)
    pruned.foreach { t =>
      val orig = allTiles.find(_.loc.toSeq == t.loc.toSeq).get
      assert(t.data.toSeq == orig.data.toSeq, t.loc.toSeq)
    }
    // the full read decodes the scrambled range and must fail
    intercept[org.apache.spark.SparkException] {
      Zarr3IO.read(spark, dir).collect()
    }
  }

  test("a corrupted index fails with the CRC32C message naming the shard") {
    import spark.implicits._
    val dir = tmp("zarr3_shard_crc")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    val shard = new java.io.File(dir, "c/1/0")
    val bytes = java.nio.file.Files.readAllBytes(shard.toPath)
    val idxOff = bytes.length - (4 * 16 + 4)
    bytes(idxOff + 3) = (bytes(idxOff + 3) ^ 0x40).toByte
    graft.sources.StoreIO.write(graft.sources.StoreIO.hadoopConf,
      shard.getAbsolutePath, bytes)
    val e = intercept[org.apache.spark.SparkException] {
      Zarr3IO.read(spark, dir).collect()
    }
    val msg = Option(e.getCause).fold(e.getMessage)(_.getMessage)
    assert(msg.contains("CRC32C") && msg.contains("c/1/0"), msg)
  }

  test("a corrupt index entry fails the scan, the pushed count and the limit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("zarr3_shard_badentry")
    // only shard c/0/0's inners, so it is the one object every path meets
    // first; a CRC-free index lets the bad entry through to the entry rule
    val kept = allTiles.filter(t => t.loc(0) < 2 && t.loc(1) < 2)
    Zarr3IO.writeSharded(spark.createDataset(kept), spec, Array(4, 4),
      dir, "uint16", gzip = false, indexCrc = false)
    val shard = new java.io.File(dir, "c/0/0")
    val bytes = java.nio.file.Files.readAllBytes(shard.toPath)
    val idxOff = bytes.length - 4 * 16
    // inner (0,0) is slot 0: offset -2, a valid length
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(idxOff, -2L)
    graft.sources.StoreIO.write(graft.sources.StoreIO.hadoopConf,
      shard.getAbsolutePath, bytes)
    def failsNamingEntry(what: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("c/0/0") &&
        m.contains("inner chunk 0,0") && m.contains("corrupt index entry")),
        s"$what: ${msgs(e).mkString(" | ")}")
    }
    val df = spark.read.format("zarr").load(dir)
    failsNamingEntry("full scan")(df.collect())
    failsNamingEntry("tile read")(Zarr3IO.read(spark, dir).collect())
    val cnt = df.agg(count(lit(1)))
    failsNamingEntry("pushed count") {
      assert(cnt.queryExecution.executedPlan.toString.contains("ZarrAggScan"))
      cnt.collect()
    }
    failsNamingEntry("limit(1)")(df.select("g0", "g1").limit(1).collect())
  }

  test("DSv2 scan over a sharded store: inner granularity, absent skipped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("zarr3_shard_dsv2")
    val kept = allTiles.filterNot(_.loc.toSeq == Seq(1, 1))
    Zarr3IO.writeSharded(spark.createDataset(kept), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    val df = spark.read.format("zarr").load(dir)
    // rows = present inner cells only; absent inner (1,1) contributes none,
    // in the payload scan AND the coordinates-only scan
    val expectCells = kept.map(_.data.length).sum
    assert(df.count() == expectCells)
    assert(df.select("g0", "g1").count() == expectCells)
    assert(df.filter(col("g0") === 1 && col("g1") === 1).count() == 0)
    // values survive the ranged read bit-exactly
    val sums = df.groupBy("g0", "g1").agg(sum("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    kept.foreach { t =>
      assert(sums((t.loc(0).toLong, t.loc(1).toLong)) == t.data.sum, t.loc.toSeq)
    }
    // vectorized and row paths agree
    val rowSum = spark.read.format("zarr").option("vectorized", "false")
      .load(dir).agg(sum("value")).collect()(0).getLong(0)
    assert(rowSum == kept.map(_.data.sum).sum)
  }

  test("DSv2 pruning on a sharded store plans only the box's inner chunks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("zarr3_shard_dsv2p")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    val pruned = spark.read.format("zarr").load(dir)
      .filter(col("g0") === 2) // bottom row of the 3x4 inner grid
    assert(pruned.rdd.getNumPartitions == 4)
    graft.sources.zarr.ZarrTableProvider.payloadReads.set(0)
    val n = pruned.count()
    assert(n == allTiles.filter(_.loc(0) == 2).map(_.data.length).sum)
    // the pruned count() pushes as a metadata aggregate (shard indexes,
    // no payload), and the row scan itself never reads payload bytes for
    // a coordinate-only projection either
    assert(graft.sources.zarr.ZarrTableProvider.payloadReads.get() == 0)
  }

  test("storage-partitioned groupBy survives sharding: no exchange planned") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("zarr3_shard_spj")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    val prior = spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val grouped = spark.read.format("zarr").load(dir)
        .select("g0", "g1", "value")
        .groupBy("g0", "g1")
        .agg(count(lit(1)).as("n"), sum("value").as("s"))
      assert(!grouped.queryExecution.executedPlan.toString.contains("Exchange"),
        "sharded storage-partitioned aggregate planned a shuffle:\n" +
          grouped.queryExecution.executedPlan)
      val rows = grouped.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
      allTiles.foreach { t =>
        assert(rows((t.loc(0).toLong, t.loc(1).toLong)) ==
          ((t.data.length.toLong, t.data.sum)), t.loc.toSeq)
      }
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prior)
  }

  test("limit on a sharded store with absent inners returns exact rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("zarr3_shard_limit")
    // first inner in C-order (0,0) is absent: a planned-prefix limit over
    // the NOMINAL grid would count its cells and under-deliver — the
    // planner must consult the shard indexes for presence
    val kept = allTiles.filterNot(_.loc.toSeq == Seq(0, 0))
    Zarr3IO.writeSharded(spark.createDataset(kept), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    val df = spark.read.format("zarr").load(dir)
    assert(df.limit(5).count() == 5)
    assert(df.limit(1000000).count() == kept.map(_.data.length).sum)
    // index-aware planning: limit(1) plans exactly one PRESENT inner
    // chunk (aggregate on top so the planned partitions execute once)
    graft.sources.zarr.ZarrTableProvider.payloadReads.set(0)
    val r1 = df.limit(1).agg(count(lit(1)), sum("value")).collect()(0)
    assert(r1.getLong(0) == 1)
    assert(graft.sources.zarr.ZarrTableProvider.payloadReads.get() == 1,
      s"limit(1) opened ${graft.sources.zarr.ZarrTableProvider.payloadReads.get()} chunks")
  }

  test("sharded metadata aggregates push: shard-index reads, no payload") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("zarr3_shard_agg")
    // inner (1,1) absent: aggregates must reflect index presence
    val kept = allTiles.filterNot(_.loc.toSeq == Seq(1, 1))
    Zarr3IO.writeSharded(spark.createDataset(kept), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    val zarr = spark.read.format("zarr").load(dir)
    graft.sources.zarr.ZarrTableProvider.payloadReads.set(0)
    val df = zarr.agg(count(lit(1)).as("n"), min("g0").as("mng"),
      max("g1").as("mxg"), min("p0").as("mnp"), max("p1").as("mxp"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ZarrAggScan"), s"sharded agg not pushed:\n$plan")
    val r = df.collect()(0)
    assert(r.getLong(0) == kept.map(_.data.length).sum)
    assert(r.getLong(1) == 0L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 0L && r.getLong(4) == 1L)
    assert(graft.sources.zarr.ZarrTableProvider.payloadReads.get() == 0,
      "pushed sharded aggregate opened chunk payloads")
    // pruning composes: a box missing the absent inner
    val pruned = zarr.filter(col("g0") >= 1)
      .agg(count(lit(1)).as("n"), min("g0").as("mng"))
    assert(pruned.queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    val pr = pruned.collect()(0)
    assert(pr.getLong(0) ==
      kept.filter(_.loc(0) >= 1).map(_.data.length).sum)
    assert(pr.getLong(1) == 1L)
    // an emptied box: count 0, null extrema
    val empty = zarr.filter(col("g0") === 9).agg(count(lit(1)), min("g1"))
    val er = empty.collect()(0)
    assert(er.getLong(0) == 0L && er.isNullAt(1))
  }

  test("sharded grouped aggregate distributes over >16 shards") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 24x24 image, 2x2 inners, 4x4-element shards -> 12x12 inner grid in
    // 6x6 = 36 shard objects, above the 16-shard driver threshold, so the
    // partials come from the distributed index-scan job
    val bigSpec = GridSpec(Array(24L, 24L), Array(2, 2))
    val grid = bigSpec.gridShape
    val tiles = for {
      gy <- 0 until grid(0); gx <- 0 until grid(1)
      if !(gy == 0 && gx == 0) // one absent inner
    } yield Tile(Array(gy, gx), grid.clone(), Array(2, 2),
      Array.tabulate(4)(i => (gy * 100 + gx * 10 + i).toLong))
    val dir = tmp("zarr3_shard_aggbig")
    Zarr3IO.writeSharded(spark.createDataset(tiles), bigSpec, Array(4, 4),
      dir, "int64", gzip = true)
    assert(new java.io.File(dir, "c").listFiles().flatMap(d =>
      Option(d.listFiles()).toSeq.flatten)
      .count(!_.getName.startsWith(".")) == 36)
    val zarr = spark.read.format("zarr").load(dir)
    graft.sources.zarr.ZarrTableProvider.payloadReads.set(0)
    val df = zarr.groupBy("g0").agg(count(lit(1)).as("n"), max("p0").as("mxp"))
    assert(df.queryExecution.executedPlan.toString.contains("ZarrAggScan"))
    val got = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == 12)
    assert(got(0L) == (11L * 4, 1L)) // absent (0,0) excluded
    (1 until 12).foreach(g => assert(got(g.toLong) == (12L * 4, 1L), g))
    assert(graft.sources.zarr.ZarrTableProvider.payloadReads.get() == 0)
  }

  test("DSv2 write into a sharded store is rejected with a clear error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("zarr3_shard_wreject")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    val rows = spark.range(4).select(
      lit(0L).as("g0"), lit(0L).as("g1"),
      (col("id") / 2).cast("long").as("p0"), (col("id") % 2).as("p1"),
      col("id").as("value"))
    val e = intercept[Exception] {
      rows.write.format("zarr").mode("append").save(dir)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    assert(msgs(e).exists(m => m != null && m.contains("sharded")), msgs(e))
  }

  test("overwrite with full layout options replaces a sharded store") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp("zarr3_shard_owrite")
    Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(4, 4),
      dir, "uint16", gzip = true)
    // the sharded-store error message advertises exactly this remedy:
    // mode("overwrite") with explicit shape/chunks/dtype/compressor never
    // reads the old metadata, so the sharded guard must not fire
    val rows = spark.range(16).select(
      (col("id") / 8).cast("long").as("g0"), ((col("id") / 4) % 2).as("g1"),
      ((col("id") / 2) % 2).as("p0"), (col("id") % 2).as("p1"),
      col("id").as("value"))
    rows.write.format("zarr").mode("overwrite")
      .option("shape", "4,4").option("chunks", "2,2")
      .option("dtype", "int64").option("compressor", "gzip")
      .option("zarrFormat", "3")
      .save(dir)
    val back = spark.read.format("zarr").load(dir)
    assert(back.count() == 16)
    assert(back.agg(sum("value")).collect()(0).getLong(0) == (0 until 16).sum)
    assert(Zarr3IO.readMeta(dir).sharding.isEmpty)
  }

  test("3D sharded round-trip: 2x2x2 inners per shard, ragged edges") {
    import spark.implicits._
    val spec3 = GridSpec(Array(3L, 5L, 4L), Array(2, 2, 2))
    val grid = spec3.gridShape // 2x3x2
    val tiles3 = for (g0 <- 0 until grid(0); g1 <- 0 until grid(1);
                      g2 <- 0 until grid(2)) yield {
      val shape = Array.tabulate(3)(a =>
        math.min(2L, spec3.imageShape(a) - Seq(g0, g1, g2)(a) * 2L).toInt)
      Tile(Array(g0, g1, g2), grid.clone(), shape,
        Array.tabulate(shape.product)(i => (g0 * 1000 + g1 * 100 + g2 * 10 + i).toLong))
    }
    val dir = tmp("zarr3_shard_3d")
    Zarr3IO.writeSharded(spark.createDataset(tiles3), spec3, Array(4, 4, 4),
      dir, "int64", gzip = true)
    val back = Zarr3IO.read(spark, dir).collect()
    assert(back.length == tiles3.length)
    back.foreach { t =>
      val orig = tiles3.find(_.loc.toSeq == t.loc.toSeq).get
      assert(t.data.toSeq == orig.data.toSeq, t.loc.toSeq)
    }
    // DSv2 over the 3D sharded store agrees cell-for-cell
    import org.apache.spark.sql.functions._
    val df = spark.read.format("zarr").load(dir)
    assert(df.count() == tiles3.map(_.data.length).sum)
    assert(df.agg(sum("value")).collect()(0).getLong(0) ==
      tiles3.map(_.data.sum).sum)
  }

  test("shard shape must be a multiple of the inner chunk") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Zarr3IO.writeSharded(spark.createDataset(allTiles), spec, Array(3, 4),
        tmp("zarr3_shard_bad"), "uint16")
    }
    assert(e.getMessage.contains("multiple"))
  }
}
