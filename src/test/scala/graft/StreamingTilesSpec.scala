package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.ops.{CCLSegmentation, Halo, Relabel}
import graft.streaming.StreamingTiles
import graft.tiles.Tile

/** The streaming halo assembly must be a bit-exact re-expression of the
  * batch engine: same shards, same assembly, same kernels — only the
  * exchange mechanism differs (stateful buffering vs shuffle). Tiles are
  * delivered across several microbatches in shuffled order to prove
  * incremental, order-independent completion.
  */
class StreamingTilesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session

  private val ov = Array(2, 2)
  private val grid = Array(3, 4)
  private val cs = 8

  private def coreTiles(seed: Int): Seq[Tile] = {
    val rnd = new scala.util.Random(seed)
    for (gy <- 0 until grid(0); gx <- 0 until grid(1)) yield {
      val data = Array.fill(cs * cs.toInt)(
        if (rnd.nextInt(10) < 4) 1L else 0L)
      Tile(Array(gy, gx), grid.clone(), Array(cs, cs), data)
    }
  }

  test("shuffled multi-batch stream == batch expand+segment+remove") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tiles = coreTiles(17)

    val batch = Relabel.removeOverlappedLabels(
      Relabel.segmentOverlappedInput(
        Halo.expand(spark.createDataset(tiles), ov), CCLSegmentation()),
      ov, 0.25).collect().toSeq

    val mem = MemoryStream[Tile]
    val qn = "st_tiles_sink"
    val query = StreamingTiles
      .expandSegmentRemoveStream(mem.toDS(), ov, CCLSegmentation(), 0.25)
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    try {
      val shuffled = new scala.util.Random(99).shuffle(tiles)
      val batches = shuffled.grouped((shuffled.size + 2) / 3).toSeq
      var emitted = Vector.empty[Long]
      batches.foreach { b =>
        mem.addData(b: _*)
        query.processAllAvailable()
        emitted :+= spark.table(qn).count()
      }
      // incremental: some neighborhoods complete before the last batch,
      // none after all batches are in
      assert(emitted.last == tiles.size.toLong)
      assert(emitted.head < tiles.size.toLong)
      assert(emitted == emitted.sorted)

      val got = spark.table(qn)
        .select("loc", "grid", "shape", "data", "classes").as[Tile]
        .collect().toSeq
      Goldens.assertSameTiles(got, batch)
    } finally query.stop()
  }

  test("chained stateful stages: full image2labels as ONE streaming query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tiles = coreTiles(31)

    val batch = {
      val removed = Relabel.removeOverlappedLabels(
        Relabel.segmentOverlappedInput(
          Halo.expand(spark.createDataset(tiles), ov), CCLSegmentation()),
        ov, 0.25)
      Halo.mergeAndTrim(removed, ov).collect().toSeq
    }

    val mem = MemoryStream[Tile]
    val qn = "st_tiles_chain_sink"
    val chained = StreamingTiles.mergeStream(
      StreamingTiles.expandSegmentRemoveStream(
        mem.toDS(), ov, CCLSegmentation(), 0.25), ov)
    StreamingTiles.withChainedStatefulAllowed(spark) {
      val query = chained.writeStream.outputMode("append")
        .format("memory").queryName(qn).start()
      try {
        val shuffled = new scala.util.Random(7).shuffle(tiles)
        shuffled.grouped((shuffled.size + 2) / 3).foreach { b =>
          mem.addData(b: _*); query.processAllAvailable()
        }
        val got = spark.table(qn)
          .select("loc", "grid", "shape", "data", "classes").as[Tile]
          .collect().toSeq
        Goldens.assertSameTiles(got, batch)
      } finally query.stop()
    }
  }

  test("duplicate deliveries (at-least-once source) do not corrupt assembly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tiles = coreTiles(23)
    val batch = Relabel.removeOverlappedLabels(
      Relabel.segmentOverlappedInput(
        Halo.expand(spark.createDataset(tiles), ov), CCLSegmentation()),
      ov, 0.25).collect().toSeq

    val mem = MemoryStream[Tile]
    val qn = "st_tiles_dup_sink"
    val query = StreamingTiles
      .expandSegmentRemoveStream(mem.toDS(), ov, CCLSegmentation(), 0.25)
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    try {
      // first half, then the FULL set again (first half duplicated)
      val (a, b) = tiles.splitAt(tiles.size / 2)
      mem.addData(a: _*); query.processAllAvailable()
      mem.addData(tiles: _*); query.processAllAvailable()
      val got = spark.table(qn)
        .select("loc", "grid", "shape", "data", "classes").as[Tile]
        .collect().toSeq
      assert(got.size == tiles.size, "duplicates must not double-emit")
      Goldens.assertSameTiles(got, batch)
    } finally query.stop()
  }

  test("streaming annotation dir sink: files match the batch annotate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tiles = coreTiles(53)
    val expected = graft.geojson.Annotate
      .annotateLabeledTiles(spark.createDataset(tiles), ov)
      .collect().filter(_.geojson != null)
      .map(a => a.locKey -> a.geojson).toMap

    val dir = java.nio.file.Paths.get(TempDirs.create("graft_stream_ann"))
    val mem = MemoryStream[Tile]
    val query = graft.geojson.Annotate.streamAnnotationDir(
      graft.geojson.Annotate.annotateLabeledTiles(mem.toDS(), ov),
      dir, "st_ann_dir_sink")
    try {
      tiles.grouped((tiles.size + 1) / 2).foreach { b =>
        mem.addData(b: _*); query.processAllAvailable()
      }
      // skip hidden files: the Hadoop-FS sink leaves `.{name}.crc`
      // siblings on checksummed local filesystems (like any Spark local
      // output dir) — metadata by the standard dot/underscore convention
      val written = Option(dir.toFile.listFiles()).get
        .filterNot(_.getName.startsWith("."))
        .map(f => f.getName.stripSuffix(".geojson") ->
          new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .toMap
      assert(written == expected, "streamed files differ from batch annotate")
    } finally {
      query.stop()
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("streaming zip sink: union of part members equals the batch zip") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tiles = coreTiles(67)
    val expected = graft.geojson.Annotate
      .annotateLabeledTiles(spark.createDataset(tiles), ov)
      .collect().filter(_.geojson != null)
      .map(a => a.locKey -> a.geojson).toMap

    def zipMembers(p: java.nio.file.Path): Map[String, String] = {
      val zf = new java.util.zip.ZipFile(p.toFile)
      try {
        val it = zf.entries()
        val buf = scala.collection.mutable.Map.empty[String, String]
        while (it.hasMoreElements) {
          val e = it.nextElement()
          buf += e.getName.stripSuffix(".geojson") ->
            new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
        }
        buf.toMap
      } finally zf.close()
    }

    val dir = java.nio.file.Paths.get(TempDirs.create("graft_stream_zip"))
    val mem = MemoryStream[Tile]
    val query = graft.geojson.Annotate.streamAnnotationZips(
      graft.geojson.Annotate.annotateLabeledTiles(mem.toDS(), ov),
      dir, "st_ann_zip_sink")
    try {
      tiles.grouped((tiles.size + 2) / 3).foreach { b =>
        mem.addData(b: _*); query.processAllAvailable()
      }
      val parts = Option(dir.toFile.listFiles()).get
        .filter(_.getName.endsWith(".zip")).sortBy(_.getName)
      assert(parts.length > 1, "expected one part per non-empty microbatch")
      val merged = parts.map(f => zipMembers(f.toPath))
        .foldLeft(Map.empty[String, String])(_ ++ _)
      assert(merged == expected, "part-zip union differs from batch annotate")
    } finally {
      query.stop()
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  test("tombstones expire after the TTL; state is bounded, not accreting") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tiles = coreTiles(41)
    val batchByLoc = Relabel.removeOverlappedLabels(
      Relabel.segmentOverlappedInput(
        Halo.expand(spark.createDataset(tiles), ov), CCLSegmentation()),
      ov, 0.25).collect().toSeq.groupBy(_.loc.toSeq)

    val mem = MemoryStream[Tile]
    val qn = "st_tiles_ttl_sink"
    val query = StreamingTiles
      .expandSegmentRemoveStream(mem.toDS(), ov, CCLSegmentation(), 0.25,
        tombstoneTtlMs = 1)
      .writeStream.outputMode("append").format("memory").queryName(qn).start()
    try {
      mem.addData(tiles: _*); query.processAllAvailable()
      assert(spark.table(qn).count() == tiles.size.toLong)
      val full = query.lastProgress.stateOperators.head.numRowsTotal
      assert(full == tiles.size.toLong, "one tombstone per completed tile")

      // next batch after the TTL elapses: idle keys' tombstones are removed;
      // only keys touched by the redelivered corner tile survive (re-armed)
      Thread.sleep(50)
      mem.addData(tiles.head); query.processAllAvailable()
      val after = query.lastProgress.stateOperators.head.numRowsTotal
      assert(after < full, s"tombstones not expiring: $after of $full remain")
      assert(spark.table(qn).count() == tiles.size.toLong,
        "a within-TTL redelivery must still be suppressed")

      // the documented trade-off: a FULL redelivery later than the TTL
      // re-assembles and re-emits — but every re-emission is bit-identical
      // to the batch result, so downstream dedup-by-location is safe
      Thread.sleep(50)
      mem.addData(tiles: _*); query.processAllAvailable()
      val emitted = spark.table(qn)
        .select("loc", "grid", "shape", "data", "classes").as[Tile]
        .collect().toSeq
      assert(emitted.size > tiles.size, "expired tombstones should re-emit")
      emitted.groupBy(_.loc.toSeq).foreach { case (loc, ts) =>
        val expected = batchByLoc(loc).head
        ts.foreach(t => Goldens.assertSameTiles(Seq(t), Seq(expected)))
      }
    } finally query.stop()
  }
}
