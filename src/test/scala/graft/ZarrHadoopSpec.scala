package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.sources.{Zarr3IO, ZarrIO}
import graft.tiles.{GridSpec, Tile}

/** The zarr I/O stack addressed through Hadoop `FileSystem` URIs: every
  * store here is opened via an explicit `file:` scheme path, the same code
  * path an `s3a://` or `hdfs://` store takes — nothing below [[StoreIO]]
  * may assume `java.io.File` semantics. Plain local paths stay covered by
  * [[ZarrSpec]]/[[Zarr3Spec]]/[[ZarrDsv2Spec]].
  */
class ZarrHadoopSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session

  private def tmpUri(prefix: String): String =
    "file:" + TempDirs.create(prefix)

  private def sampleTiles(spec: GridSpec): Seq[Tile] = {
    val rnd = new scala.util.Random(7)
    for (gy <- 0 until 2; gx <- 0 until 2) yield {
      val shape = Array(
        math.min(spec.chunk(0), spec.imageShape(0).toInt - gy * spec.chunk(0)),
        math.min(spec.chunk(1), spec.imageShape(1).toInt - gx * spec.chunk(1)))
      Tile(Array(gy, gx), Array(2, 2), shape,
        Array.fill(shape.product)(rnd.nextInt(200).toLong))
    }
  }

  test("zarr v2 write + read through an explicit file: URI") {
    import spark.implicits._
    val spec = GridSpec(Array(5L, 7L), Array(3, 4))
    val tiles = sampleTiles(spec)
    val dir = tmpUri("zarr_hfs")
    ZarrIO.write(spark.createDataset(tiles), spec, dir, "<u2", "zlib")
    val back = ZarrIO.read(spark, dir).collect()
    assert(back.length == 4)
    back.foreach { t =>
      val orig = tiles.find(_.loc.toSeq == t.loc.toSeq).get
      assert(t.data.toSeq == orig.data.toSeq, t.loc.toSeq)
    }
    // box pruning over the same URI store
    val pruned = ZarrIO.readBox(spark, dir, Array(1, 0), Array(1, 1)).collect()
    assert(pruned.map(_.loc.toSeq).toSet == Set(Seq(1, 0), Seq(1, 1)))
  }

  test("zarr v3 write + read through an explicit file: URI") {
    import spark.implicits._
    val spec = GridSpec(Array(5L, 7L), Array(3, 4))
    val tiles = sampleTiles(spec)
    val dir = tmpUri("zarr3_hfs")
    Zarr3IO.write(spark.createDataset(tiles), spec, dir, "uint16", gzip = true)
    val back = Zarr3IO.read(spark, dir).collect()
    assert(back.length == 4)
    back.foreach { t =>
      val orig = tiles.find(_.loc.toSeq == t.loc.toSeq).get
      assert(t.data.toSeq == orig.data.toSeq, t.loc.toSeq)
    }
  }

  test("DSv2 write + pruned read through an explicit file: URI") {
    val dir = tmpUri("zarr_dsv2_hfs")
    spark.range(6 * 8)
      .selectExpr("id div 8 AS g0", "id % 8 AS g1",
        "CAST(0 AS BIGINT) AS p0", "CAST(0 AS BIGINT) AS p1",
        "id AS value")
      .write.format("zarr")
      .option("shape", "6,8").option("chunks", "1,1")
      .option("dtype", "<i8").option("compressor", "zlib")
      .mode("overwrite").save(dir)
    val got = spark.read.format("zarr").load(dir)
      .filter("g0 = 2 AND p0 = 0 AND p1 = 0")
      .selectExpr("g1", "value").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until 8).map(x => x.toLong -> (16L + x)).toMap)
  }

  test("DSv2 write into an existing store inherits its layout options") {
    val dir = tmpUri("zarr_dsv2_inherit")
    def df = spark.range(4)
      .selectExpr("id div 2 AS g0", "id % 2 AS g1",
        "CAST(0 AS BIGINT) AS p0", "CAST(0 AS BIGINT) AS p1", "id AS value")
    df.write.format("zarr")
      .option("shape", "2,2").option("chunks", "1,1").option("dtype", "<u2")
      .mode("overwrite").save(dir)
    // second overwrite with NO layout options: inherited from the store,
    // not an NPE (dimsOf only ever covered the read path)
    df.selectExpr("g0", "g1", "p0", "p1", "value + 10 AS value")
      .write.format("zarr").mode("overwrite").save(dir)
    val meta = ZarrIO.readMeta(dir)
    assert(meta.dtype == "<u2" && meta.chunks.toSeq == Seq(1, 1))
    val got = spark.read.format("zarr").load(dir)
      .selectExpr("sum(value)").collect()(0).getLong(0)
    assert(got == 10 + 11 + 12 + 13)
  }

  test("fresh-store DSv2 write without shape fails with a named option") {
    val dir = tmpUri("zarr_dsv2_fresh") + "/sub"
    val ex = intercept[IllegalArgumentException] {
      spark.range(1)
        .selectExpr("id AS g0", "id AS g1", "id AS p0", "id AS p1",
          "id AS value")
        .write.format("zarr").mode("overwrite").save(dir)
    }
    assert(ex.getMessage.contains("shape"))
  }

  test("append-mode layout mismatch into a non-empty store is rejected") {
    val dir = tmpUri("zarr_dsv2_append")
    def df = spark.range(1)
      .selectExpr("id AS g0", "id AS g1", "id AS p0", "id AS p1", "id AS value")
    df.write.format("zarr")
      .option("shape", "2,2").option("chunks", "1,1").option("dtype", "<u2")
      .mode("overwrite").save(dir)
    val ex = intercept[Exception] {
      df.write.format("zarr")
        .option("shape", "2,2").option("chunks", "1,1").option("dtype", "<i8")
        .mode("append").save(dir)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("append-mode")))
  }

  test("a local store is written without .crc siblings, and a stale one fails no read") {
    import spark.implicits._
    val spec = GridSpec(Array(5L, 7L), Array(3, 4))
    val tiles = sampleTiles(spec)
    for (dir <- Seq(tmpUri("zarr_nocrc"), TempDirs.create("zarr_nocrc_plain"))) {
      // an earlier write through Hadoop's checksummed local file system
      // leaves a .crc sibling next to every file
      val local = org.apache.hadoop.fs.FileSystem.getLocal(graft.sources.StoreIO.hadoopConf)
      val chunk = new org.apache.hadoop.fs.Path(dir, "0.0")
      val old = local.create(chunk, true)
      try old.write(Array.fill[Byte](100)(7)) finally old.close()
      assert(local.getRaw.exists(local.getChecksumFile(chunk)))
      ZarrIO.write(spark.createDataset(tiles), spec, dir, "<u2", "zlib")
      val files = new java.io.File(chunk.toUri.getPath).getParentFile.list().toSet
      assert(files.filter(_.endsWith(".crc")) == Set(".0.0.crc"), files)
      val back = ZarrIO.read(spark, dir).collect()
      assert(back.length == 4)
      back.foreach { t =>
        val orig = tiles.find(_.loc.toSeq == t.loc.toSeq).get
        assert(t.data.toSeq == orig.data.toSeq, t.loc.toSeq)
      }
    }
  }

  test("zarr read and write tasks carry no Hadoop conf") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerStageSubmitted}
    import org.apache.spark.storage.BroadcastBlockId
    val sc = spark.sparkContext
    // the bytes of the action's task binaries (RDD + closure, which every
    // task deserializes): the scheduler broadcasts a stage's binary right
    // after posting its submission, so it is the first broadcast made after
    // that event; broadcasts older than `mark` that the block manager
    // reports again do not count
    def taskBinaryBytes(action: => Unit): Long = {
      val mark = { val m = sc.broadcast(0); m.destroy(); m.id }
      val events = new java.util.concurrent.ConcurrentLinkedQueue[Option[(Long, Long)]]()
      val listener = new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = events.add(None)
        override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
          e.blockUpdatedInfo.blockId match {
            case BroadcastBlockId(id, field) if id > mark && field.startsWith("piece") =>
              val b = e.blockUpdatedInfo
              events.add(Some((id, b.memSize + b.diskSize)))
            case _ =>
          }
      }
      sc.addSparkListener(listener)
      try { action; org.apache.spark.ListenerDrain.drain(sc) }
      finally sc.removeSparkListener(listener)
      var seen = Set.empty[Long]
      var binaries = Set.empty[Long]
      var submitted = false
      var bytes = 0L
      events.forEach {
        case None => submitted = true
        case Some((id, size)) =>
          if (submitted && !seen(id)) { binaries += id; submitted = false }
          if (binaries(id) && size > 0) bytes += size
          seen += id
      }
      assert(binaries.nonEmpty, "the action submitted no stage")
      bytes
    }
    val spec = GridSpec(Array(5L, 7L), Array(3, 4))
    val tiles = spark.createDataset(sampleTiles(spec))
    val src = tmpUri("zarr_conf_src")
    ZarrIO.write(tiles, spec, src, "<u2", "zlib")
    def measure(): Seq[Long] = Seq(
      taskBinaryBytes { ZarrIO.read(spark, src).collect(); () },
      taskBinaryBytes(ZarrIO.write(tiles, spec, tmpUri("zarr_conf_dst"), "<u2", "zlib")),
      taskBinaryBytes { spark.read.format("zarr").load(src).collect(); () },
      taskBinaryBytes(spark.read.format("zarr").load(src).write.format("zarr")
        .option("shape", "5,7").option("chunks", "3,4").option("dtype", "<u2")
        .mode("overwrite").save(tmpUri("zarr_conf_dsv2"))))
    val paths = Seq("read", "write", "DSv2 read", "DSv2 write")

    val base = measure()
    val hc = sc.hadoopConfiguration
    val rnd = new scala.util.Random(3)
    val keys = (0 until 1000).map(i => f"graft.test.conf.pad.$i%04d")
    try {
      // 100 random characters each: ~100 KB that compression cannot hide
      keys.foreach(k => hc.set(k, rnd.alphanumeric.take(100).mkString))
      val padded = measure()
      paths.indices.foreach { i =>
        assert(padded(i) - base(i) < 10000L,
          s"${paths(i)} task binaries ${base(i)} -> ${padded(i)} bytes")
      }
    } finally keys.foreach(hc.unset)
  }
}
