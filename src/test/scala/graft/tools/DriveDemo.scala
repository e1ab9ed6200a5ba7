package graft.tools

import org.apache.spark.sql.SparkSession
import graft._
import graft.ops._
import graft.tiles._

/** Manual end-to-end drive of the public API (not a ScalaTest suite):
  * `sbt "Test/runMain graft.tools.DriveDemo"`.
  */
object DriveDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // probe 8 reads events.parquet (nanosecond timestamps)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val in = Goldens.tiles(spark, "input_2d", Goldens.grid2d)
    val labels = Relabel.image2labels(in, GridSpec(Array(16L, 12L), Array(4, 4)),
      CCLSegmentation(), Array(2, 2), 0.25)
    val tiles = labels.collect().sortBy(t => (t.loc(0), t.loc(1)))
    val img = Array.ofDim[Long](16, 12)
    for (t <- tiles; y <- 0 until t.shape(0); x <- 0 until t.shape(1))
      img(t.loc(0) * 4 + y)(t.loc(1) * 4 + x) = t.data(y * t.shape(1) + x)
    println("GLOBAL LABELED IMAGE (16x12):")
    img.foreach(r => println(r.map(v => f"$v%11d").mkString(" ")))
    val sorted = Relabel.sortLabelIndices(labels).collect()
    println("distinct labels after sort: " +
      sorted.flatMap(_.data).distinct.sorted.mkString(","))

    // probe 1: single-tile grid (no neighbors)
    val one = spark.createDataset(Seq(Tile(Array(0, 0), Array(1, 1), Array(4, 4),
      Array[Long](1, 1, 0, 0, 1, 1, 0, 0, 0, 0, 0, 1, 0, 0, 0, 1))))
    val oneOut = Relabel.image2labels(one, GridSpec(Array(4L, 4L), Array(4, 4)),
      CCLSegmentation(), Array(2, 2), 0.25).collect()
    println("PROBE single-tile: shape=" + oneOut.head.shape.mkString("x") +
      " labels=" + oneOut.head.data.mkString(","))

    // probe 2: ragged 5x7 image over 4x4 chunks (pad + crop path)
    val ragged = Seq(
      Tile(Array(0, 0), Array(2, 2), Array(4, 4), Array.fill(16)(1L)),
      Tile(Array(0, 1), Array(2, 2), Array(4, 3), Array.fill(12)(1L)),
      Tile(Array(1, 0), Array(2, 2), Array(1, 4), Array.fill(4)(0L)),
      Tile(Array(1, 1), Array(2, 2), Array(1, 3), Array.fill(3)(1L)))
    val rout = Relabel.image2labels(spark.createDataset(ragged),
      GridSpec(Array(5L, 7L), Array(4, 4)), CCLSegmentation(), Array(2, 2), 0.25)
      .collect().sortBy(t => (t.loc(0), t.loc(1)))
    println("PROBE ragged shapes: " +
      rout.map(t => t.loc.mkString(",") + "->" + t.shape.mkString("x")).mkString(" | "))
    val rimg = Array.ofDim[Long](5, 7)
    for (t <- rout; y <- 0 until t.shape(0); x <- 0 until t.shape(1))
      rimg(t.loc(0) * 4 + y)(t.loc(1) * 4 + x) = t.data(y * t.shape(1) + x)
    println("ragged labeled image:")
    rimg.foreach(r => println(r.map(v => f"$v%11d").mkString(" ")))

    // probe 3: audio codec round-trip (RIFF/WAV via javax.sound.sampled)
    for (seed <- Seq(3L, 4L)) {
      val wav = graft.mm.AudioCodec.synthWav(seed)
      val pcm = graft.mm.AudioCodec.decode(wav)
      val half = graft.mm.AudioCodec.decode(
        graft.mm.AudioCodec.encode(graft.mm.AudioCodec.decimate(pcm, 2)))
      println(s"PROBE audio seed=$seed: wav=${wav.length}B ch=${pcm.channels} " +
        s"frames=${pcm.frames} sum=${pcm.data.map(_.toLong).sum} " +
        s"halfFrames=${half.frames} halfSum=${half.data.map(_.toLong).sum}")
    }

    // probe 4: A/V mux container (tagged segments -> both codecs)
    val muxSegs = graft.mm.MuxCodec.demux(graft.mm.MuxCodec.synthMux(6L)).toSeq
    println("PROBE mux seed=6: " + muxSegs.map { case (k, kind, payload) =>
      s"$k:${if (kind == graft.mm.MuxCodec.KindVideo) "v" else "a"}:${payload.length}B"
    }.mkString(" "))

    // probe 5: DSv2 zarr scan with pushdown over a store written here
    val zdir = graft.TempDirs.create("graft_demo_zarr")
    graft.sources.ZarrIO.write(labels, GridSpec(Array(16L, 12L), Array(4, 4)),
      zdir, "<i8", "zlib")
    val zdf = spark.read.format("zarr").load(zdir)
      .filter(org.apache.spark.sql.functions.col("g0") === 1)
    println("PROBE dsv2: partitions=" + zdf.rdd.getNumPartitions +
      " rows=" + zdf.count() +
      " nonzero=" + zdf.filter("value != 0").count())
    // round-5 DSv2 surface: metadata-only aggregates (complete + grouped
    // pushdown), limit pushdown, and the vectorized-vs-row agreement
    import org.apache.spark.sql.functions._
    val all = spark.read.format("zarr").load(zdir)
    graft.sources.zarr.ZarrTableProvider.payloadReads.set(0)
    val metaCount = all.agg(count(lit(1))).collect()(0).getLong(0)
    val grouped = all.groupBy("g0").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    println("PROBE dsv2-agg: count=" + metaCount +
      " groups=" + grouped.toSeq.sorted.mkString(",") +
      " payloadReads=" +
      graft.sources.zarr.ZarrTableProvider.payloadReads.get())
    val limited = all.limit(3).agg(count(lit(1)), sum("value")).collect()(0)
    val vecSum = all.agg(sum("value")).collect()(0).getLong(0)
    val rowSum = spark.read.format("zarr").option("vectorized", "false")
      .load(zdir).agg(sum("value")).collect()(0).getLong(0)
    println("PROBE dsv2-limit/vec: limit3=" + limited.getLong(0) +
      " vecSum=" + vecSum + " rowSum=" + rowSum +
      " agree=" + (vecSum == rowSum))
    // probe 6: sharded zarr v3 store — 2x2 inners per shard object, CRC'd
    // trailing index, pruned ranged read of a single inner chunk
    val sdir = graft.TempDirs.create("graft_demo_shard")
    graft.sources.Zarr3IO.writeSharded(labels,
      GridSpec(Array(16L, 12L), Array(4, 4)), Array(8, 8), sdir, "int64")
    val shardFiles = new java.io.File(sdir, "c").listFiles()
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .count(!_.getName.startsWith("."))
    val sAll = graft.sources.Zarr3IO.read(spark, sdir).collect()
    val sOne = graft.sources.Zarr3IO.read(spark, sdir,
      loc => loc(0) == 2 && loc(1) == 1).collect()
    println("PROBE sharded: shardObjects=" + shardFiles +
      " tiles=" + sAll.length +
      " sum=" + sAll.map(_.data.sum).sum +
      " prunedTiles=" + sOne.length +
      " prunedSum=" + sOne.map(_.data.sum).sum)
    // ... and the same sharded store through the DSv2 relational scan:
    // pruned partitions = inner chunks in the box, sum agrees with probe 5
    val sdf = spark.read.format("zarr").load(sdir)
    val sPruned = sdf.filter(org.apache.spark.sql.functions.col("g0") === 2)
    println("PROBE sharded-dsv2: sum=" +
      sdf.agg(sum("value")).collect()(0).getLong(0) +
      " prunedPartitions=" + sPruned.rdd.getNumPartitions +
      " prunedRows=" + sPruned.count())

    // probe 7: the LLM-pipeline surface end-to-end on real testdata —
    // tokenizer training, the one-query curation pipeline, and both index
    // evaluations (what a user of the curation side actually runs)
    val sf = "/root/testdata/sf0.001"
    val merges = graft.SparkEntry.queries("tx_bpe_train")(spark, sf)
      .orderBy("round").collect()
    println("BPE merges: " + merges.map(r =>
      s"${r.getString(1)}+${r.getString(2)}(${r.getLong(3)})").mkString(" "))
    val verdicts = graft.SparkEntry.queries("tx_curate_full")(spark, sf)
      .groupBy("verdict").count().orderBy("verdict").collect()
    println("curation verdicts: " + verdicts.map(r =>
      s"${r.getString(0)}=${r.getLong(1)}").mkString(" "))
    val lsh = graft.SparkEntry.queries("dd_lsh_recall")(spark, sf).collect()(0)
    println(s"LSH recall: ${lsh.getLong(1)}/${lsh.getLong(0)} caught, " +
      s"${lsh.getLong(2)} candidates")
    val rec = graft.SparkEntry.queries("ann_recall_probe2")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("hits")).collect()(0).getLong(0)
    println(s"ANN probe-2 total hits: $rec")

    // probe 8: the analytics/selection surface added in session 3 —
    // funnel stages, peak concurrency, graph hops/cores, weighted sample
    val funnel = graft.SparkEntry.queries("q26_funnel")(spark, sf)
      .groupBy("reached").count().orderBy("reached").collect()
    println("funnel stages: " + funnel.map(r =>
      s"${r.getInt(0)}=${r.getLong(1)}").mkString(" "))
    val conc = graft.SparkEntry.queries("rj_concurrency")(spark, sf)
      .agg(org.apache.spark.sql.functions.max("peak"),
        org.apache.spark.sql.functions.avg("peak")).collect()(0)
    println(f"concurrency: maxPeak=${conc.getLong(0)} avgPeak=${conc.getDouble(1)}%.2f")
    val hops = graft.SparkEntry.queries("gr_bfs")(spark, sf)
      .groupBy("hop").count().orderBy("hop").collect()
    println("bfs hops: " + hops.map(r =>
      s"${r.getLong(0)}=${r.getLong(1)}").mkString(" "))
    println("kcore survivors: " +
      graft.SparkEntry.queries("gr_kcore")(spark, sf).count())
    val samp = graft.SparkEntry.queries("tx_weighted_sample")(spark, sf)
    println("weighted sample: " + samp.count() + " docs over " +
      samp.select("source").distinct().count() + " sources")
    spark.stop()
  }
}
// (annotation drive appended as a second main)
object DriveGeoJson {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val in = graft.Goldens.tiles(spark, "input_2d", graft.Goldens.grid2d)
    val ann = graft.ops.Relabel.image2geojson(in,
      graft.tiles.GridSpec(Array(16L, 12L), Array(4, 4)),
      graft.ops.CCLSegmentation(), Array(2, 2), threshold = 0.25)
    val out = java.nio.file.Paths.get(graft.TempDirs.create("drive")).resolve("ann.zip")
    graft.geojson.Annotate.zipAnnotations(ann, out)
    println("ZIP: " + out + " size=" + java.nio.file.Files.size(out))
    val zf = new java.util.zip.ZipFile(out.toFile)
    import scala.jdk.CollectionConverters._
    zf.entries().asScala.foreach { e =>
      println(e.getName + ": " +
        new String(zf.getInputStream(e).readAllBytes()).take(120))
    }
    zf.close()
    spark.stop()
  }
}
object DriveTileIO {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tiles = graft.Goldens.tiles(spark, "rem_2d", graft.Goldens.grid2d)
    val dir = graft.TempDirs.create("drive-tileio")
    graft.sources.TileIO.write(tiles, dir, coarsePartitions = 3)
    println("WROTE: " + new java.io.File(dir).listFiles().map(_.getName).sorted.mkString(", "))
    val box = graft.sources.TileIO.readBox(spark, dir, Array(0, 0), Array(1, 1)).collect()
    println("READBOX tiles: " + box.map(_.loc.mkString("/")).sorted.mkString(" "))
    println("nonzero labels in box: " + box.flatMap(_.data).count(_ != 0))

    // PROBE O8 labels2geojson: pre-labeled 8x8 image, 2x2 grid of 4x4
    // chunks, one 3x3 object (rows 1-3, cols 2-4) straddling the vertical
    // boundary: tile (0,0) holds 6/9 pixels in its core (p=0.67, kept);
    // tile (0,1) holds exactly half (p=0.5) and its odd-gx parity removes
    // it — exactly one feature comes out, from the owning tile
    val coreTiles = {
      import spark.implicits._
      val lab = for (gy <- 0 until 2; gx <- 0 until 2) yield {
        val data = Array.tabulate(16) { i =>
          val (y, x) = (gy * 4 + i / 4, gx * 4 + i % 4)
          if (y >= 1 && y <= 3 && x >= 2 && x <= 4) 7L else 0L
        }
        graft.tiles.Tile(Array(gy, gx), Array(2, 2), Array(4, 4), data)
      }
      spark.createDataset(lab)
    }
    val ann = graft.ops.Relabel.labels2geojson(coreTiles,
      graft.tiles.GridSpec(Array(8L, 8L), Array(4, 4)), Array(1, 1))
      .collect().filter(_.geojson != null).sortBy(_.locKey)
    println("O8 PROBE tiles-with-features: " + ann.map(_.locKey).mkString(" "))
    ann.foreach(a => println(s"  ${a.locKey}: ${a.geojson}"))

    // PROBE zarr v3 roundtrip through the library surface (core tiles fit
    // the 4x4 chunk grid; the golden `rem_2d` tiles above are overlapped
    // and would not)
    val z3 = graft.TempDirs.create("drive_zarr3")
    graft.sources.Zarr3IO.write(coreTiles,
      graft.tiles.GridSpec(Array(8L, 8L), Array(4, 4)), z3, "int64", gzip = true)
    val back = graft.sources.Zarr3IO.read(spark, z3).collect()
    println("ZARR3 roundtrip tiles: " + back.map(_.loc.mkString("/")).sorted.mkString(" ")
      + " nonzero: " + back.flatMap(_.data).count(_ != 0))
    spark.stop()
  }
}
object DriveU16 {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // a 16-bit gradient image with two bright blobs
    val tiles = for (gy <- 0 until 2; gx <- 0 until 2) yield {
      val data = Array.tabulate(16) { i =>
        val (y, x) = (gy * 4 + i / 4, gx * 4 + i % 4)
        if ((y - 1) * (y - 1) + (x - 1) * (x - 1) <= 1) 40000L
        else if ((y - 6) * (y - 6) + (x - 6) * (x - 6) <= 1) 50000L else 0L
      }
      graft.tiles.Tile(Array(gy, gx), Array(2, 2), Array(4, 4), data)
    }
    val out = graft.ops.Relabel.image2labels(spark.createDataset(tiles),
      graft.tiles.GridSpec(Array(8L, 8L), Array(4, 4)),
      graft.ops.CCLSegmentation(), Array(2, 2), 0.25).collect()
      .sortBy(t => (t.loc(0), t.loc(1)))
    val img = Array.ofDim[Long](8, 8)
    for (t <- out; y <- 0 until 4; x <- 0 until 4)
      img(t.loc(0) * 4 + y)(t.loc(1) * 4 + x) = t.data(y * 4 + x)
    println("U16 LABELED:")
    img.foreach(r => println(r.map(v => f"$v%11d").mkString(" ")))
    spark.stop()
  }
}
object DriveEntry {
  def main(args: Array[String]): Unit = {
    // mimics the driver's smoke check: plain session, entry(), rows > 0
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    println("ENTRY rows=" + df.count() + " schema=" + df.schema.simpleString)
    spark.stop()
  }
}
