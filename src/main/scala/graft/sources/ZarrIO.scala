package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, DeflaterOutputStream, GZIPInputStream, GZIPOutputStream, InflaterInputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.Nd
import graft.tiles.{GridSpec, Tile}

/** Zarr v2 chunk-store source/sink for tile tables.
  *
  * The reference suggests zarr for pipeline intermediates
  * (`relabeling.py:319-322` docstring); this implements the published zarr
  * v2 on-disk layout directly — a `.zarray` JSON descriptor next to one
  * file per chunk named by its grid indices — with no third-party
  * dependency (JSON via the Jackson shipped inside Spark, compression via
  * `java.util.zip`). The chunk key format, the listing, the tile extents
  * and the shard-index entry rule live in [[ZarrLayout]], the one home of
  * the store layout; this object holds the v2 metadata, the element codec
  * shared with [[Zarr3IO]], and the one dense-frame tile reader every
  * layout goes through ([[readPruned]]), so [[read]], [[readPresent]] and
  * [[readBox]] take a v2, v3 or sharded v3 store alike.
  *
  * Scale notes: the store is listed on the driver (names only — O(chunks)
  * strings, no data), and chunk payloads are read/written entirely on
  * executors, one file per task batch. [[readBox]] prunes the chunk list
  * to a coordinate box BEFORE any file is opened — the zarr analog of
  * parquet partition pruning, and the access pattern that matters when the
  * store is 100 TB on object storage and the query wants one region. All
  * byte I/O goes through [[StoreIO]] (Hadoop `FileSystem`), so that object
  * store can actually be addressed: `s3a://bucket/store` works wherever a
  * local path does.
  *
  * Supported dtypes: `|u1`, `<u2`, `<i4`, `<i8` (the reference's uint8/16
  * inputs and int32/64 label spaces, SURVEY.md §1.2). Compressors: zarr's
  * `zlib` and `gzip` codecs or none (`blosc` needs a native library that a
  * plain JVM cluster cannot assume). Chunks are stored full-size in C
  * order, edge chunks padded with `fill_value` — both per the v2 spec.
  */
// Serializable: stateless codec object; executor closures reference its
// lifted local helpers (tilesOf), which captures the singleton itself.
object ZarrIO extends Serializable {

  final case class Meta(
      shape: Array[Long],
      chunks: Array[Int],
      dtype: String,
      compressor: String, // "zlib" | "gzip" | "" (= null/raw)
      fillValue: Long,
      separator: String) {
    def dims: Int = shape.length
    def spec: GridSpec = GridSpec(shape, chunks)
  }

  private val WIDTHS = Map("|u1" -> 1, "<u2" -> 2, "<i4" -> 4, "<i8" -> 8)

  // ------------------------------------------------------------- metadata

  def readMeta(dir: String): Meta = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(StoreIO.readAllBytes(StoreIO.hadoopConf,
      new Path(dir, ".zarray").toString))
    require(root.path("zarr_format").asInt() == 2,
      s"unsupported zarr_format ${root.path("zarr_format")}")
    require(root.path("order").asText("C") == "C", "only C-order zarr supported")
    require(root.path("filters").isNull || root.path("filters").isMissingNode,
      "zarr filters not supported")
    val shape = {
      val n = root.path("shape")
      Array.tabulate(n.size())(i => n.get(i).asLong())
    }
    val chunks = {
      val n = root.path("chunks")
      Array.tabulate(n.size())(i => n.get(i).asInt())
    }
    val dtype = root.path("dtype").asText()
    require(WIDTHS.contains(dtype), s"unsupported zarr dtype $dtype")
    val comp = root.path("compressor")
    val compressor =
      if (comp.isNull || comp.isMissingNode) ""
      else comp.path("id").asText() match {
        case c @ ("zlib" | "gzip") => c
        case c => throw new IllegalArgumentException(s"unsupported compressor $c")
      }
    val fill = if (root.path("fill_value").isNull) 0L else root.path("fill_value").asLong()
    Meta(shape, chunks, dtype, compressor,
      fill, root.path("dimension_separator").asText("."))
  }

  private[sources] def writeMeta(dir: String, meta: Meta): Unit = {
    val comp =
      if (meta.compressor.isEmpty) "null"
      else if (meta.compressor == "zlib") """{"id": "zlib", "level": 1}"""
      else s"""{"id": "${meta.compressor}"}"""
    val json =
      s"""{
         |  "zarr_format": 2,
         |  "shape": [${meta.shape.mkString(", ")}],
         |  "chunks": [${meta.chunks.mkString(", ")}],
         |  "dtype": "${meta.dtype}",
         |  "compressor": $comp,
         |  "fill_value": ${meta.fillValue},
         |  "order": "C",
         |  "filters": null,
         |  "dimension_separator": "${meta.separator}"
         |}""".stripMargin
    StoreIO.write(StoreIO.hadoopConf, new Path(dir, ".zarray").toString,
      json.getBytes(StandardCharsets.UTF_8))
  }

  // ---------------------------------------------------------- chunk codec

  /** Decode one stored chunk (full chunk-size, C order) into the exact-extent
    * tile payload for chunk `loc` — edge padding is dropped here, so the
    * Tile rows match what [[graft.sources.TileIO.fromPixels]] builds.
    */
  private[graft] def decodeChunk(raw: Array[Byte], meta: Meta,
      loc: Array[Int], tileShape: Array[Int]): Array[Long] = {
    val bytes = meta.compressor match {
      case ""     => raw
      case "zlib" => drain(new InflaterInputStream(new java.io.ByteArrayInputStream(raw)))
      case "gzip" => drain(new GZIPInputStream(new java.io.ByteArrayInputStream(raw)))
    }
    val w = WIDTHS(meta.dtype)
    require(bytes.length == meta.chunks.product.toLong * w,
      s"chunk ${loc.mkString(",")}: ${bytes.length} bytes, " +
        s"expected ${meta.chunks.product.toLong * w}")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Long](tileShape.product)
    var o = 0
    // the tile's rows inside the chunk (the tile sits at the chunk's
    // origin), one dtype dispatch per row
    Nd.foreachRun(meta.chunks, Nd.fullBox(tileShape)) { (from, n) =>
      var i = from
      var k = o
      val end = from + n
      meta.dtype match {
        case "|u1" => while (i < end) { out(k) = bytes(i) & 0xffL; i += 1; k += 1 }
        case "<u2" => while (i < end) { out(k) = bb.getShort(i * 2) & 0xffffL; i += 1; k += 1 }
        case "<i4" => while (i < end) { out(k) = bb.getInt(i * 4).toLong; i += 1; k += 1 }
        case "<i8" =>
          bb.slice(from * 8, n * 8).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out, o, n)
      }
      o += n
    }
    out
  }

  /** The failure of a value that `dtype` cannot hold, worded as `require`. */
  private def outOfRange(v: Long, dtype: String): Nothing =
    throw new IllegalArgumentException(s"requirement failed: value $v out of $dtype range")

  /** Encode one tile payload as a full-size stored chunk (fill-padded). */
  private[graft] def encodeChunk(data: Array[Long], meta: Meta,
      tileShape: Array[Int]): Array[Byte] = {
    val w = WIDTHS(meta.dtype)
    val chunkElems = meta.chunks.product
    val bytes = new Array[Byte](chunkElems * w)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // writes data(o until o + n) at chunk elements from until from + n,
    // range-checking each value; one dtype dispatch per call
    def put(src: Array[Long], o: Int, from: Int, n: Int): Unit = {
      var i = from
      var k = o
      val end = from + n
      meta.dtype match {
        case "|u1" => while (i < end) {
          val v = src(k)
          if (v < 0 || v > 0xffL) outOfRange(v, "|u1")
          bytes(i) = v.toByte; i += 1; k += 1
        }
        case "<u2" => while (i < end) {
          val v = src(k)
          if (v < 0 || v > 0xffffL) outOfRange(v, "<u2")
          bb.putShort(i * 2, v.toShort); i += 1; k += 1
        }
        case "<i4" => while (i < end) {
          val v = src(k)
          if (v < Int.MinValue || v > Int.MaxValue) outOfRange(v, "<i4")
          bb.putInt(i * 4, v.toInt); i += 1; k += 1
        }
        case "<i8" =>
          bb.slice(from * 8, n * 8).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().put(src, o, n)
      }
    }
    if (meta.fillValue != 0L && chunkElems > 0) {
      // range-check and write the fill once, then double the filled prefix
      put(Array(meta.fillValue), 0, 0, 1)
      var filled = w
      while (filled < bytes.length) {
        val n = math.min(filled, bytes.length - filled)
        System.arraycopy(bytes, 0, bytes, filled, n)
        filled += n
      }
    }
    var o = 0
    Nd.foreachRun(meta.chunks, Nd.fullBox(tileShape)) { (from, n) => put(data, o, from, n); o += n }
    meta.compressor match {
      case "" => bytes
      case "zlib" =>
        val bos = new ByteArrayOutputStream()
        val dos = new DeflaterOutputStream(bos, new Deflater(1))
        dos.write(bytes); dos.close(); bos.toByteArray
      case "gzip" =>
        val bos = new ByteArrayOutputStream()
        // level 1 to match what the v3 zarr.json declares for its gzip
        // codec (GZIPOutputStream would otherwise silently use level 6);
        // `def` is DeflaterOutputStream's protected Deflater field
        val gos = new GZIPOutputStream(bos) { `def`.setLevel(Deflater.BEST_SPEED) }
        gos.write(bytes); gos.close(); bos.toByteArray
    }
  }

  private def drain(in: java.io.InputStream): Array[Byte] =
    try {
      val bos = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()

  // ------------------------------------------------------------ read path

  // The readers below take a store of any layout (v2, v3, sharded v3):
  // the format is detected from the metadata.

  /** Read the whole store as a tile table. */
  def read(spark: SparkSession, dir: String): Dataset[Tile] =
    readPruned(spark, dir, ZarrLayout.of(dir), _ => true)

  /** Sparse read: only the chunks that exist as objects — no fill-tile
    * synthesis for absent grid cells. For a mostly-empty store this keeps
    * the driver work AND the job size O(present chunks) instead of
    * O(nominal grid); use it when downstream logic treats absence as
    * absence (e.g. compaction, GC, re-sharding) rather than as the dense
    * fill_value frame a pipeline read expects.
    */
  def readPresent(spark: SparkSession, dir: String): Dataset[Tile] =
    readPruned(spark, dir, ZarrLayout.of(dir), _ => true, includeFill = false)

  /** Read only the chunks whose grid coordinates fall in `[lo, hi]`
    * (inclusive) — chunk-level pruning before any payload I/O.
    */
  def readBox(spark: SparkSession, dir: String,
      lo: Array[Int], hi: Array[Int]): Dataset[Tile] =
    readPruned(spark, dir, ZarrLayout.of(dir),
      loc => loc.indices.forall(a => loc(a) >= lo(a) && loc(a) <= hi(a)))

  /** The tile reader of every layout (v2, v3, sharded v3): the tiles whose
    * grid coordinates satisfy `keep`. Pruning happens before any payload is
    * opened: whole objects on the listing, then, inside a present shard,
    * per-inner byte ranges via its index.
    *
    * Zarr semantics: an object that does not exist, and an ABSENT index
    * entry inside a present shard, still READ as fill_value — the dense
    * tile dataset is the dask-array frame the reference pipelines over
    * (cf. relabeling.py reading any zarr region). Driver-side cost is
    * O(present objects) in both modes: the dense path never materializes
    * the nominal grid — executors decode their own row-major range of the
    * object grid and check presence in a broadcast set. `includeFill =
    * false` skips absent tiles and parallelizes the listing itself.
    *
    * The dense range has as many slices as a halo exchange over its
    * objects has partitions ([[graft.ops.Halo.partitions]]), and Spark
    * splits a range the way [[graft.ops.Halo]] places chunks, so on an
    * unsharded store every tile of the read is already in the partition
    * O1 would send it to: O1 ships its margins only.
    */
  private[sources] def readPruned(spark: SparkSession, dir: String,
      layout: ZarrLayout, keep: Array[Int] => Boolean,
      includeFill: Boolean = true): Dataset[Tile] = {
    import spark.implicits._
    val present = layout.listChunkLocs(dir).map(_.mkString(",")).toSet
    val grid = layout.grid
    val fill = layout.meta.fillValue
    val sconf = StoreIO.broadcastConf(spark)
    val par = spark.sparkContext.defaultParallelism

    def tilesOf(obj: Array[Int], isPresent: Boolean): Seq[Tile] = {
      val locs = layout.tilesOf(obj).filter(keep)
      val raws =
        if (locs.isEmpty || !isPresent) locs.map(_ => None)
        else layout.readObject(sconf.value.value, dir, obj, locs)
      locs.zip(raws).flatMap { case (loc, raw) =>
        val shape = layout.tileShape(loc)
        raw match {
          case Some(bytes) =>
            Some(Tile(loc, grid.clone(), shape, decodeChunk(bytes, layout.meta, loc, shape)))
          case None if includeFill =>
            Some(Tile(loc, grid.clone(), shape, Array.fill(shape.product)(fill)))
          case None => None
        }
      }
    }

    if (!includeFill) {
      val objs = present.toSeq.sorted.map(_.split(',').map(_.toInt))
        .filter(layout.tilesOf(_).exists(keep)).map(_.toSeq)
      spark.createDataset(objs)
        .repartition(math.max(1, math.min(objs.size, par)))
        .flatMap(o => tilesOf(o.toArray, isPresent = true))
    } else {
      val objGrid = layout.objectGrid
      val total = objGrid.foldLeft(1L)(_ * _)
      val presentB = spark.sparkContext.broadcast(present)
      spark.range(0L, total, 1L, graft.ops.Halo.partitions(spark, total))
        .flatMap { i =>
          val obj = locOfIndex(i, objGrid)
          tilesOf(obj, presentB.value.contains(obj.mkString(",")))
        }
    }
  }

  /** Row-major decode of a flat grid index into grid coordinates. */
  private[sources] def locOfIndex(i: Long, grid: Array[Int]): Array[Int] = {
    val loc = new Array[Int](grid.length)
    var rem = i
    var a = grid.length - 1
    while (a >= 0) { loc(a) = (rem % grid(a)).toInt; rem /= grid(a); a -= 1 }
    loc
  }

  // ----------------------------------------------------------- write path

  /** Write a tile table as a zarr store. Executors write their own chunk
    * files (the driver only writes the 200-byte `.zarray`), so the sink
    * scales with the cluster exactly like the geojson sink — no tile
    * payload ever moves to the driver.
    */
  def write(tiles: Dataset[Tile], spec: GridSpec, dir: String,
      dtype: String = "<i8", compressor: String = "zlib",
      fillValue: Long = 0L): Unit =
    ZarrLayout(Meta(spec.imageShape.clone(), spec.chunk.clone(), dtype,
      compressor, fillValue, "."), v3 = false).write(tiles, dir)
}
