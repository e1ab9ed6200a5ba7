package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.tiles.{GridSpec, Tile}

/** Zarr v3 store source/sink, alongside the v2 implementation in
  * [[ZarrIO]] — the published v3 core layout: a `zarr.json` descriptor
  * (`zarr_format: 3`, `node_type: "array"`, regular chunk grid, default
  * chunk-key encoding) and chunk files under the `c` prefix
  * (`c/1/2` with the default `/` separator), optionally packed into
  * `sharding_indexed` shard objects. The wire format of a chunk is the v3
  * codec chain: `bytes` (little-endian) optionally followed by `gzip` —
  * structurally the same full-size C-order fill-padded buffer as v2, so the
  * element codec is shared with [[ZarrIO]] via an internal dtype mapping.
  *
  * This object reads and writes the v3 metadata; [[Meta3.layout]] turns it
  * into the [[ZarrLayout]] that is the one home of the key format, the
  * listing, the tile extents and the shard-index entry rule, and reads and
  * writes go through the same reader and writer as v2.
  */
object Zarr3IO {

  /** v3 data_type -> v2 dtype string understood by the shared chunk codec. */
  private val DTYPES = Map(
    "uint8" -> "|u1", "uint16" -> "<u2", "int32" -> "<i4", "int64" -> "<i8")

  /** Reverse mapping for layout inheritance in the DSv2 write path. */
  private[sources] def v3NameOf(v2dtype: String): String =
    DTYPES.collectFirst { case (n, d) if d == v2dtype => n }.getOrElse(
      throw new IllegalArgumentException(
        s"v2 dtype $v2dtype has no zarr v3 data_type equivalent"))

  private[sources] def isV3Name(n: String): Boolean = DTYPES.contains(n)

  /** `sharding_indexed` codec configuration as `zarr.json` states it: the
    * inner chunk shape and where and how the shard index is stored. The
    * shard <-> inner mapping, the index codec and its entry rule live in
    * [[ZarrLayout.Sharding]].
    */
  final case class Shard3(
      inner: Array[Int],
      indexAtEnd: Boolean,
      indexCrc: Boolean)

  final case class Meta3(
      shape: Array[Long],
      chunks: Array[Int],
      dataType: String,  // v3 name, e.g. "uint16"
      gzip: Boolean,     // element codec chain (the INNER chain when sharded)
      fillValue: Long,
      separator: String,
      sharding: Option[Shard3] = None) {
    def dims: Int = shape.length
    def spec: GridSpec = GridSpec(shape, chunks)
    /** The store layout: the shared element codec at tile (inner-chunk)
      * granularity, plus the shard facts when sharded.
      */
    private[sources] def layout: ZarrLayout = ZarrLayout(
      ZarrIO.Meta(shape, sharding.fold(chunks)(_.inner), DTYPES(dataType),
        if (gzip) "gzip" else "", fillValue, separator),
      v3 = true,
      sharding.map(sh => ZarrLayout.Sharding(
        Array.tabulate(dims)(a => chunks(a) / sh.inner(a)),
        sh.indexAtEnd, sh.indexCrc)))
  }

  // ------------------------------------------------------------- metadata

  def readMeta(dir: String): Meta3 = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(StoreIO.readAllBytes(StoreIO.hadoopConf,
      new Path(dir, "zarr.json").toString))
    require(root.path("zarr_format").asInt() == 3,
      s"unsupported zarr_format ${root.path("zarr_format")}")
    require(root.path("node_type").asText() == "array",
      s"expected an array node, got ${root.path("node_type")}")
    val shape = {
      val n = root.path("shape")
      Array.tabulate(n.size())(i => n.get(i).asLong())
    }
    val grid = root.path("chunk_grid")
    require(grid.path("name").asText() == "regular",
      s"unsupported chunk grid ${grid.path("name")}")
    val cs = grid.path("configuration").path("chunk_shape")
    val chunks = Array.tabulate(cs.size())(i => cs.get(i).asInt())
    val dataType = root.path("data_type").asText()
    require(DTYPES.contains(dataType), s"unsupported v3 data_type $dataType")
    val cke = root.path("chunk_key_encoding")
    require(cke.isMissingNode || cke.path("name").asText("default") == "default",
      s"unsupported chunk_key_encoding ${cke.path("name")}")
    val sep = cke.path("configuration").path("separator").asText("/")
    val fill = if (root.path("fill_value").isNull) 0L
               else root.path("fill_value").asLong()
    // codec chain: `bytes` (little endian) optionally + `gzip`, or a single
    // `sharding_indexed` whose inner chain is bytes(+gzip)
    val codecs = root.path("codecs")
    val names = (0 until codecs.size()).map(i => codecs.get(i).path("name").asText())
    if (names.headOption.contains("sharding_indexed")) {
      require(names.size == 1,
        s"sharding_indexed must be the whole chain, got $names")
      val cfg = codecs.get(0).path("configuration")
      val is = cfg.path("chunk_shape")
      val inner = Array.tabulate(is.size())(i => is.get(i).asInt())
      require(inner.length == chunks.length &&
        inner.indices.forall(a => inner(a) > 0 && chunks(a) % inner(a) == 0),
        s"inner chunk_shape ${inner.mkString(",")} must divide the shard " +
          s"shape ${chunks.mkString(",")}")
      requireBytesGzip(cfg.path("codecs"), "inner")
      val ic = cfg.path("index_codecs")
      val icNames = (0 until ic.size()).map(i => ic.get(i).path("name").asText())
      require(icNames.headOption.forall(_ == "bytes") &&
        icNames.drop(1).forall(_ == "crc32c"),
        s"unsupported index_codecs $icNames")
      val atEnd = cfg.path("index_location").asText("end") match {
        case "end"   => true
        case "start" => false
        case other   => throw new IllegalArgumentException(
          s"unsupported index_location $other")
      }
      Meta3(shape, chunks, dataType, gzipOf(cfg.path("codecs")), fill, sep,
        Some(Shard3(inner, atEnd, icNames.contains("crc32c"))))
    } else {
      requireBytesGzip(codecs, "array")
      Meta3(shape, chunks, dataType, gzipOf(codecs), fill, sep)
    }
  }

  /** Validate a bytes(+gzip) element chain (shared by the array-level and
    * the sharded inner chain).
    */
  private def requireBytesGzip(
      codecs: com.fasterxml.jackson.databind.JsonNode, where: String): Unit = {
    val names = (0 until codecs.size()).map(i => codecs.get(i).path("name").asText())
    require(names.headOption.contains("bytes"),
      s"$where codec chain must start with 'bytes', got $names")
    val endian = codecs.get(0).path("configuration").path("endian").asText("little")
    require(endian == "little", s"unsupported endian $endian")
    require(names.drop(1).forall(_ == "gzip"),
      s"unsupported $where codecs beyond bytes(+gzip): $names")
  }

  private def gzipOf(codecs: com.fasterxml.jackson.databind.JsonNode): Boolean =
    (0 until codecs.size()).exists(i => codecs.get(i).path("name").asText() == "gzip")

  private[sources] def writeMeta(dir: String, meta: Meta3): Unit = {
    val elemChain =
      if (meta.gzip)
        """[{"name": "bytes", "configuration": {"endian": "little"}},
          |    {"name": "gzip", "configuration": {"level": 1}}]""".stripMargin
      else """[{"name": "bytes", "configuration": {"endian": "little"}}]"""
    val codecs = meta.sharding match {
      case None => elemChain
      case Some(sh) =>
        val idxChain =
          if (sh.indexCrc)
            """[{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}]"""
          else """[{"name": "bytes", "configuration": {"endian": "little"}}]"""
        s"""[{
           |    "name": "sharding_indexed",
           |    "configuration": {
           |      "chunk_shape": [${sh.inner.mkString(", ")}],
           |      "codecs": $elemChain,
           |      "index_codecs": $idxChain,
           |      "index_location": "${if (sh.indexAtEnd) "end" else "start"}"
           |    }
           |  }]""".stripMargin
    }
    val json =
      s"""{
         |  "zarr_format": 3,
         |  "node_type": "array",
         |  "shape": [${meta.shape.mkString(", ")}],
         |  "data_type": "${meta.dataType}",
         |  "chunk_grid": {
         |    "name": "regular",
         |    "configuration": {"chunk_shape": [${meta.chunks.mkString(", ")}]}
         |  },
         |  "chunk_key_encoding": {
         |    "name": "default",
         |    "configuration": {"separator": "${meta.separator}"}
         |  },
         |  "fill_value": ${meta.fillValue},
         |  "codecs": $codecs
         |}""".stripMargin
    StoreIO.write(StoreIO.hadoopConf, new Path(dir, "zarr.json").toString,
      json.getBytes(StandardCharsets.UTF_8))
  }

  /** OME-NGFF-shaped v3 GROUP descriptor (ome/ngff 0.5 layout): node_type
    * "group" whose `attributes.ome.multiscales` names the level arrays —
    * child array nodes under `dir`, coarsest-last, each with the 2^level
    * coordinate scale. A zarr client opens the group, reads the datasets
    * list, then opens each level array by its path; this library reads
    * levels back through the DSv2 source the same way
    * (`spark.read.format("zarr").load(s"$dir/<path>")`).
    */
  def writeGroupMeta(dir: String, levels: Seq[String]): Unit = {
    val datasets = levels.zipWithIndex.map { case (p, i) =>
      s"""{"path": "$p", "coordinateTransformations": [
         |        {"type": "scale", "scale": [${1L << i}.0, ${1L << i}.0]}]}""".stripMargin
    }.mkString("[", ",\n      ", "]")
    val json =
      s"""{
         |  "zarr_format": 3,
         |  "node_type": "group",
         |  "attributes": {
         |    "ome": {
         |      "version": "0.5",
         |      "multiscales": [{
         |        "axes": [{"name": "y", "type": "space"},
         |                 {"name": "x", "type": "space"}],
         |        "datasets": $datasets
         |      }]
         |    }
         |  }
         |}""".stripMargin
    StoreIO.write(StoreIO.hadoopConf, new Path(dir, "zarr.json").toString,
      json.getBytes(StandardCharsets.UTF_8))
  }

  /** Level-array paths of a group written by [[writeGroupMeta]] (or any
    * OME-NGFF 0.5 group), in multiscales order.
    */
  def readGroupLevels(dir: String): Seq[String] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(StoreIO.readAllBytes(StoreIO.hadoopConf,
        new Path(dir, "zarr.json").toString))
    require(root.path("node_type").asText() == "group",
      s"expected a group node at $dir, got ${root.path("node_type")}")
    val ds = root.path("attributes").path("ome").path("multiscales")
      .path(0).path("datasets")
    (0 until ds.size()).map(i => ds.get(i).path("path").asText())
  }

  // ------------------------------------------------------------ read path

  def read(spark: SparkSession, dir: String): Dataset[Tile] =
    read(spark, dir, _ => true)

  /** Read chunks whose grid coordinates satisfy `keep` — pruning happens on
    * the driver's key listing, before any payload file is opened. On a
    * sharded store, `keep` addresses INNER chunk coordinates (the tile
    * granularity is the same either way) and pruning happens twice: whole
    * shards on the driver listing, then per-inner-chunk byte ranges on the
    * executor via the shard index. Absent chunks, shards and inner chunks
    * read as fill_value ([[ZarrIO.readPruned]], the reader of every layout).
    */
  def read(spark: SparkSession, dir: String,
           keep: Array[Int] => Boolean): Dataset[Tile] =
    ZarrIO.readPruned(spark, dir, readMeta(dir).layout, keep)

  // ----------------------------------------------------------- write path

  /** Write a tile table as a zarr v3 store; executors write their own chunk
    * files, the driver only the `zarr.json`.
    */
  def write(tiles: Dataset[Tile], spec: GridSpec, dir: String,
            dataType: String = "int64", gzip: Boolean = true,
            fillValue: Long = 0L): Unit = {
    require(DTYPES.contains(dataType), s"unsupported v3 data_type $dataType")
    Meta3(spec.imageShape.clone(), spec.chunk.clone(), dataType, gzip,
      fillValue, "/").layout.write(tiles, dir)
  }

  /** Write a tile table as a SHARDED zarr v3 store: `spec.chunk` is the
    * inner chunk (= the tile granularity), `shard` the per-axis shard shape
    * in elements (a multiple of the inner chunk). Tiles shuffle once on
    * their shard key so each shard object — inner payloads + trailing (or
    * leading) index, CRC32C-protected by default — is assembled and written
    * whole by exactly ONE task, the same clustered-write contract as the
    * DSv2 sink. A shard's working set is bounded by inners-per-shard × the
    * encoded chunk size, the knob that sizes store objects for the target
    * filesystem (fewer, larger objects than one-file-per-chunk).
    */
  def writeSharded(tiles: Dataset[Tile], spec: GridSpec, shard: Array[Int],
      dir: String, dataType: String = "int64", gzip: Boolean = true,
      fillValue: Long = 0L, indexAtEnd: Boolean = true,
      indexCrc: Boolean = true): Unit = {
    require(DTYPES.contains(dataType), s"unsupported v3 data_type $dataType")
    require(shard.length == spec.dims &&
      shard.indices.forall(a => shard(a) > 0 && shard(a) % spec.chunk(a) == 0),
      s"shard shape ${shard.mkString(",")} must be a positive multiple of " +
        s"the inner chunk ${spec.chunk.mkString(",")} on every axis")
    Meta3(spec.imageShape.clone(), shard.clone(), dataType, gzip, fillValue,
      "/", Some(Shard3(spec.chunk.clone(), indexAtEnd, indexCrc)))
      .layout.write(tiles, dir)
  }
}
