package graft.geojson

import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.tiles.Tile

/** O5 `annotate_labeled_tiles` (`relabeling.py:102-123`, kernel
  * `chunkops.py:192-231`, `utils.py:146-188`): per tile, trace each
  * surviving object's largest contour and emit a GeoJSON FeatureCollection
  * with global (x, y) pixel coordinates; `null` when the tile has no
  * objects (the reference's scalar `0`).
  *
  * 2D only, like the reference (cv2 contours are 2D; the 3D fixture pins
  * `annotations_output: None`, `tests/fixtures.py:93`).
  */
object Annotate {

  final case class TileAnnotation(locKey: String, geojson: String)

  /** JSON string escaping for the few values we embed (class names). */
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The per-tile kernel (`chunkops.py:192-231`). Returns null when no
    * feature survives.
    *
    * One pass computes per-label bounding boxes and class maxima; contours
    * are then traced inside each label's bbox only — O(pixels + sum of bbox
    * areas) instead of the reference's O(labels * pixels) per-label scans.
    *
    * Offsets derive the chunk size from this tile's core extent, which is
    * exact because annotate always runs after `prepare_input`'s padding
    * (both here and in the reference, whose block_info carries the same
    * padded geometry) — every core is chunk-sized by construction.
    */
  def annotateTile(tile: Tile, overlaps: Array[Int],
                   objectClasses: Map[Long, String]): String = {
    require(tile.dims == 2, "annotations are 2D-only (reference parity)")
    val Array(h, w) = tile.shape
    val data = tile.data

    // global offset: overlapped-array location minus 2*coord*overlap per
    // axis (`chunkops.py:210-220`), which for a uniform grid reduces to
    // coord*chunk - overlap on axes with a low-side halo.
    val off = Array.tabulate(2) { a =>
      val cs = tile.shape(a) -
        (if (tile.loc(a) > 0) overlaps(a) else 0) -
        (if (tile.loc(a) < tile.grid(a) - 1) overlaps(a) else 0)
      if (tile.loc(a) > 0) tile.loc(a).toLong * cs - overlaps(a) else 0L
    }
    val (offX, offY) = (off(1), off(0)) // swapped to (x, y) order

    // single pass: per-label bbox + class maximum. A label's pixels come
    // in row runs, so the map is looked up only where the label changes
    final case class Acc(var y0: Int, var y1: Int, var x0: Int, var x1: Int,
                         var cls: Long)
    val acc = new java.util.TreeMap[java.lang.Long, Acc]()
    var lastV = 0L
    var lastA: Acc = null
    var i = 0
    while (i < data.length) {
      val v = data(i)
      if (v != 0L) {
        val y = i / w; val x = i % w
        var a = if (v == lastV) lastA else acc.get(v)
        if (a == null) { a = Acc(y, y, x, x, 0L); acc.put(v, a) }
        else {
          if (y < a.y0) a.y0 = y; if (y > a.y1) a.y1 = y
          if (x < a.x0) a.x0 = x; if (x > a.x1) a.x1 = x
        }
        if (tile.hasClasses) {
          var ch = 0
          while (ch < tile.classes.length) {
            if (tile.classes(ch)(i) > a.cls) a.cls = tile.classes(ch)(i)
            ch += 1
          }
        }
        lastV = v
        lastA = a
      }
      i += 1
    }

    val features = new StringBuilder
    var nFeatures = 0
    val it = acc.entrySet().iterator() // ascending label order (np.unique)
    while (it.hasNext) {
      val e = it.next()
      val lbl = e.getKey.longValue()
      val a = e.getValue
      val objectType = objectClasses(a.cls)
      // trace within the bbox only; coordinates translated back afterwards
      val bh = a.y1 - a.y0 + 1
      val bw = a.x1 - a.x0 + 1
      val mask = new Array[Long](bh * bw)
      var yy = 0
      while (yy < bh) {
        var xx = 0
        while (xx < bw) {
          if (data((a.y0 + yy) * w + a.x0 + xx) == lbl) mask(yy * bw + xx) = 1L
          xx += 1
        }
        yy += 1
      }
      val contours = Contours.findContours(mask, bh, bw)
      if (contours.nonEmpty) {
        // longest contour wins; ties -> largest index (`utils.py:165-168`,
        // python max over (len, i) tuples)
        var best = 0
        for (ci <- contours.indices)
          if (contours(ci).length >= contours(best).length) best = ci
        val cc = contours(best)
        val n = cc.length / 2
        if (n >= 2) {
          val bx = offX + a.x0; val by = offY + a.y0
          val ring = new StringBuilder("[")
          var k = 0
          while (k < n) {
            if (k > 0) ring.append(", ")
            ring.append('[').append(cc(2 * k) + bx).append(", ")
              .append(cc(2 * k + 1) + by).append(']')
            k += 1
          }
          // close the ring (`utils.py:178`)
          ring.append(", [").append(cc(0) + bx).append(", ")
            .append(cc(1) + by).append("]]")
          if (nFeatures > 0) features.append(", ")
          features.append(
            s"""{"geometry": {"coordinates": [${ring.result()}], "type": "Polygon"}, """ +
              s""""properties": {"objectType": ${jstr(objectType)}}, "type": "Feature"}""")
          nFeatures += 1
        }
      }
    }
    if (nFeatures == 0) null
    else s"""{"features": [${features.result()}], "type": "FeatureCollection"}"""
  }

  final case class PlaneAnnotation(locKey: String, plane: Long, geojson: String)

  /** Beyond-reference 3D annotate: the reference pins 3D annotations to
    * `None` (`tests/fixtures.py:93` — cv2 contours are 2D). GeoJSON is
    * inherently planar, so the natural volumetric extension is one
    * FeatureCollection per occupied z-plane: each slice of the tile runs
    * the SAME 2D kernel (identical contour, offset, and class rules on
    * axes 1/2) and features carry the global plane index. Tile-local like
    * O5 — no shuffle.
    */
  def annotateTile3d(tile: Tile, overlaps: Array[Int],
                     objectClasses: Map[Long, String]): Seq[PlaneAnnotation] = {
    require(tile.dims == 3, s"annotateTile3d expects 3D tiles, got ${tile.dims}D")
    val Array(dz, h, w) = tile.shape
    // global z offset: same core-size derivation as the 2D kernel's axes
    val cs0 = tile.shape(0) -
      (if (tile.loc(0) > 0) overlaps(0) else 0) -
      (if (tile.loc(0) < tile.grid(0) - 1) overlaps(0) else 0)
    val zOff = if (tile.loc(0) > 0) tile.loc(0).toLong * cs0 - overlaps(0) else 0L
    val key = tile.loc.mkString("-")
    val plane = h * w
    (0 until dz).flatMap { z =>
      val slice = java.util.Arrays.copyOfRange(tile.data, z * plane, (z + 1) * plane)
      val classes =
        if (tile.hasClasses)
          tile.classes.map(ch => java.util.Arrays.copyOfRange(ch, z * plane, (z + 1) * plane))
        else Array.empty[Array[Long]]
      val t2 = Tile(Array(tile.loc(1), tile.loc(2)),
        Array(tile.grid(1), tile.grid(2)), Array(h, w), slice, classes)
      Option(annotateTile(t2, Array(overlaps(1), overlaps(2)), objectClasses))
        .map(g => PlaneAnnotation(key, zOff + z, g))
    }
  }

  /** Dataset-level 3D annotate: one row per (tile, occupied plane). */
  def annotateLabeledTiles3d(tiles: Dataset[Tile], overlaps: Array[Int],
                             objectClasses: Option[Map[Long, String]] = None)
      : Dataset[PlaneAnnotation] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap(t => annotateTile3d(t, overlaps, objectClasses.getOrElse(defaultClasses(t))))
  }

  /** The default classes mapping: one "cell" entry per channel
    * (`relabeling.py:106-109`, `relabeling.py:264-267`).
    */
  private def defaultClasses(t: Tile): Map[Long, String] =
    (0L to math.max(0, t.classes.length).toLong).map(_ -> "cell").toMap

  /** O5 on one tile: its row, with [[defaultClasses]] when no mapping is given. */
  private[graft] def annotateLabeled(t: Tile, overlaps: Array[Int],
                                     objectClasses: Option[Map[Long, String]]): TileAnnotation =
    TileAnnotation(t.loc.mkString("-"),
      annotateTile(t, overlaps, objectClasses.getOrElse(defaultClasses(t))))

  /** Dataset-level O5: one row per tile, `geojson` null when empty. */
  def annotateLabeledTiles(tiles: Dataset[Tile], overlaps: Array[Int],
                           objectClasses: Option[Map[Long, String]] = None)
      : Dataset[TileAnnotation] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.map(annotateLabeled(_, overlaps, objectClasses))
  }

  /** Executor-side O6 scale path: each partition writes its tiles'
    * `{loc}.geojson` files directly into `outDir` — no driver streaming.
    * All I/O goes through the Hadoop `FileSystem` API, so the directory
    * can live on HDFS or any object store (`s3a://`, `abfs://`, ...) as
    * well as a local/shared POSIX mount; on an object store each tile is
    * one PUT, issued from the executor that holds the tile. Returns the
    * number of rows written (a duplicated tile location overwrites its
    * file and still counts). The directory is NOT cleared first — pass a
    * fresh directory when an exact listing matters, exactly like the
    * reference's behavior on pre-existing directories
    * (`relabeling.py:136-139`). Files are written through
    * [[graft.sources.StoreIO]], which writes no `.{name}.crc` sibling on a
    * local path; a directory an older version wrote may still hold some,
    * so listers should skip dot/underscore names per the standard
    * convention.
    */
  def writeAnnotationDir(annotations: Dataset[TileAnnotation],
                         outDir: String): Long = {
    val spark = annotations.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(conf)
    graft.sources.StoreIO.mkdirs(conf, outDir)
    // qualify on the DRIVER before capture: executors must not resolve a
    // relative (or defaultFS-relative) path against their own working
    // directories; the qualified URI also pins the scheme, so every
    // executor opens the same store the driver validated
    val dir = fs.makeQualified(root).toString
    val sconf = graft.sources.StoreIO.broadcastConf(spark)
    import spark.implicits._
    annotations
      .filter(_.geojson != null)
      .mapPartitions { it =>
        var n = 0L
        it.foreach { a =>
          graft.sources.StoreIO.write(sconf.value.value,
            s"$dir/${a.locKey}.geojson", a.geojson.getBytes("UTF-8"))
          n += 1
        }
        Iterator.single(n)
      }
      .collect()
      .sum
  }

  /** Local-path convenience overload (the shape the golden specs drive). */
  def writeAnnotationDir(annotations: Dataset[TileAnnotation],
                         outDir: java.nio.file.Path): Long =
    writeAnnotationDir(annotations, outDir.toAbsolutePath.toString)

  /** O6 as a streaming sink: each microbatch's annotations land as
    * `{loc}.geojson` files through the same executor-side dir writer the
    * batch scale path uses — `foreachBatch` is the bridge, so a scanner feed
    * can emit annotations incrementally as tiles complete. Append-mode;
    * at-least-once redelivery overwrites the same file idempotently.
    */
  def streamAnnotationDir(annotations: Dataset[TileAnnotation],
                          outDir: String,
                          queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    annotations.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[TileAnnotation], _: Long) =>
        writeAnnotationDir(batch, outDir); ()
      }
      .queryName(queryName).start()

  /** Local-path convenience overload of [[streamAnnotationDir]]. */
  def streamAnnotationDir(annotations: Dataset[TileAnnotation],
                          outDir: java.nio.file.Path,
                          queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamAnnotationDir(annotations, outDir.toAbsolutePath.toString,
      queryName)

  /** O6 zip sink for streams: one `part-<batch>.zip` per non-empty
    * microbatch (a single append-only zip cannot span batches), each
    * holding that batch's `{loc}.geojson` members via [[zipAnnotations]].
    * Downstream consumers treat the part set as one logical archive;
    * at-least-once redelivery can repeat a member across parts — dedup by
    * member name when unpacking (contents are identical by construction).
    */
  def streamAnnotationZips(annotations: Dataset[TileAnnotation],
                           outDir: String,
                           queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val conf = annotations.sparkSession.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(conf)
    graft.sources.StoreIO.mkdirs(conf, outDir)
    val dir = fs.makeQualified(root).toString
    annotations.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[TileAnnotation], batchId: Long) =>
        if (!batch.isEmpty)
          zipAnnotations(batch, f"$dir/part-$batchId%05d.zip")
        ()
      }
      .queryName(queryName).start()
  }

  /** Local-path convenience overload of [[streamAnnotationZips]]. */
  def streamAnnotationZips(annotations: Dataset[TileAnnotation],
                           outDir: java.nio.file.Path,
                           queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamAnnotationZips(annotations, outDir.toAbsolutePath.toString,
      queryName)

  /** One zip member, deflated on an executor: what `ZipOutputStream` would
    * write for it at its default level (`Deflater(DEFAULT_COMPRESSION,
    * nowrap)`, zlib's level 6, and a CRC-32 of the body), ready to be
    * appended raw. Level 9 was 6–8× slower on GeoJSON and ≈4.5 % larger.
    */
  private[geojson] final case class DeflatedMember(name: String, crc: Long, size: Long,
                                                   deflated: Array[Byte])

  private[geojson] def deflateMember(name: String, body: Array[Byte]): DeflatedMember = {
    val crc = new java.util.zip.CRC32
    crc.update(body)
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      // the call sequence of DeflaterOutputStream: all input, then finish
      val out = new java.io.ByteArrayOutputStream(body.length / 4 + 64)
      val buf = new Array[Byte](8192)
      deflater.setInput(body)
      while (!deflater.needsInput()) out.write(buf, 0, deflater.deflate(buf))
      deflater.finish()
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      DeflatedMember(name, crc.getValue, body.length.toLong, out.toByteArray)
    } finally deflater.end()
  }

  /** O6 `zip_annotated_labeled_tiles` (`relabeling.py:126-163`): write one
    * `{y}-{x}.geojson` member per non-empty tile into a single zip. This is
    * an action (the reference computes here too, `relabeling.py:150`), and
    * it runs as one job: each partition deflates its own members on the
    * executor, and the driver appends them raw, in partition order, with
    * commons-compress. The driver therefore holds every compressed member
    * at once — at most the compressed archive, not the GeoJSON — so an
    * archive that does not fit the driver belongs in
    * [[writeAnnotationDir]], the bounded scale path. The zip is created
    * through the Hadoop `FileSystem` API, so `outZip` may be an
    * HDFS/object-store URI — one streamed PUT on such stores. An empty
    * input gives an empty, valid archive (the end-of-central-directory
    * record alone).
    */
  def zipAnnotations(annotations: Dataset[TileAnnotation],
                     outZip: String): String = {
    val spark = annotations.sparkSession
    import spark.implicits._
    val members = annotations.mapPartitions(_.collect {
      case a if a.geojson != null =>
        deflateMember(s"${a.locKey}.geojson", a.geojson.getBytes("UTF-8"))
    }).collect()
    val zos = new ZipArchiveOutputStream(
      graft.sources.StoreIO.create(spark.sparkContext.hadoopConfiguration, outZip))
    try {
      val now = System.currentTimeMillis()
      members.foreach { m =>
        val e = new ZipArchiveEntry(m.name)
        e.setMethod(java.util.zip.ZipEntry.DEFLATED)
        e.setTime(now)
        e.setCrc(m.crc)
        e.setSize(m.size)
        e.setCompressedSize(m.deflated.length.toLong)
        zos.addRawArchiveEntry(e, new java.io.ByteArrayInputStream(m.deflated))
      }
    } finally zos.close()
    outZip
  }

  /** Local-path convenience overload of [[zipAnnotations]]. */
  def zipAnnotations(annotations: Dataset[TileAnnotation],
                     outZip: java.nio.file.Path): java.nio.file.Path = {
    zipAnnotations(annotations, outZip.toAbsolutePath.toString)
    outZip
  }
}
