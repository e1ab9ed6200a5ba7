package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.Dataset

import graft.core.Regions
import graft.tiles.Tile

/** How a zarr store maps grid locations to stored objects: the one home of
  * the store-layout facts that the tile readers and writers ([[ZarrIO]],
  * [[Zarr3IO]]), the DSv2 scan planners, the micro-batch stream and the
  * DSv2 sink share. Built once from the store metadata ([[ZarrLayout.of]])
  * and serializable, so executor closures carry it whole. It alone knows:
  *
  *  - the object key of a location: v2 `a.b` or `a/b`, v3 `c/a/b`;
  *  - the listing of present objects ([[listChunkLocs]]);
  *  - the edge-clipped tile shape ([[tileShape]]);
  *  - the pushed-bounds test ([[ZarrLayout.Bounds.survives]]);
  *  - for a sharded v3 store, the shard <-> inner-chunk mapping, the shard
  *    index codec and the entry rule ([[ZarrLayout.ShardIndex.entry]]): an
  *    entry is ABSENT, a valid byte range, or corrupt, which fails naming
  *    the shard and the inner chunk.
  *
  * `meta` is the element codec at TILE granularity: the chunk of an
  * unsharded store, the inner chunk of a sharded one. Sharding is a storage
  * layout, not a schema: tiles and DSv2 rows are the same either way, and
  * only the objects that hold them differ.
  */
final case class ZarrLayout(meta: ZarrIO.Meta, v3: Boolean,
    shard: Option[ZarrLayout.Sharding] = None) {
  import ZarrLayout._

  def dims: Int = meta.dims

  /** Tile grid (the inner-chunk grid of a sharded store). */
  def grid: Array[Int] = meta.spec.gridShape

  /** Grid of stored objects: the tile grid, or the shard grid. */
  def objectGrid: Array[Int] = shard.fold(grid) { s =>
    val g = grid
    Array.tabulate(dims)(a => (g(a) + s.ips(a) - 1) / s.ips(a))
  }

  /** Exact extent of the tile at `loc` (stored chunks are full-size and
    * fill-padded; tiles are not).
    */
  def tileShape(loc: Array[Int]): Array[Int] = meta.spec.tileShape(loc)

  def cells(loc: Array[Int]): Long = tileShape(loc).foldLeft(1L)(_ * _)

  /** The stored object holding tile `loc`. */
  def objectOf(loc: Array[Int]): Array[Int] =
    shard.fold(loc)(s => Array.tabulate(dims)(a => loc(a) / s.ips(a)))

  /** The tiles of object `obj` in C order: the object itself, or a shard's
    * inner chunks clipped to the grid (edge shards are partially filled).
    */
  def tilesOf(obj: Array[Int]): Seq[Array[Int]] = shard match {
    case None => Seq(obj)
    case Some(s) =>
      val g = grid
      val out = Seq.newBuilder[Array[Int]]
      val j = new Array[Int](dims)
      var more = true
      while (more) {
        val loc = Array.tabulate(dims)(a => obj(a) * s.ips(a) + j(a))
        if (loc.indices.forall(a => loc(a) < g(a))) out += loc
        var a = dims - 1
        while (a >= 0 && j(a) == s.ips(a) - 1) { j(a) = 0; a -= 1 }
        if (a < 0) more = false else j(a) += 1
      }
      out.result()
  }

  /** Object key of `obj` relative to the store root. */
  def key(obj: Array[Int]): String = {
    val k = obj.mkString(meta.separator)
    if (v3) "c" + meta.separator + k else k
  }

  def path(dir: String, obj: Array[Int]): String = new Path(dir, key(obj)).toString

  /** One object per tile: the form a DSv2 write stages before its commit
    * packs shards.
    */
  def unsharded: ZarrLayout = copy(shard = None)

  /** Locations of the objects present under `dir` — names only, O(objects)
    * strings on the driver, no payload. Names that are not keys of an
    * in-grid object (metadata, checksum sidecars, staging dirs) are skipped.
    */
  def listChunkLocs(dir: String): Seq[Array[Int]] = {
    val conf = StoreIO.hadoopConf
    val og = objectGrid
    val sep = meta.separator
    def valid(loc: Array[Int]): Boolean =
      loc.length == dims && loc.indices.forall(a => loc(a) >= 0 && loc(a) < og(a))
    if (sep == "/") {
      def walk(path: String, isFile: Boolean, prefix: List[Int]): Seq[Array[Int]] =
        if (prefix.length == dims) {
          val loc = prefix.reverse.toArray
          if (isFile && valid(loc)) Seq(loc) else Seq.empty
        } else if (!isFile) {
          StoreIO.list(conf, path).flatMap { c =>
            c.getPath.getName.toIntOption.toSeq.flatMap(i =>
              walk(c.getPath.toString, c.isFile, i :: prefix))
          }
        } else Seq.empty
      walk(if (v3) new Path(dir, "c").toString else dir, isFile = false, Nil)
    } else
      StoreIO.list(conf, dir).filter(_.isFile).flatMap { f =>
        val parts = f.getPath.getName.split(java.util.regex.Pattern.quote(sep))
        val coords =
          if (!v3) parts
          else if (parts.headOption.contains("c")) parts.drop(1)
          else Array.empty[String]
        val loc = coords.flatMap(_.toIntOption)
        if (loc.length == coords.length && valid(loc)) Seq(loc) else Seq.empty
      }
  }

  /** Objects that may hold a tile inside `b`: the listing, or, when the
    * caller declares the store complete, box arithmetic over the object
    * grid (zero listing round trips).
    */
  def objectsIn(dir: String, b: Bounds, assumeComplete: Boolean): Seq[Array[Int]] =
    if (assumeComplete) b.locsIn(objectGrid, shard.fold(Array.fill(dims)(1))(_.ips))
    else listChunkLocs(dir)

  /** Where the tiles of object `obj` live. Unsharded: the object itself, no
    * I/O (presence comes from the listing). Sharded: the shard's index,
    * read once through [[ShardIndexCache]]; an ABSENT inner maps to None.
    */
  def locator(conf: Configuration, dir: String,
      obj: Array[Int]): Array[Int] => Option[TileRef] = shard match {
    case None => loc => Some(TileRef(key(loc), 0L, -1))
    case Some(s) =>
      val k = key(obj)
      val idx = ShardIndexCache.indexOf(conf, new Path(dir, k).toString, s)
      loc => idx.entry(loc).map { case (off, len) => TileRef(k, off, len) }
  }

  /** Payloads of the tiles `locs` of a present object `obj`; None for an
    * ABSENT inner chunk. A shard is opened once: one ranged read for its
    * index, then one per present inner in `locs` — never a whole-object
    * download.
    */
  def readObject(conf: Configuration, dir: String, obj: Array[Int],
      locs: Seq[Array[Int]]): Seq[Option[Array[Byte]]] = shard match {
    case None => locs.map(loc => Some(StoreIO.readAllBytes(conf, path(dir, loc))))
    case Some(s) =>
      val p = path(dir, obj)
      val len = StoreIO.fileLen(conf, p)
      val in = StoreIO.open(conf, p)
      try {
        val idx = s.readIndex(in, len, p)
        locs.map(loc => idx.entry(loc).map { case (off, n) => StoreIO.readRange(in, off, n) })
      } finally in.close()
  }

  /** Write a tile table: the metadata on the driver, every object on an
    * executor. Unsharded, each task writes its own chunk objects, so no
    * payload moves to the driver. Sharded, tiles shuffle once on their shard
    * so each shard object (inner payloads + index) is assembled and written
    * whole by exactly one task.
    */
  def write(tiles: Dataset[Tile], dir: String): Unit = {
    val conf = StoreIO.hadoopConf
    StoreIO.mkdirs(conf, dir)
    writeMeta(dir)
    val sconf = StoreIO.broadcastConf(tiles.sparkSession)
    shard match {
      case None =>
        tiles.foreachPartition { (it: Iterator[Tile]) =>
          it.foreach { t =>
            StoreIO.write(sconf.value.value, path(dir, t.loc),
              ZarrIO.encodeChunk(t.data, meta, t.shape))
          }
        }
      case Some(s) =>
        ShardIndexCache.invalidateUnder(dir) // same-JVM rewrite loops
        val g = grid
        val og = objectGrid
        import tiles.sparkSession.implicits._
        tiles.groupByKey { t =>
          require(t.loc.indices.forall(a => t.loc(a) >= 0 && t.loc(a) < g(a)),
            s"tile ${t.loc.mkString(",")} is outside the grid ${g.mkString(",")}")
          Regions.linearIndex(objectOf(t.loc), og)
        }.mapGroups { (_, it) =>
          val ts = it.toVector
          val enc = new Array[Array[Byte]](s.slots)
          ts.foreach { t =>
            val k = s.slotOf(t.loc)
            require(enc(k) == null, s"duplicate tile at ${t.loc.mkString(",")}")
            enc(k) = ZarrIO.encodeChunk(t.data, meta, t.shape)
          }
          StoreIO.write(sconf.value.value, path(dir, objectOf(ts.head.loc)), s.pack(enc))
          1
        }.count()
    }
  }

  /** Write the store's descriptor: `.zarray` (v2) or `zarr.json` (v3). */
  def writeMeta(dir: String): Unit =
    if (!v3) ZarrIO.writeMeta(dir, meta)
    else Zarr3IO.writeMeta(dir, Zarr3IO.Meta3(meta.shape,
      shard.fold(meta.chunks)(s => Array.tabulate(dims)(a => meta.chunks(a) * s.ips(a))),
      Zarr3IO.v3NameOf(meta.dtype), meta.compressor == "gzip", meta.fillValue,
      meta.separator,
      shard.map(s => Zarr3IO.Shard3(meta.chunks.clone(), s.atEnd, s.crc))))
}

object ZarrLayout {

  /** Format autodetection: a v3 store has `zarr.json`, a v2 store `.zarray`. */
  def isV3(dir: String): Boolean =
    StoreIO.exists(StoreIO.hadoopConf, new Path(dir, "zarr.json").toString)

  /** True when the path already holds a store (either format). */
  def exists(dir: String): Boolean =
    isV3(dir) || StoreIO.exists(StoreIO.hadoopConf, new Path(dir, ".zarray").toString)

  /** The layout of the store at `dir`, from its metadata (either format). */
  def of(dir: String): ZarrLayout =
    if (isV3(dir)) Zarr3IO.readMeta(dir).layout
    else ZarrLayout(ZarrIO.readMeta(dir), v3 = false)

  /** `sharding_indexed` facts: inner chunks per shard per axis (`ips`), and
    * where and how the index is stored. Each shard object packs a grid of
    * inner chunks plus a binary index of `(offset: uint64 LE, nbytes: uint64
    * LE)` pairs in C order of inner position, `(2^64-1, 2^64-1)` marking an
    * absent inner chunk. The index sits at the shard's end or start,
    * optionally followed by a CRC32C of its bytes.
    */
  final case class Sharding(ips: Array[Int], atEnd: Boolean, crc: Boolean) {
    /** Inner-chunk slots per shard. */
    def slots: Int = ips.product

    def indexBytes: Int = slots * 16 + (if (crc) 4 else 0)

    /** C-order slot of tile `loc` inside its shard. */
    def slotOf(loc: Array[Int]): Int =
      Regions.linearIndex(Array.tabulate(ips.length)(a => loc(a) % ips(a)), ips).toInt

    /** Read and CRC-check the index of the shard at `path` (`fileLen`
      * bytes) from an open stream: one ranged read.
      */
    def readIndex(in: FSDataInputStream, fileLen: Long, path: String): ShardIndex = {
      val idxOff = if (atEnd) fileLen - indexBytes else 0L
      require(idxOff >= 0,
        s"$path: shorter than its own shard index ($indexBytes bytes)")
      val bytes = StoreIO.readRange(in, idxOff, indexBytes)
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (crc) {
        val c = new java.util.zip.CRC32C
        c.update(bytes, 0, slots * 16)
        require(c.getValue.toInt == bb.getInt(slots * 16),
          s"$path: shard index CRC32C mismatch — index or tail corrupt")
      }
      val offs = Array.tabulate(slots)(i => bb.getLong(i * 16))
      val lens = Array.tabulate(slots)(i => bb.getLong(i * 16 + 8))
      ShardIndex(path, this, offs, lens)
    }

    /** Assemble one shard object from its encoded inner chunks (slot k = C
      * order inner position, null = absent): payloads in slot order plus the
      * index at the configured end, CRC32C-protected when enabled.
      */
    def pack(enc: Array[Array[Byte]]): Array[Byte] = {
      require(enc.length == slots, s"${enc.length} payloads for $slots slots")
      val idx = new Array[Byte](indexBytes)
      val ibb = java.nio.ByteBuffer.wrap(idx).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = if (atEnd) 0L else idx.length.toLong
      var k = 0
      while (k < slots) {
        if (enc(k) == null) {
          ibb.putLong(k * 16, ABSENT); ibb.putLong(k * 16 + 8, ABSENT)
        } else {
          ibb.putLong(k * 16, off)
          ibb.putLong(k * 16 + 8, enc(k).length.toLong)
          off += enc(k).length
        }
        k += 1
      }
      if (crc) {
        val c = new java.util.zip.CRC32C
        c.update(idx, 0, slots * 16)
        ibb.putInt(slots * 16, c.getValue.toInt)
      }
      val out = new java.io.ByteArrayOutputStream(
        idx.length + enc.iterator.filter(_ != null).map(_.length).sum)
      if (!atEnd) out.write(idx)
      enc.foreach(e => if (e != null) out.write(e))
      if (atEnd) out.write(idx)
      out.toByteArray
    }
  }

  /** 2^64-1 as a signed long: the spec's missing-inner marker. */
  private val ABSENT = -1L

  /** A decoded shard index (16 B per inner slot). */
  final case class ShardIndex(path: String, sharding: Sharding,
      offs: Array[Long], lens: Array[Long]) {

    /** The entry rule for tile `loc` of this shard: None when ABSENT (the
      * inner reads as fill_value), its `(offset, nbytes)` range when valid.
      * Any other entry is corrupt and fails naming the shard and the inner
      * chunk — whether the caller wants the payload, its presence (a count
      * or a LIMIT plan) or neither.
      */
    def entry(loc: Array[Int]): Option[(Long, Int)] = {
      val k = sharding.slotOf(loc)
      val off = offs(k)
      val len = lens(k)
      if (off == ABSENT && len == ABSENT) None
      else {
        require(off >= 0 && len >= 0 && len <= Int.MaxValue,
          s"$path: inner chunk ${loc.mkString(",")} has corrupt index " +
            s"entry (offset $off, nbytes $len)")
        Some((off, len.toInt))
      }
    }
  }

  /** One tile's bytes: a whole object (`len` = -1) or a byte range of a
    * shard object.
    */
  final case class TileRef(key: String, off: Long, len: Int) {
    def read(conf: Configuration, dir: String): Array[Byte] = {
      val p = new Path(dir, key).toString
      if (len < 0) StoreIO.readAllBytes(conf, p)
      else {
        val in = StoreIO.open(conf, p)
        try StoreIO.readRange(in, off, len) finally in.close()
      }
    }
    override def toString: String =
      if (len < 0) key else s"$key bytes [$off, ${off + len})"
  }

  /** Pushed grid-coordinate bounds: inclusive `[lo, hi]` per axis plus
    * optional IN-list membership (`null` = unconstrained). The arrays are
    * tightened in place by static and runtime filters.
    */
  final case class Bounds(lo: Array[Long], hi: Array[Long],
      allowed: Array[Set[Long]]) {

    def survives(loc: Array[Int]): Boolean =
      loc.indices.forall(a =>
        loc(a) >= lo(a) && loc(a) <= hi(a) &&
          (allowed(a) == null || allowed(a).contains(loc(a).toLong)))

    def snapshot: Bounds = Bounds(lo.clone(), hi.clone(), allowed.clone())

    /** Every location of `grid` whose `div`-sized block of tiles may hold a
      * survivor: pure arithmetic, so the cost is the surviving box, not the
      * grid. Exact on the box, conservative on `allowed` (`div` = 1 gives
      * exactly the survivors).
      */
    def locsIn(grid: Array[Int], div: Array[Int]): Seq[Array[Int]] = {
      val axes: Array[Array[Int]] = Array.tabulate(grid.length) { a =>
        val l = math.min(math.max(0L, lo(a)) / div(a), grid(a).toLong).toInt
        val h = if (hi(a) < 0) -1 else math.min(grid(a) - 1L, hi(a) / div(a)).toInt
        val ok = Option(allowed(a)).map(_.filter(_ >= 0).map(_ / div(a)))
        (l to h).filter(v => ok.forall(_.contains(v.toLong))).toArray
      }
      axes.foldLeft(Seq(Array.empty[Int]))((acc, vals) =>
        acc.flatMap(prefix => vals.map(v => prefix :+ v)))
    }
  }

  object Bounds {
    /** The whole grid, unconstrained. */
    def all(grid: Array[Int]): Bounds = Bounds(Array.fill(grid.length)(0L),
      grid.map(_ - 1L), Array.fill[Set[Long]](grid.length)(null))
  }
}

/** Per-JVM cache of decoded shard indexes, so a scan whose partitions are
  * the INNER chunks of a sharded store reads each shard's index once per
  * executor, not once per inner chunk. Bounded LRU; entries are a few
  * hundred bytes (16 B per inner slot).
  *
  * Keys carry a content fingerprint (file length + mtime from the same
  * `getFileStatus` the end-located index needs anyway), so a shard
  * REWRITTEN in place misses the cache on every JVM — executors on a real
  * cluster can't rely on the writer-side [[invalidateUnder]], which only
  * clears the writing JVM's map (kept as a same-JVM fast path: it also
  * covers a rewrite landing within one mtime granule at identical length).
  */
private[sources] object ShardIndexCache {
  private val MAX = 4096
  private val map =
    new java.util.LinkedHashMap[String, ZarrLayout.ShardIndex](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ZarrLayout.ShardIndex]): Boolean =
        size() > MAX
    }
  // Single-flight: concurrent misses on one key (the inner chunks of a
  // freshly-planned shard run as parallel tasks) coalesce into ONE ranged
  // read; the losers await the winner's future instead of each re-reading
  // the same index tail from the store.
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[ZarrLayout.ShardIndex]]()

  def indexOf(conf: Configuration, path: String,
      sharding: ZarrLayout.Sharding): ZarrLayout.ShardIndex = {
    val p = new Path(path)
    val st = p.getFileSystem(conf).getFileStatus(p)
    val key = s"$path#${st.getLen}#${st.getModificationTime}"
    map.synchronized {
      val hit = map.get(key)
      if (hit != null) return hit
    }
    val mine = new java.util.concurrent.CompletableFuture[ZarrLayout.ShardIndex]()
    val winner = inflight.putIfAbsent(key, mine)
    if (winner != null) return winner.join()
    try {
      // double-check: a prior flight may have completed and been removed
      // between our map miss and winning the inflight slot
      map.synchronized {
        val hit = map.get(key)
        if (hit != null) { mine.complete(hit); return hit }
      }
      val in = StoreIO.open(conf, path)
      val parsed = try sharding.readIndex(in, st.getLen, path) finally in.close()
      map.synchronized { map.put(key, parsed) }
      mine.complete(parsed)
      parsed
    } catch {
      case t: Throwable => mine.completeExceptionally(t); throw t
    } finally inflight.remove(key)
  }

  /** Evict entries of shards under `dir` — path-prefix match on a path
    * SEGMENT boundary, so invalidating `/a/store` leaves `/a/store2`'s
    * entries alone.
    */
  def invalidateUnder(dir: String): Unit = map.synchronized {
    val prefix = if (dir.endsWith("/")) dir else dir + "/"
    val it = map.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
  }
}
