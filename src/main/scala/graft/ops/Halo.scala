package graft.ops

import java.nio.ByteBuffer
import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{Kernels, Nd, Regions}
import graft.tiles.Tile

/** Halo exchange — the Spark-native equivalent of `da.overlap.overlap`
  * (`relabeling.py:185-190`) and of `da.map_overlap`'s neighbor fetch
  * (`relabeling.py:85-95`).
  *
  * Each tile flatMaps into shards keyed by the receiving chunk: up to
  * `3^d - 1` margins toward its neighbors and, unless it is already at
  * home, its own full payload (`rd = 0`). One shuffle places them and each
  * receiver reassembles its tile — one exchange per halo, mirroring the
  * reference's two neighbor-communication stages (SURVEY.md §3.1).
  *
  * Both exchanges place shards with one [[ChunkPartitioner]]: chunk `lin`
  * of a `chunks`-chunk grid goes to partition `((lin + 1) * n - 1) /
  * chunks`, which is Spark's own split of `chunks` rows into `n` slices
  * (`spark.range`, `parallelize`, a local table scan), so each reducer
  * holds a contiguous row-major range of chunks, and emits its tiles in
  * ascending `lin`. The shuffle is an RDD shuffle with that exact
  * partitioner, which adaptive query execution does not resize: AQE
  * coalesces reducers by compressed shuffle bytes, but the work after a
  * halo exchange (segmentation, overlap removal, painting, contour
  * tracing) scales with pixels, and a few hundred KB of compressed shards
  * can carry seconds of it. Everything after the exchange up to the next
  * one is a narrow map, so it runs in the same `n` tasks.
  *
  * At home: when the input already has the exchange's `n` partitions and
  * Spark knows it recomputes each partition in the same order (no
  * unsorted shuffle in its lineage), a tile in input partition `p` whose
  * `lin` the partitioner maps to `p`, and whose `lin` is above the last
  * at-home `lin` before it in `p`, ships only its margins. The reduce side zips the shuffled shards with the
  * same input partition, applies the same rule to find those tiles again
  * (an ascending stream, like the shuffled records), and pastes each one's
  * core in place. A zarr read and a row-major tile table arrive placed, so
  * O1 moves `O(overlap * surface)` per chunk, the halo model's bound,
  * instead of the chunk plus its margins. The price is that O1's reduce
  * stage reads its input partition a second time: persist an input that
  * is expensive to recompute, or whose user code does not recompute the
  * same tiles in the same order. Every other tile ships its core as
  * before, and an input that recomputes differently or holds a cell twice
  * fails the assembly's one-core-per-chunk check, naming the chunk.
  *
  * O4 ships only what survives the reference's trim (`relabeling.py:97`,
  * paint then `trim_overlap`): each tile's interior box as its `rd = 0`
  * shard, and margins `ov` thick on their varying axes but clipped to the
  * sender's interior on the others, which on those axes is the receiver's
  * core. The receiver unpacks the core into a core-sized tile and paints
  * each region's dest box clipped to it ([[assembleMerged]]); no voxel
  * that the trim would drop crosses the shuffle. On perfbench's
  * `labels3d_zarr` that is 2,097,152 core and 1,021,952 margin voxels per
  * channel, 58 % of the halo-expanded tiles and full-extent margins.
  * O4 still ships its cores: its input is O3's output, so re-reading it
  * on the reduce side would run O1's reduce, O2 and O3 a second time
  * inside O4's stage, and its `rd = 0` shards are the only
  * materialization of that output.
  *
  * The exchange itself works on `RDD[Tile]`. The public [[expand]] and
  * [[mergeAndTrim]] read their input through `Dataset.rdd` and wrap the
  * output in a Dataset; the composites in [[Relabel]] chain both
  * exchanges and the per-tile maps between them on one RDD lineage and
  * build a single Dataset at the end (see [[Relabel]] for the planning
  * cost this saves).
  */
object Halo {

  /** A margin shard in flight. `destLin` = linear index of the receiving
    * chunk (the shuffle key); `rd` = where the *sender* sits relative to the
    * receiver (-1/0/+1 per axis; all-zero = the receiver's own payload);
    * `shape` = shard extent: on the axes the sender shares with the
    * receiver, O1's shards span the sender's whole tile and O4's only its
    * interior, and O4's `rd = 0` shard is the interior box. `data` and
    * each `classes` channel are width-tagged bytes ([[Nd.packBox]]); O4
    * marks its `data` as clipped to the receiver's core ([[Nd.marked]]).
    * A uint8 image crosses the O1 shuffle at one byte per pixel. O4's
    * chunk-disjoint global labels
    * cross as offsets from their tile's own label range, at the width of
    * the tile's label count (one or two bytes in practice), not of its
    * chunk offset (eight bytes from linear index 2 on).
    */
  final case class Shard(
      destLin: Long,
      destLoc: Array[Int],
      grid: Array[Int],
      rd: Array[Int],
      shape: Array[Int],
      data: Array[Byte],
      classes: Array[Array[Byte]]
  )

  /** Places chunk `lin` of a grid of `chunks` chunks in partition
    * `((lin + 1) * numPartitions - 1) / chunks`: the last slice whose first
    * row is at most `lin` when Spark splits `chunks` rows into
    * `numPartitions` slices (slice `i` starts at `i * chunks /
    * numPartitions`). Every partition holds a contiguous row-major range
    * of ⌊chunks/n⌋ or ⌈chunks/n⌉ chunks. Keys are `(lin, chunks)` pairs:
    * the grid size rides with each key because a receiver of
    * [[mergeAndTrim]] cannot know it without a job.
    */
  private final class ChunkPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = {
      val (lin, chunks) = key.asInstanceOf[(Long, Long)]
      require(lin >= 0 && lin < chunks,
        s"halo: linear chunk index $lin is outside a grid of $chunks chunks")
      (((lin + 1) * numPartitions - 1) / chunks).toInt
    }
  }

  private def chunksOf(t: Tile): Long = t.grid.foldLeft(1L)(_ * _)

  /** The at-home rule over input partition `part` of an exchange into
    * `partitions` partitions: each tile with whether it stays where it is.
    * A tile is at home iff `home` holds, the partitioner maps its `lin` to
    * `part`, and its `lin` is above the last at-home `lin` before it, so
    * the at-home tiles of a partition come out in ascending `lin`, at most
    * once each, and the same input order gives the same answer on the map
    * and on the reduce side.
    */
  private[graft] def placedAt(part: Int, partitions: Int, home: Boolean,
      tiles: Iterator[Tile]): Iterator[(Tile, Boolean)] =
    if (!home) tiles.map(t => (t, false))
    else {
      val placer = new ChunkPartitioner(partitions)
      var last = -1L
      tiles.map { t =>
        val lin = t.linearIndex
        val at = lin > last && placer.getPartition((lin, chunksOf(t))) == part
        if (at) last = lin
        (t, at)
      }
    }

  /** A shard as one byte array, the record that crosses the shuffle (its
    * `destLin` travels in the key). Java serialization of the case class
    * would add its field descriptors to every shuffle block.
    */
  private def encode(s: Shard): Array[Byte] = {
    val dims = s.destLoc.length
    val buf = ByteBuffer.allocate(1 + dims * 13 + 8 + s.data.length +
      s.classes.map(_.length + 4).sum)
    buf.put(dims.toByte)
    s.destLoc.foreach(buf.putInt)
    s.grid.foreach(buf.putInt)
    s.rd.foreach(d => buf.put(d.toByte))
    s.shape.foreach(buf.putInt)
    buf.putInt(s.data.length).put(s.data)
    buf.putInt(s.classes.length)
    s.classes.foreach(c => buf.putInt(c.length).put(c))
    buf.array()
  }

  private def decode(destLin: Long, bytes: Array[Byte]): Shard = {
    val buf = ByteBuffer.wrap(bytes)
    val dims = buf.get().toInt
    def ints() = Array.fill(dims)(buf.getInt())
    def packed() = { val a = new Array[Byte](buf.getInt()); buf.get(a); a }
    val destLoc = ints()
    val grid = ints()
    val rd = Array.fill(dims)(buf.get().toInt)
    val shape = ints()
    val data = packed()
    Shard(destLin, destLoc, grid, rd, shape, data, Array.fill(buf.getInt())(packed()))
  }

  /** The one halo exchange: every tile sends the shards `ship` gives it
    * (with or without its core), a [[ChunkPartitioner]] over `partitions`
    * partitions places them, and `assemble` turns each receiver's shards
    * into its tile, in ascending `lin`. The reduce side sorts the records by `lin` in Spark's shuffle
    * sorter, which spills under memory pressure; assembly then holds one
    * receiver's shards at a time.
    *
    * With `keepHome`, and an input of `partitions` partitions that
    * recomputes in the same order, at-home tiles ([[placedAt]]) send no
    * `rd = 0` shard; the reduce side reads them from its own input
    * partition and hands each to `assemble` as the receiver's local core.
    */
  private def exchange(tiles: RDD[Tile], partitions: Int, keepHome: Boolean,
      ship: (Tile, Boolean) => Seq[Shard])(
      assemble: (Long, Option[Tile], Array[Shard]) => Tile): RDD[Tile] = {
    val home = keepHome && tiles.getNumPartitions == partitions &&
      org.apache.spark.sql.graft.Bridge.recomputesInOrder(tiles)
    val shards = tiles.mapPartitionsWithIndex { (part, it) =>
      placedAt(part, partitions, home, it).flatMap { case (t, at) =>
        val chunks = chunksOf(t)
        ship(t, !at).map(s => ((s.destLin, chunks), encode(s)))
      }
    }
    val placed = new ShuffledRDD[(Long, Long), Array[Byte], Array[Byte]](
      shards, new ChunkPartitioner(partitions))
      .setKeyOrdering(Ordering.by[(Long, Long), Long](_._1))
    def receive(shipped: Iterator[((Long, Long), Array[Byte])],
        cores: Iterator[Tile]): Iterator[Tile] = {
      val in = shipped.buffered
      val own = cores.buffered
      new Iterator[Tile] {
        def hasNext: Boolean = in.hasNext || own.hasNext
        def next(): Tile = {
          val ownLin = if (own.hasNext) own.head.linearIndex else Long.MaxValue
          val lin = if (in.hasNext) math.min(in.head._1._1, ownLin) else ownLin
          val core = if (ownLin == lin) Some(own.next()) else None
          val group = Array.newBuilder[Shard]
          while (in.hasNext && in.head._1._1 == lin) group += decode(lin, in.next()._2)
          assemble(lin, core, group.result())
        }
      }
    }
    if (!home) placed.mapPartitions(receive(_, Iterator.empty), preservesPartitioning = true)
    else placed.zipPartitions(
      tiles.mapPartitionsWithIndex((part, it) =>
        placedAt(part, partitions, home, it).collect { case (t, true) => t }),
      preservesPartitioning = true)(receive)
  }

  /** Partitions of a halo exchange's output: `min(reducers,
    * spark.sql.shuffle.partitions)`, at least one.
    */
  private[graft] def partitions(spark: SparkSession, reducers: Long): Int =
    math.max(1L,
      math.min(reducers, spark.conf.get("spark.sql.shuffle.partitions").toLong)).toInt

  /** All non-zero direction vectors in {-1,0,1}^dims. */
  private[graft] def directions(dims: Int): IndexedSeq[Array[Int]] =
    (0 until math.pow(3, dims).toInt)
      .map { k =>
        var x = k
        val d = new Array[Int](dims)
        var a = dims - 1
        while (a >= 0) { d(a) = x % 3 - 1; x /= 3; a -= 1 }
        d
      }
      .filter(_.exists(_ != 0))

  private[graft] def inGrid(loc: Array[Int], d: Array[Int], grid: Array[Int]): Boolean = {
    var a = 0
    while (a < loc.length) {
      val c = loc(a) + d(a)
      if (c < 0 || c >= grid(a)) return false
      a += 1
    }
    true
  }

  /** Slice of a tile of shape `shape` to ship toward direction `d`: per
    * axis, `+1` sends the last `ov`, `-1` the first `ov`, `0` the sender's
    * `extent` on that axis.
    */
  private def marginBox(shape: Array[Int], extent: Nd.Box, d: Array[Int],
      overlaps: Array[Int]): Nd.Box = {
    val dims = shape.length
    val start = new Array[Int](dims)
    val end = new Array[Int](dims)
    var a = 0
    while (a < dims) {
      d(a) match {
        case 1  => start(a) = shape(a) - overlaps(a); end(a) = shape(a)
        case -1 => start(a) = 0; end(a) = overlaps(a)
        case _  => start(a) = extent.start(a); end(a) = extent.end(a)
      }
      a += 1
    }
    Nd.Box(start, end)
  }

  /** The shards `t` sends: its own payload when `core`, plus one margin
    * per in-grid direction `d` with `send(t.loc, d)`. The sender's extent
    * is its whole tile, or with `clip` its interior ([[Regions.interiorBox]]):
    * the core ships as that box, and each margin is `ov` thick on its
    * varying axes and spans that box on the others, which on those axes
    * is also the receiver's own extent. Clipped payloads are marked
    * ([[Nd.marked]]) so that the receiver can place them. Each array is
    * packed in the wire frame of its whole source array ([[Nd.packFrame]]),
    * found once per tile.
    */
  private[graft] def shardsOf(t: Tile, overlaps: Array[Int],
      send: (Array[Int], Array[Int]) => Boolean, core: Boolean = true,
      clip: Boolean = false): Seq[Shard] = {
    val (width, base) = Nd.packFrame(t.data)
    val classFrames = t.classes.map(Nd.packFrame)
    def pack(box: Nd.Box): (Array[Byte], Array[Array[Byte]]) =
      (Nd.packBox(t.data, t.shape, box, width, base, mark = clip),
        Array.tabulate(t.classes.length) { ch =>
          val (w, b) = classFrames(ch)
          Nd.packBox(t.classes(ch), t.shape, box, w, b)
        })
    val extent =
      if (clip) Regions.interiorBox(t.loc, t.grid, overlaps, t.shape) else Nd.fullBox(t.shape)
    val margins = directions(t.dims).collect {
      case d if inGrid(t.loc, d, t.grid) && send(t.loc, d) =>
        val dest = Array.tabulate(t.dims)(a => t.loc(a) + d(a))
        val box = marginBox(t.shape, extent, d, overlaps)
        val (data, classes) = pack(box)
        Shard(Regions.linearIndex(dest, t.grid), dest, t.grid, d.map(-_), box.shape,
          data, classes)
    }
    if (!core) margins
    else {
      val (own, ownClasses) = pack(extent)
      Shard(t.linearIndex, t.loc, t.grid, new Array[Int](t.dims), extent.shape, own,
        ownClasses) +: margins
    }
  }

  /** The shards O4 sends for `t`, an overlapped O3 tile: its core box and
    * the margins its receivers' parity rule will paint ([[receiverWillMerge]]),
    * each clipped to its receiver's core.
    */
  private[graft] def mergeShardsOf(t: Tile, overlaps: Array[Int]): Seq[Shard] =
    shardsOf(t, overlaps, receiverWillMerge, clip = true)

  /** The receiver's own tile: `local` (at home, [[exchange]]) or its one
    * shipped `rd = 0` shard, after checking that every sender direction
    * arrived at most once and the chunk has exactly one core. A grid cell
    * that appears twice in the input, or an input that recomputes
    * differently on the reduce side, fails here, naming the cell. `None`:
    * no core at all (the caller names its own contract).
    */
  private def ownCore(lin: Long, local: Option[Tile],
      all: Array[Shard]): Option[Either[Tile, Shard]] = {
    val seen = new java.util.BitSet()
    if (local.isDefined) seen.set(centre(local.get.dims))
    for (s <- all) {
      var k = 0
      s.rd.foreach(d => k = k * 3 + d + 1)
      if (seen.get(k)) {
        val sender = Regions.linearIndex(Array.tabulate(s.rd.length)(a => s.destLoc(a) + s.rd(a)),
          s.grid)
        throw new IllegalArgumentException(
          s"halo: the chunk at linear index $sender appears twice in the tile table, or " +
            s"its input recomputed differently: chunk $lin received two " +
            (if (k == centre(s.rd.length)) "cores" else "margins from it"))
      }
      seen.set(k)
    }
    local.map(Left(_)).orElse(all.find(_.rd.forall(_ == 0)).map(Right(_)))
  }

  /** [[ownCore]]'s index of the all-zero direction: `(3^dims - 1) / 2`. */
  private def centre(dims: Int): Int = (math.pow(3, dims).toInt - 1) / 2

  /** O1 halo expansion: input tiles are core (chunk) sized; output tiles
    * carry `overlap` margins copied from every existing neighbor
    * (`boundary=None`: grid borders get no halo). The output has as many
    * partitions as the input, capped by `spark.sql.shuffle.partitions`.
    * Tiles already in their output partition ship their margins only, and
    * the reduce stage reads the input a second time ([[Halo]]).
    *
    * The input is read through `Dataset.rdd` when this is called: when its
    * plan has an exchange of its own, adaptive execution runs that stage
    * then, not at the output's action. The same holds for [[mergeAndTrim]].
    */
  def expand(tiles: Dataset[Tile], overlaps: Array[Int]): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val in = tiles.rdd
    spark.createDataset(expand(in, overlaps, partitions(spark, in.getNumPartitions.toLong)))
  }

  /** [[expand]] over the tile RDD into `partitions` partitions; the
    * composites in [[Relabel]] pass the grid's chunk count, capped.
    */
  private[graft] def expand(tiles: RDD[Tile], overlaps: Array[Int],
      partitions: Int): RDD[Tile] =
    exchange(tiles, partitions, keepHome = true,
      (t, core) => shardsOf(t, overlaps, (_, _) => true, core))(
      assembleExpanded(_, _, _, overlaps))

  /** One receiver's halo-expanded tile: its core (`local`, or the shipped
    * `rd = 0` shard) with every shipped margin pasted around it.
    */
  private[graft] def assembleExpanded(lin: Long, local: Option[Tile], all: Array[Shard],
      overlaps: Array[Int]): Tile = {
    val core = ownCore(lin, local, all).getOrElse(throw new IllegalArgumentException(
      s"halo expand: no tile present at linear chunk index $lin — the " +
        "tile table must cover the full grid (dense chunking, like the " +
        "reference's dask arrays)"))
    val (loc, grid, cs, nCh) = core.fold(
      t => (t.loc, t.grid, t.shape, t.classes.length),
      s => (s.destLoc, s.grid, s.shape, s.classes.length))
    val dims = loc.length
    val outShape = Regions.haloShape(loc, grid, overlaps, cs)
    val lowOff = Array.tabulate(dims)(a => if (loc(a) > 0) overlaps(a) else 0)
    val out = new Array[Long](Nd.size(outShape))
    val outCls = Array.fill(nCh)(new Array[Long](out.length))
    def boxOf(rd: Array[Int]): Nd.Box = {
      val start = new Array[Int](dims)
      val end = new Array[Int](dims)
      var a = 0
      while (a < dims) {
        rd(a) match {
          case -1 => start(a) = 0; end(a) = overlaps(a)
          case 1  => start(a) = outShape(a) - overlaps(a); end(a) = outShape(a)
          case _  => start(a) = lowOff(a); end(a) = lowOff(a) + cs(a)
        }
        a += 1
      }
      Nd.Box(start, end)
    }
    for (t <- local) {
      val box = boxOf(new Array[Int](dims))
      Nd.pasteBox(out, outShape, box, t.data)
      var ch = 0
      while (ch < nCh) { Nd.pasteBox(outCls(ch), outShape, box, t.classes(ch)); ch += 1 }
    }
    for (s <- all) {
      val box = boxOf(s.rd)
      Nd.unpackBox(out, outShape, box, s.data)
      var ch = 0
      while (ch < nCh) { Nd.unpackBox(outCls(ch), outShape, box, s.classes(ch)); ch += 1 }
    }
    Tile(loc, grid, outShape, out, outCls)
  }

  /** O4 merge: ship each merging region's source pixels as shards over the
    * *already-overlapped* tiles and paint them in with the parity rule.
    * One shuffle, same key as [[expand]]. Output tiles are core-sized:
    * every shard is clipped to its receiver's core before it ships, since
    * the reference's trim (`relabeling.py:97`) would drop the rest.
    *
    * Only shards a receiver's merging-parity regions will consume are sent
    * (`utils.py:101-110`) — roughly half the traffic of a blind exchange.
    * The output has as many partitions as the input, capped by
    * `spark.sql.shuffle.partitions`; after [[expand]] that is the same
    * placement, so O4 runs as many tasks as O1.
    */
  def mergeAndTrim(tiles: Dataset[Tile], overlaps: Array[Int]): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val in = tiles.rdd
    spark.createDataset(mergeAndTrim(in, overlaps, partitions(spark, in.getNumPartitions.toLong)))
  }

  /** [[mergeAndTrim]] over the tile RDD into `partitions` partitions.
    * Every tile ships its core box ([[Halo]] says why).
    */
  private[graft] def mergeAndTrim(tiles: RDD[Tile], overlaps: Array[Int],
      partitions: Int): RDD[Tile] =
    exchange(tiles, partitions, keepHome = false, (t, _) => mergeShardsOf(t, overlaps))(
      (lin, _, all) => assembleMerged(lin, all, overlaps))

  /** Region levels of a shard from direction `rd`, as the receiver sees
    * them: a sender above (`rd = +1`) feeds a level-1 region, one below
    * (`rd = -1`) a level-0 region, and an axis the sender shares is not
    * varying.
    */
  private def levelsOf(rd: Array[Int]): Array[Int] =
    rd.map { case 1 => 1; case -1 => 0; case _ => Regions.NotVarying }

  /** One receiver's merged core from its merge group (shared with the
    * streaming re-expression in [[graft.streaming.StreamingTiles]]).
    *
    * One placement rule for every shard, the core included: its box is its
    * region's dest box in the receiver's halo frame ([[Regions.destBox]];
    * the whole frame for the core), clipped to the receiver's core when its
    * payload is marked so ([[shardsOf]] with `clip`), and only the part of
    * that box inside the core is unpacked. The core unpacks straight into
    * the core-sized output and [[Kernels.mergePaint]] paints the regions
    * over it in place; nothing is cloned and nothing is trimmed.
    *
    * Shards that [[mergeShardsOf]] did not clip (full-extent shards, as a
    * streaming checkpoint written before the clip holds them) place by the
    * same rule and assemble to the same tile. The mark, not the shape,
    * tells the two apart: a chunk's core box has the shape of a full
    * extent on a grid with smaller chunks.
    */
  private[graft] def assembleMerged(lin: Long, all: Array[Shard],
      overlaps: Array[Int]): Tile = {
    val core = ownCore(lin, None, all).flatMap(_.toOption).getOrElse(
      throw new IllegalArgumentException(
        s"merge: no tile present at linear chunk index $lin — dense grid required"))
    val (loc, grid) = (core.destLoc, core.grid)
    val frame =
      if (Nd.marked(core.data)) Regions.haloShape(loc, grid, overlaps, core.shape)
      else core.shape
    val interior = Regions.interiorBox(loc, grid, overlaps, frame)
    def inCore(s: Shard): (Array[Long], Array[Array[Long]]) = {
      val dest = Regions.destBox(loc, grid, overlaps, levelsOf(s.rd), frame)
      val box = if (Nd.marked(s.data)) dest.intersect(interior) else dest
      require(box.shape.sameElements(s.shape),
        s"merge: a ${s.shape.mkString("x")} shard from direction ${s.rd.mkString(",")} " +
          s"does not fit its ${box.shape.mkString("x")} box in chunk $lin")
      val part = box.intersect(interior).relativeTo(box.start)
      def one(packed: Array[Byte]): Array[Long] = {
        val values = new Array[Long](box.numel)
        Nd.unpackBox(values, s.shape, Nd.fullBox(s.shape), packed)
        if (part.numel == values.length) values else Nd.sliceBox(values, s.shape, part)
      }
      (one(s.data), s.classes.map(one))
    }
    val (data, classes) = inCore(core)
    val byRegion = all.filter(_.rd.exists(_ != 0)).map(s => (levelsOf(s.rd).toSeq, s)).toMap
    Kernels.mergePaint(Tile(loc, grid, interior.shape, data, classes), overlaps, levels =>
      inCore(byRegion.getOrElse(levels.toSeq,
        throw new IllegalArgumentException(
          s"merge: missing neighbor shard for region ${levels.mkString(",")} " +
            s"of tile ${loc.mkString(",")} — dense grid required"))))
  }

  /** The receiver at `loc + d` uses the shard iff the corresponding region is
    * in its merging set: some varying axis has an odd receiver coordinate.
    */
  private[graft] def receiverWillMerge(loc: Array[Int], d: Array[Int]): Boolean = {
    var a = 0
    while (a < d.length) {
      if (d(a) != 0 && (loc(a) + d(a)) % 2 != 0) return true
      a += 1
    }
    false
  }
}
