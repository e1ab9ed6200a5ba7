package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import graft.core.{CCL, Kernels, Nd, Regions}
import graft.ops.{CCLSegmentation, Halo, Relabel, SegmentationFn}
import graft.tiles.{GridSpec, Tile}
import graft.tools.TaskMetricSum

/** Both halo exchanges place tiles by linear chunk index over
  * `min(chunks, spark.sql.shuffle.partitions)` reducers, with AQE on and a
  * shuffle far under its 1 MB minimum partition size: AQE must not merge
  * these reducers, because the work after an exchange scales with pixels,
  * not with compressed shuffle bytes. Each reducer holds a contiguous
  * row-major range of ⌊chunks/n⌋ or ⌈chunks/n⌉ tiles in ascending `lin`.
  *
  * O1 keeps a tile that is already in its output partition where it is:
  * it ships its margins only, and the reducer pastes its core from its
  * own input partition. Whatever the input's order and partitioning, the
  * output is the same, and the shuffle carries exactly the margins plus
  * the cores of the tiles that were not at home.
  */
class HaloPlacementSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val ov = 2

  /** 2-D grids of 8-px chunks, and a 2×2×2 grid of 8³ chunks; blobs of at
    * most `ov + 1` px, so every tile holds a few labels.
    */
  private val cases: Seq[(String, GridSpec, Seq[Tile])] = Seq(
    ("3x3", 24, 24), ("1x3", 8, 24)).map { case (name, h, w) =>
      val img = BlobImages.gen(h, w, 6, 12, ov + 1).pureApply(Gen.Parameters.default, Seed(7L))
      (name, GridSpec(Array(h.toLong, w.toLong), Array(8, 8)), BlobImages.toTiles(img, h, w, 8))
    } :+ {
      val img = BlobImages.gen3(16, 16, 16, 8, 16, ov + 1).pureApply(Gen.Parameters.default, Seed(7L))
      ("2x2x2", GridSpec(Array(16L, 16L, 16L), Array(8, 8, 8)), BlobImages.toTiles3(img, 16, 16, 16, 8))
    }

  /** Tasks of `action` that read shuffle records: a reducer of the
    * exchange under test (inputs are persisted, and `collect` adds no
    * exchange of its own).
    */
  private def reducerTasks(action: => Any): Long = {
    val sc = spark.sparkContext
    val tasks = new TaskMetricSum(sc, m => if (m.shuffleReadMetrics.recordsRead > 0) 1L else 0L)
    try { tasks.reset(); action; tasks.get() }
    finally sc.removeSparkListener(tasks)
  }

  private def persisted[T](ds: Dataset[T]): Dataset[T] = { ds.persist(); ds.count(); ds }

  /** Each partition's linear chunk indices, in partition order. */
  private def placement(ds: Dataset[Tile]): Seq[Seq[Long]] =
    ds.rdd.mapPartitions(it => Iterator.single(it.map(_.linearIndex).toVector)).collect().toSeq

  private def assertPlaced(what: String, got: Seq[Seq[Long]], chunks: Int, n: Int): Unit = {
    assert(got.size == n, s"$what: ${got.size} partitions, expected $n")
    assert(got.flatten == (0L until chunks), s"$what: placement $got is not row-major ranges")
    assert(got.forall(p => p.size == chunks / n || p.size == (chunks + n - 1) / n),
      s"$what: unbalanced placement $got of $chunks chunks over $n partitions")
  }

  for ((name, spec, tiles) <- cases)
    test(s"O1 and O4 on a $name grid run min(chunks, 4) reducers, each a balanced ascending range") {
      import spark.implicits._
      val ovs = Array.fill(spec.dims)(ov)
      val chunks = spec.gridShape.product
      val n = math.min(chunks, spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val input = persisted(spark.createDataset(tiles))
      var o1, removed: Dataset[Tile] = null
      try {
        o1 = Relabel.prepareInput(input, spec, ovs)
        val o1Tasks = reducerTasks(o1.collect())
        assert(o1Tasks == n, s"O1 ran $o1Tasks reducer tasks, expected $n")
        assertPlaced("O1", placement(persisted(o1)), chunks, n)

        removed = persisted(Relabel.removeOverlappedLabels(
          Relabel.segmentOverlappedInput(o1, CCLSegmentation()), ovs, 0.25))
        var merged: Array[Tile] = null
        val o4Tasks = reducerTasks {
          merged = Relabel.mergeOverlappedTiles(removed, ovs).collect()
        }
        assert(o4Tasks == n, s"O4 ran $o4Tasks reducer tasks, expected $n")
        assert(merged.map(_.linearIndex).toSeq == (0L until chunks))
        assertPlaced("O4", placement(Relabel.mergeOverlappedTiles(removed, ovs)), chunks, n)
      } finally Seq(input, o1, removed).filter(_ != null).foreach(_.unpersist(true))
    }

  test("O4 ships chunk-offset labels at their tile-local width: at most 2 bytes per value from lin 2 on") {
    import spark.implicits._
    val img = BlobImages.gen(32, 32, 12, 24, ov + 1).pureApply(Gen.Parameters.default, Seed(7L))
    val spec = GridSpec(Array(32L, 32L), Array(8, 8))
    val ovs = Array(ov, ov)
    val removed = Relabel.removeOverlappedLabels(Relabel.segmentOverlappedInput(
      Relabel.prepareInput(spark.createDataset(BlobImages.toTiles(img, 32, 32, 8)), spec, ovs),
      CCLSegmentation()), ovs, 0.25).collect()
    assert(removed.length == 16)
    val offset = removed.filter(_.linearIndex >= 2)
    val labelled = offset.count(_.data.exists(_ != 0L))
    assert(labelled >= 8, s"only $labelled tiles from lin 2 on hold labels")
    for (t <- offset; s <- Halo.shardsOf(t, ovs, Halo.receiverWillMerge)) {
      // their global IDs alone would need eight bytes
      assert(t.data.forall(_ == 0L) || Nd.packWidth(t.data) == 8)
      val width = s.data(0) & 0x7f
      val n = Nd.size(s.shape)
      assert(width <= 2 && s.data.length <= 9 + 2 * n,
        s"tile ${t.linearIndex} ships ${s.data.length} B for $n labels at width $width")
    }
  }

  test("O4 shards in the untagged width-8 format still assemble; a short payload fails naming its width") {
    val ovs = Array(2, 2, 2)
    val shards = StageTables.rem3d.flatMap(t => Halo.shardsOf(t, ovs, Halo.receiverWillMerge))
    assert(shards.exists(s => (s.data(0) & 0x80) != 0), "no shard carries a base")
    val old = shards.map(widened)
    val oldByLin = old.groupBy(_.destLin)
    val trimmed = StageTables.trim3d.map(t => t.linearIndex -> t).toMap
    for ((lin, group) <- shards.groupBy(_.destLin)) {
      val now = Halo.assembleMerged(lin, group.toArray, ovs)
      val before = Halo.assembleMerged(lin, oldByLin(lin).toArray, ovs)
      assert(now.data.sameElements(trimmed(lin).data), s"tile $lin differs from image2labels")
      assert(before.data.sameElements(now.data), s"old-format tile $lin differs")
    }
    for (s <- Seq(shards.find(s => (s.data(0) & 0x80) != 0).get, old.head)) {
      val width = s.data(0) & 0x7f
      val e = intercept[IllegalArgumentException](Nd.unpackBox(
        new Array[Long](Nd.size(s.shape)), s.shape, Nd.fullBox(s.shape), s.data.dropRight(1)))
      assert(e.getMessage.contains(s"of width $width"), e.getMessage)
    }
  }

  /** `s` as older streaming checkpoints hold it: every value at width 8,
    * untagged.
    */
  private def widened(s: Halo.Shard): Halo.Shard = {
    def widen(packed: Array[Byte]): Array[Byte] = {
      val values = new Array[Long](Nd.size(s.shape))
      Nd.unpackBox(values, s.shape, Nd.fullBox(s.shape), packed)
      val buf = java.nio.ByteBuffer.allocate(1 + 8 * values.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(8.toByte)
      values.foreach(buf.putLong)
      buf.array()
    }
    s.copy(data = widen(s.data), classes = s.classes.map(widen))
  }

  /** A `shape` image of values up to 300 (two wire widths) and one classes
    * channel, cut into `chunk` tiles, ragged at the high edges.
    */
  private def imageTiles(shape: Array[Int], chunk: Array[Int], seed: Int)
      : (GridSpec, Seq[Tile], Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val img = Array.fill(Nd.size(shape))(if (rnd.nextInt(3) == 0) 0L else rnd.nextInt(300).toLong)
    val cls = img.map(v => if (v == 0L) 0L else 1L + v % 3)
    val (spec, tiles) = cut(img, cls, shape, chunk)
    (spec, tiles, img, cls)
  }

  /** `img` and its classes channel `cls`, both of `shape`, cut into `chunk`
    * tiles, ragged at the high edges.
    */
  private def cut(img: Array[Long], cls: Array[Long], shape: Array[Int],
      chunk: Array[Int]): (GridSpec, Seq[Tile]) = {
    val spec = GridSpec(shape.map(_.toLong), chunk)
    val grid = spec.gridShape
    val tiles = (0 until grid.product).map { lin =>
      val loc = unravel(lin, grid)
      val box = Nd.Box(Array.tabulate(shape.length)(a => loc(a) * chunk(a)),
        Array.tabulate(shape.length)(a => math.min((loc(a) + 1) * chunk(a), shape(a))))
      Tile(loc, grid, box.shape, Nd.sliceBox(img, shape, box), Array(Nd.sliceBox(cls, shape, box)))
    }
    (spec, tiles)
  }

  private def unravel(lin: Int, shape: Array[Int]): Array[Int] = {
    val st = Nd.strides(shape)
    Array.tabulate(shape.length)(a => lin / st(a) % shape(a))
  }

  /** O1's output tile at `loc` by definition: the window `[loc * chunk -
    * ov, (loc + 1) * chunk + ov)` of the image, with no halo past the grid
    * border and zeros past a ragged edge, for the data and the classes.
    */
  private def window(spec: GridSpec, img: Array[Long], cls: Array[Long], ovs: Array[Int],
      loc: Array[Int]): Tile = {
    val shape = spec.imageShape.map(_.toInt)
    val out = spec.overlappedShape(loc, ovs)
    val origin = Array.tabulate(loc.length)(a => loc(a) * spec.chunk(a) - (if (loc(a) > 0) ovs(a) else 0))
    def cut(src: Array[Long]) = Array.tabulate(Nd.size(out)) { i =>
      val g = unravel(i, out).zip(origin).map { case (x, o) => x + o }
      if (g.indices.forall(a => g(a) < shape(a))) src(Regions.linearIndex(g, shape).toInt) else 0L
    }
    Tile(loc, spec.gridShape, out, cut(img), Array(cut(cls)))
  }

  /** How many tiles of `order`, split into `k` slices the way Spark splits
    * a sequence, stay at home in an exchange into `n` partitions: the ones
    * in the slice Spark's split of the `chunks` rows into `n` gives their
    * `lin`, each above the last such `lin` in its slice.
    */
  private def atHome(order: Seq[Long], k: Int, n: Int, chunks: Long): Int =
    if (k != n) 0
    else (0 until k).map { p =>
      var last = -1L
      order.slice((p.toLong * order.size / k).toInt, ((p + 1).toLong * order.size / k).toInt)
        .count { lin =>
          val at = lin > last && p * chunks / n <= lin && lin < (p + 1) * chunks / n
          if (at) last = lin
          at
        }
    }.sum

  /** Shuffle records written and read while running `action`. */
  private def records(action: => Any): (Long, Long) = {
    val sc = spark.sparkContext
    val written = new TaskMetricSum(sc, _.shuffleWriteMetrics.recordsWritten)
    val read = new TaskMetricSum(sc, _.shuffleReadMetrics.recordsRead)
    try { written.reset(); read.reset(); action; (written.get(), read.get()) }
    finally { sc.removeSparkListener(written); sc.removeSparkListener(read) }
  }

  /** `tiles` in `order` as a Dataset of exactly `k` partitions. */
  private def input(tiles: Seq[Tile], order: Seq[Long], k: Int): Dataset[Tile] = {
    import spark.implicits._
    val byLin = tiles.map(t => t.linearIndex -> t).toMap
    spark.createDataset(spark.sparkContext.parallelize(order.map(byLin), k))
  }

  private def assertSameTile(ctx: String, got: Tile, want: Tile): Unit = {
    assert(got.loc.sameElements(want.loc) && got.grid.sameElements(want.grid) &&
      got.shape.sameElements(want.shape), s"$ctx: tile ${want.loc.mkString(",")} is misplaced")
    assert(got.data.sameElements(want.data), s"$ctx: tile ${want.loc.mkString(",")} data differs")
    assert(got.classes.length == 1 && got.classes(0).sameElements(want.classes(0)),
      s"$ctx: tile ${want.loc.mkString(",")} classes differ")
  }

  /** A ragged 3×3 grid of 8² chunks (`geojson2d`'s shape, where Spark's
    * split and a `lin * n / chunks` placement differ) and a 2×3×3 grid of
    * 4³ chunks, ragged on one axis.
    */
  private val placementGrids = Seq(
    ("ragged 2-D 3x3", Array(20, 20), Array(8, 8)),
    ("3-D 2x3x3", Array(8, 12, 10), Array(4, 4, 4)))

  for ((name, shape, chunk) <- placementGrids)
    test(s"O1 on a $name grid equals the image windows whatever the input's order; only cores away from home ship") {
      val ovs = Array.fill(shape.length)(2)
      val (spec, tiles, img, cls) = imageTiles(shape, chunk, 11)
      val chunks = spec.gridShape.product.toLong
      val n = math.min(chunks, spark.conf.get("spark.sql.shuffle.partitions").toLong).toInt
      val margins = tiles.map(t => Halo.directions(t.dims).count(Halo.inGrid(t.loc, _, t.grid))).sum
      val rowMajor = 0L until chunks
      val orders = Seq(
        ("placed", rowMajor, n),
        ("reversed", rowMajor.reverse, n),
        (s"placed over ${n + 1} partitions", rowMajor, n + 1),
        ("half placed", rowMajor.filter(_ % 2 == 0) ++ rowMajor.filter(_ % 2 == 1), n))
      for ((how, order, k) <- orders) {
        val ctx = s"$name, $how"
        val home = atHome(order, k, n, chunks)
        if (how == "placed") assert(home == chunks, s"$ctx: only $home of $chunks tiles at home")
        val o1 = Relabel.prepareInput(input(tiles, order, k), spec, ovs)
        var out: Array[Tile] = null
        val (written, _) = records { out = o1.collect() }
        assert(written == margins + chunks - home,
          s"$ctx: O1 shipped $written records for $margins margins and ${chunks - home} cores")
        assert(out.map(_.linearIndex).toSeq == rowMajor, s"$ctx: output order")
        out.foreach(t => assertSameTile(ctx, t, window(spec, img, cls, ovs, t.loc)))
        // one task computing every reducer in turn, as a coalesced sink does
        o1.coalesce(1).collect().foreach(t =>
          assertSameTile(s"$ctx, coalesced", t, window(spec, img, cls, ovs, t.loc)))
        assertPlaced(ctx, placement(o1), chunks.toInt, n)
      }
    }

  test("O1 ships every core of an input whose order depends on a shuffle") {
    val ovs = Array(2, 2)
    val (spec, tiles, img, cls) = imageTiles(Array(20, 20), Array(8, 8), 14)
    val margins = tiles.map(t => Halo.directions(2).count(Halo.inGrid(t.loc, _, t.grid))).sum
    // a round-robin repartition into O1's own partition count
    val shuffled = input(tiles, 0L until 9L, 4).repartition(4)
    var out: Array[Tile] = null
    val (written, _) = records { out = Relabel.prepareInput(shuffled, spec, ovs).collect() }
    // the repartition's own records, then O1's margins and all nine cores
    assert(written == 9 + margins + 9, s"shipped $written records for $margins margins")
    out.foreach(t => assertSameTile("repartitioned", t, window(spec, img, cls, ovs, t.loc)))
  }

  test("O1 on a 1-chunk grid ships nothing and its reducer reads no records") {
    val ovs = Array(2, 2)
    val (spec, tiles, img, cls) = imageTiles(Array(5, 7), Array(8, 8), 12)
    var out: Array[Tile] = null
    val (written, read) = records {
      out = Relabel.prepareInput(input(tiles, Seq(0L), 1), spec, ovs).collect()
    }
    assert(written == 0 && read == 0, s"a 1-chunk grid shipped $written and read $read records")
    assert(out.length == 1)
    assertSameTile("1-chunk grid", out(0), window(spec, img, cls, ovs, Array(0, 0)))
  }

  test("a grid cell that appears twice fails O1 and O4, naming its linear index") {
    import spark.implicits._
    val ovs = Array(2, 2)
    val (spec, tiles, _, _) = imageTiles(Array(20, 20), Array(8, 8), 13)
    def failure(action: => Any): String = {
      val e = intercept[org.apache.spark.SparkException](action)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    }
    // at home and shipped, and shipped twice
    for ((order, k) <- Seq(((0L to 8L) :+ 4L).sorted -> 4, ((0L to 8L) :+ 4L) -> 5)) {
      val msg = failure(Relabel.prepareInput(input(tiles, order, k), spec, ovs).collect())
      assert(msg.contains("linear index 4 appears twice"), msg)
    }
    val removed = Relabel.removeOverlappedLabels(Relabel.segmentOverlappedInput(
      Relabel.prepareInput(spark.createDataset(tiles), spec, ovs), CCLSegmentation()),
      ovs, 0.25).collect()
    val msg = failure(Relabel.mergeOverlappedTiles(
      spark.createDataset(removed :+ removed(4)), ovs).collect())
    assert(msg.contains("linear index 4 appears twice"), msg)
  }

  /** Ragged grids for O4: blobs of at most `ov + 1` px in a 2-D image of
    * 3×4 chunks and a 3-D volume of 3×3×3 chunks, ragged on every axis.
    */
  private val mergeGrids = Seq(
    ("ragged 2-D 3x4", Array(20, 28), Array(8, 8)),
    ("ragged 3-D 3x3x3", Array(10, 13, 11), Array(4, 5, 4)))

  /** O3's output (overlap 2, threshold 0.25, [[ClassedCCL]]) on a seeded
    * blob image of `shape` cut into `chunk` tiles, with the input tiles.
    */
  private def removedTiles(shape: Array[Int], chunk: Array[Int])
      : (GridSpec, Seq[Tile], Seq[Tile]) = {
    import spark.implicits._
    val img = (if (shape.length == 2) BlobImages.gen(shape(0), shape(1), 6, 12, 3)
      else BlobImages.gen3(shape(0), shape(1), shape(2), 8, 16, 3))
      .pureApply(Gen.Parameters.default, Seed(5L))
    val (spec, tiles) = cut(img, img, shape, chunk)
    val ovs = Array.fill(shape.length)(ov)
    val removed = Relabel.removeOverlappedLabels(Relabel.segmentOverlappedInput(
      Relabel.prepareInput(spark.createDataset(tiles), spec, ovs), ClassedCCL), ovs, 0.25)
    (spec, tiles, removed.collect().toSeq.sortBy(_.linearIndex))
  }

  /** Every direction vector in {-1,0,1}^dims, the zero vector included. */
  private def allDirections(dims: Int): Seq[Array[Int]] =
    (0 until dims).foldLeft(Seq(Array.empty[Int]))((acc, _) =>
      for (d <- acc; v <- Seq(-1, 0, 1)) yield d :+ v)

  for ((name, shape, chunk) <- mergeGrids)
    test(s"O4 ships no voxel outside the receiver's core on a $name grid") {
      val ovs = Array.fill(shape.length)(ov)
      val (spec, _, removed) = removedTiles(shape, chunk)
      val dims = shape.length
      val grid = spec.gridShape
      val byLin = removed.map(t => t.linearIndex -> t).toMap
      def interior(t: Tile) = Regions.interiorBox(t.loc, t.grid, ovs, t.shape)
      var shipped = 0L
      for (t <- removed; s <- Halo.mergeShardsOf(t, ovs)) {
        val ctx = s"shard from ${t.loc.mkString(",")} toward ${s.destLoc.mkString(",")}"
        val core = interior(byLin(s.destLin)).shape
        if (s.rd.forall(_ == 0))
          assert(s.shape.sameElements(interior(t).shape), s"$ctx: core ${s.shape.mkString("x")}")
        else assert((0 until dims).forall(a => s.shape(a) == (if (s.rd(a) != 0) ov else core(a))),
          s"$ctx: margin ${s.shape.mkString("x")} for a ${core.mkString("x")} core")
        // labels and the classes channel both hold exactly the shard's box
        for (packed <- s.data +: s.classes.toSeq)
          Nd.unpackBox(new Array[Long](Nd.size(s.shape)), s.shape, Nd.fullBox(s.shape), packed)
        assert(s.classes.length == 1, s"$ctx: ${s.classes.length} class channels")
        // marked as clipped, and labels at their tile-local width
        assert(Nd.marked(s.data) && (s.data(0) & 0x3f) <= 2, s"$ctx: header byte ${s.data(0)}")
        shipped += Nd.size(s.shape)
      }
      // the model: every chunk's (padded) core, plus one margin toward each
      // in-grid neighbour whose parity rule merges it, `ov` thick where the
      // two chunks differ and chunk-sized where they share a coordinate
      val locs = (0 until grid.product).map(lin => unravel(lin, grid))
      val margins = for (loc <- locs; d <- allDirections(dims) if d.exists(_ != 0)) yield {
        val dest = Array.tabulate(dims)(a => loc(a) + d(a))
        val merges = (0 until dims).exists(a => d(a) != 0 && dest(a) % 2 != 0)
        if (dest.indices.forall(a => dest(a) >= 0 && dest(a) < grid(a)) && merges)
          (0 until dims).map(a => (if (d(a) != 0) ov else chunk(a)).toLong).product
        else 0L
      }
      val model = locs.size.toLong * chunk.map(_.toLong).product + margins.sum
      assert(shipped == model, s"O4 shipped $shipped voxels per channel; the core model is $model")
    }

  /** Merge shards by the box rule that streaming checkpoints written before
    * the clip hold: the core is the whole overlapped tile, and a margin
    * spans the sender's whole tile on the axes it shares with its receiver.
    */
  private def fullExtentShards(t: Tile, ovs: Array[Int]): Seq[Halo.Shard] = {
    val (width, base) = Nd.packFrame(t.data)
    def pack(box: Nd.Box) = (Nd.packBox(t.data, t.shape, box, width, base),
      t.classes.map { c => val (w, b) = Nd.packFrame(c); Nd.packBox(c, t.shape, box, w, b) })
    allDirections(t.dims).flatMap { d =>
      val dest = Array.tabulate(t.dims)(a => t.loc(a) + d(a))
      val inGrid = dest.indices.forall(a => dest(a) >= 0 && dest(a) < t.grid(a))
      val merges = d.forall(_ == 0) || d.indices.exists(a => d(a) != 0 && dest(a) % 2 != 0)
      if (!inGrid || !merges) None
      else {
        val box = Nd.Box(Array.tabulate(t.dims)(a => if (d(a) == 1) t.shape(a) - ovs(a) else 0),
          Array.tabulate(t.dims)(a => if (d(a) == -1) ovs(a) else t.shape(a)))
        val (data, classes) = pack(box)
        Some(Halo.Shard(Regions.linearIndex(dest, t.grid), dest, t.grid, d.map(-_), box.shape,
          data, classes))
      }
    }
  }

  for ((name, shape, chunk) <- mergeGrids)
    test(s"O4 full-extent shards from older checkpoints assemble to the same tiles on a $name grid") {
      import spark.implicits._
      val ovs = Array.fill(shape.length)(ov)
      val (spec, tiles, removed) = removedTiles(shape, chunk)
      val labelled = Relabel.image2labels(spark.createDataset(tiles), spec, ClassedCCL, ovs, 0.25)
        .collect().map(t => t.linearIndex -> t).toMap
      val clipped = removed.flatMap(Halo.mergeShardsOf(_, ovs)).groupBy(_.destLin)
      val full = removed.flatMap(fullExtentShards(_, ovs)).groupBy(_.destLin)
      assert(full.values.flatten.size == clipped.values.flatten.size)
      def isCore(s: Halo.Shard) = s.rd.forall(_ == 0)
      for ((lin, now) <- clipped) {
        val before = full(lin)
        val groups = Seq(
          "core-clipped" -> now,
          "full-extent" -> before,
          "full-extent, untagged width 8" -> before.map(widened),
          "full-extent core, clipped margins" -> (before.filter(isCore) ++ now.filterNot(isCore)),
          "clipped core, full-extent margins at width 8" ->
            (now.filter(isCore) ++ before.filterNot(isCore).map(widened)))
        for ((how, group) <- groups) {
          val t = Halo.assembleMerged(lin, group.toArray, ovs)
          assertSameTile(s"$name, $how", Kernels.cropTo(t, spec.tileShape(t.loc)), labelled(lin))
        }
      }
      assert(labelled.values.exists(_.classes(0).exists(_ > 1L)), "no object of a second class")
    }
}

/** CCL labels with a classes channel that varies by object: `1 + label % 3`. */
private case object ClassedCCL extends SegmentationFn {
  def segment(tile: Tile): (Array[Long], Array[Array[Long]]) = {
    val labels = CCL.label(tile.data, tile.shape)
    (labels, Array(labels.map(v => if (v == 0L) 0L else 1L + v % 3)))
  }
}
