package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import graft.core.Nd
import graft.ops.{CCLSegmentation, Halo, Relabel}
import graft.tiles.{GridSpec, Tile}
import graft.tools.TaskMetricSum

/** Both halo exchanges place tiles by linear chunk index over
  * `min(chunks, spark.sql.shuffle.partitions)` reducers, with AQE on and a
  * shuffle far under its 1 MB minimum partition size: AQE must not merge
  * these reducers, because the work after an exchange scales with pixels,
  * not with compressed shuffle bytes. Each reducer holds a contiguous
  * row-major range of ⌊chunks/n⌋ or ⌈chunks/n⌉ tiles in ascending `lin`.
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
    // what older streaming checkpoints hold: every label at width 8, untagged
    def widen(s: Halo.Shard)(packed: Array[Byte]): Array[Byte] = {
      val values = new Array[Long](Nd.size(s.shape))
      Nd.unpackBox(values, s.shape, Nd.fullBox(s.shape), packed)
      val buf = java.nio.ByteBuffer.allocate(1 + 8 * values.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(8.toByte)
      values.foreach(buf.putLong)
      buf.array()
    }
    val old = shards.map(s => s.copy(data = widen(s)(s.data), classes = s.classes.map(widen(s))))
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
}
