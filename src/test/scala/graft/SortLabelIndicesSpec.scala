package graft

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.CCL
import graft.ops.{Relabel, SegmentationFn}
import graft.tiles.{GridSpec, Tile}

/** Connected components whose ids are scaled by a fresh random factor on
  * every call: a segmentation function that labels the same tile
  * differently each time it is evaluated.
  */
final case class ScrambledCCL() extends SegmentationFn {
  def segment(tile: Tile): (Array[Long], Array[Array[Long]]) = {
    val f = java.util.concurrent.ThreadLocalRandom.current().nextLong(2, 100)
    (CCL.label(tile.data, tile.shape).map(_ * f), Array.empty[Array[Long]])
  }
}

/** O10 reads its input through one physical plan: the rank probe and the
  * remap see the same labels even when the segmentation function is not
  * deterministic, because the remap reuses the probe's shuffle output
  * instead of re-running the pipeline.
  */
class SortLabelIndicesSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private val N = 64; private val CS = 16; private val OV = 4
  private val spec = GridSpec(Array(N.toLong, N.toLong), Array(CS, CS))
  private val imageGen = BlobImages.gen(N, N, 100, 200, 3)

  /** Sort three seeded images' scrambled labels with `sort`; the result
    * must be dense 1..K and isomorphic to whole-image CCL.
    */
  private def check(path: String)(sort: Dataset[Tile] => Dataset[Tile]): Unit = {
    import spark.implicits._
    (0 until 3).foreach { i =>
      val img = imageGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val labels = Relabel.image2labels(
        spark.createDataset(BlobImages.toTiles(img, N, N, CS)), spec,
        ScrambledCCL(), Array(OV, OV), threshold = 0.25)
      val got = BlobImages.assemble(sort(labels).collect().toSeq, N, N, CS)
      val ctx = s"$path, seed $i"
      BlobImages.assertIsomorphic(got, CCL.label(img, Array(N, N)), ctx)
      BlobImages.assertDense(got, ctx)
    }
  }

  test("nondeterministic segmentation: broadcast rank map gives dense labels") {
    check("broadcast")(Relabel.sortLabelIndices)
  }

  test("nondeterministic segmentation: over-cap fallback gives dense labels") {
    spark.conf.set(Relabel.SortBroadcastCapKey, "1")
    try check("over cap")(Relabel.sortLabelIndices)
    finally spark.conf.unset(Relabel.SortBroadcastCapKey)
  }

  test("nondeterministic segmentation: distributed ranks give dense labels") {
    check("distributed")(Relabel.sortLabelIndicesDistributed)
  }

  test("a zarr write, then a collect, of sortLabelIndicesDistributed(image2labels) release its cache") {
    import spark.implicits._
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // start from an empty cache: the assertions below are about this test's own
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    def sorted() = Relabel.sortLabelIndicesDistributed(Relabel.image2labels(
      spark.createDataset(BlobImages.toTiles(
        imageGen.pureApply(Gen.Parameters.default, Seed(0L)), N, N, CS)),
      spec, graft.ops.CCLSegmentation(), Array(OV, OV), threshold = 0.25))
    def assertReleased(sink: String): Unit = {
      org.apache.spark.ListenerDrain.drain(sc)
      assert(sc.getPersistentRDDs.isEmpty, s"$sink left ${sc.getPersistentRDDs.size} persisted RDDs")
      assert(cache.isEmpty, s"$sink left the cache manager non-empty")
    }
    val written = sorted()
    assert(sc.getPersistentRDDs.nonEmpty && !cache.isEmpty,
      "building the result persisted nothing; the release checks below would be vacuous")
    graft.sources.ZarrIO.write(written, spec, TempDirs.create("graft-o10-release"))
    assertReleased("ZarrIO.write")
    val collected = sorted()
    assert(sc.getPersistentRDDs.nonEmpty)
    assert(collected.collect().length == (N / CS) * (N / CS))
    assertReleased("collect")
  }
}
