package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.GridSpec

/** Stage-pair golden tests mirroring `tests/test_relabeling.py`: each
  * operator's output must equal the reference's golden arrays bit-for-bit
  * (`np.array_equal` semantics), for the 2D (4x3 grid, 4x4 chunks, overlap 2,
  * threshold 0.25) and 3D (3x2x3, 5^3, overlap 2, threshold 0.125) matrices.
  */
class RelabelGoldenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session

  val ov2 = Array(2, 2)
  val ov3 = Array(2, 2, 2)
  val spec2 = GridSpec(Array(16L, 12L), Array(4, 4))
  val spec3 = GridSpec(Array(15L, 10L, 15L), Array(5, 5, 5))

  test("prepare_input matches ovp_input_2d") {
    val in = Goldens.tiles(spark, "input_2d", Goldens.grid2d)
    val got = Relabel.prepareInput(in, spec2, ov2).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("ovp_input_2d", Goldens.grid2d))
  }

  test("prepare_input matches ovp_input_3d") {
    val in = Goldens.tiles(spark, "input_3d", Goldens.grid3d)
    val got = Relabel.prepareInput(in, spec3, ov3).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("ovp_input_3d", Goldens.grid3d))
  }

  test("segment_overlapped_input matches seg_2d") {
    val in = Goldens.tiles(spark, "ovp_input_2d", Goldens.grid2d)
    val got = Relabel.segmentOverlappedInput(in, CCLSegmentation()).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("seg_2d", Goldens.grid2d))
  }

  test("segment_overlapped_input matches seg_3d") {
    val in = Goldens.tiles(spark, "ovp_input_3d", Goldens.grid3d)
    val got = Relabel.segmentOverlappedInput(in, CCLSegmentation()).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("seg_3d", Goldens.grid3d))
  }

  test("segment with classes channel") {
    val in = Goldens.tiles(spark, "ovp_input_2d", Goldens.grid2d)
    val got = Relabel.segmentOverlappedInput(in, CCLSegmentation(returnsClasses = true))
      .collect().toSeq
    Goldens.assertSameTiles(got,
      Goldens.localTiles("seg_2d", Goldens.grid2d, withClasses = true),
      checkClasses = true)
  }

  test("remove_overlapped_labels matches rem_2d") {
    val in = Goldens.tiles(spark, "seg_2d", Goldens.grid2d)
    val got = Relabel.removeOverlappedLabels(in, ov2, 0.25).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("rem_2d", Goldens.grid2d))
  }

  test("remove_overlapped_labels matches rem_3d") {
    val in = Goldens.tiles(spark, "seg_3d", Goldens.grid3d)
    val got = Relabel.removeOverlappedLabels(in, ov3, 0.125).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("rem_3d", Goldens.grid3d))
  }

  test("remove with classes masks by survival") {
    val in = Goldens.tiles(spark, "seg_2d", Goldens.grid2d, withClasses = true)
    val got = Relabel.removeOverlappedLabels(in, ov2, 0.25).collect().toSeq
    Goldens.assertSameTiles(got,
      Goldens.localTiles("rem_2d", Goldens.grid2d, withClasses = true),
      checkClasses = true)
  }

  test("merge_overlapped_tiles matches trim_2d") {
    val in = Goldens.tiles(spark, "rem_2d", Goldens.grid2d)
    val got = Relabel.mergeOverlappedTiles(in, ov2).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("trim_2d", Goldens.grid2d))
  }

  test("merge_overlapped_tiles matches trim_3d") {
    val in = Goldens.tiles(spark, "rem_3d", Goldens.grid3d)
    val got = Relabel.mergeOverlappedTiles(in, ov3).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("trim_3d", Goldens.grid3d))
  }

  test("merge with classes channel") {
    val in = Goldens.tiles(spark, "rem_2d", Goldens.grid2d, withClasses = true)
    val got = Relabel.mergeOverlappedTiles(in, ov2).collect().toSeq
    Goldens.assertSameTiles(got,
      Goldens.localTiles("trim_2d", Goldens.grid2d, withClasses = true),
      checkClasses = true)
  }

  test("sort_label_indices matches sort_2d") {
    val in = Goldens.tiles(spark, "trim_2d", Goldens.grid2d)
    val got = Relabel.sortLabelIndices(in).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("sort_2d", Goldens.grid2d))
  }

  test("distributed sort_label_indices matches the broadcast variant") {
    // image2labels of the in-repo 2-D image and 3-D volume (trim_2d/trim_3d geometry)
    for ((name, tiles) <- Seq(("2d", StageTables.trim2d), ("3d", StageTables.trim3d))) {
      val labels = tiles.flatMap(_.data.filter(_ != 0L)).distinct.sorted
      assert(labels.length > 1 && labels != (1L to labels.length.toLong),
        s"$name: the O10 input must hold several labels that are not already 1..K")
      val in = spark.createDataset(tiles)(spark.implicits.newProductEncoder)
      val viaBroadcast = Relabel.sortLabelIndices(in).collect().toSeq
      val viaDistributed = Relabel.sortLabelIndicesDistributed(in).collect().toSeq
      Goldens.assertSameTiles(viaDistributed, viaBroadcast)
    }
  }

  test("sort_label_indices cap: broadcast below, auto-distributed above") {
    val in = Goldens.tiles(spark, "trim_2d", Goldens.grid2d)
    val golden = Goldens.localTiles("sort_2d", Goldens.grid2d)
    def planOf(ds: org.apache.spark.sql.Dataset[_]): String =
      ds.queryExecution.executedPlan.toString
    // BELOW the cap (the fixture's label space is tiny vs the 4M default):
    // the driver round-trip runs — no CoGroup anywhere in the plan
    val below = Relabel.sortLabelIndices(in)
    assert(!planOf(below).contains("CoGroup"),
      "below the cap the broadcast remap must run, not the cogroup")
    Goldens.assertSameTiles(below.collect().toSeq, golden)
    // ABOVE the cap (forced with a 1-label cap): the guard's limit probe
    // sees cap+1 labels, collects nothing more, and the call must
    // auto-switch to the distributed variant — same output contract,
    // observable as the cogroup remap in the physical plan
    spark.conf.set(Relabel.SortBroadcastCapKey, "1")
    try {
      val above = Relabel.sortLabelIndices(in)
      assert(planOf(above).contains("CoGroup"),
        "above the cap the distributed remap must run")
      Goldens.assertSameTiles(above.collect().toSeq, golden)
    } finally spark.conf.unset(Relabel.SortBroadcastCapKey)
  }

  test("sort_label_indices matches sort_3d") {
    val in = Goldens.tiles(spark, "trim_3d", Goldens.grid3d)
    val got = Relabel.sortLabelIndices(in).collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("sort_3d", Goldens.grid3d))
  }

  test("image2labels end-to-end matches trim_2d") {
    val in = Goldens.tiles(spark, "input_2d", Goldens.grid2d)
    val got = Relabel.image2labels(in, spec2, CCLSegmentation(), ov2, 0.25)
      .collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("trim_2d", Goldens.grid2d))
  }

  test("image2labels end-to-end matches trim_3d") {
    val in = Goldens.tiles(spark, "input_3d", Goldens.grid3d)
    val got = Relabel.image2labels(in, spec3, CCLSegmentation(), ov3, 0.125)
      .collect().toSeq
    Goldens.assertSameTiles(got, Goldens.localTiles("trim_3d", Goldens.grid3d))
  }
}

object SparkTest {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS): read ts as a long of nanos,
      // matching the Verify/Bench sessions
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
