package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Nd
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.GridSpec
import graft.tools.TaskMetricSum

/** Shuffle-volume regression guards: the scale arguments in the query
  * docstrings ("only margins move", "communication is d² per partition",
  * "candidates only, never all-pairs") asserted as MEASURED byte budgets,
  * not prose. Each bound is ~4× the currently observed volume at
  * sf0.001 — loose enough for partitioning jitter, tight enough that a
  * regression to a data-sized shuffle (the failure mode each docstring
  * rules out) blows through it by orders of magnitude.
  */
class ShuffleBudgetSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  /** Shuffle bytes written while running `action` once. The
    * counter is only meaningful because suites run serially against the
    * shared session (build.sbt `Test / parallelExecution := false`) — a
    * concurrent suite's tasks would land in the same global listener.
    */
  private def shuffleOf(action: => Any): Long = {
    val sc = spark.sparkContext
    val bytes = new TaskMetricSum(sc, _.shuffleWriteMetrics.bytesWritten)
    try {
      bytes.reset()
      action
      bytes.get()
    } finally {
      sc.removeSparkListener(bytes)
      spark.catalog.clearCache()
    }
  }

  /** (query, byte budget, which docstring claim the budget pins). */
  private val budgets = Seq(
    // two halo exchanges move MARGINS (ov=2 of 12px tiles), never tiles
    ("px_pipeline", 2L << 20, "margins-only halo exchange"),
    // Gram cells: d²·partitions rows, independent of vector count
    ("vec_gram", 4L << 20, "d² per partition accumulator"),
    // LSH: band-bucket candidates only — no all-pairs shuffle
    ("dd_minhash_lsh", 8L << 20, "banded candidates, not all-pairs"),
    // transition matrix: ONE data pass then states²-bounded relations
    ("sq_markov_removal", 8L << 20, "states²-bounded value iteration"),
    // per-tile kernel, no shuffle beyond the one prepare exchange
    ("px_overlap_diag", 2L << 20, "tile-local diagnostic"),
    // TypedImperativeAggregate sketches combine map-side: registers move,
    // never events
    ("sk_hll_users", 1L << 20, "sketch partial aggregation"),
    // bucketed warehouse layout: the join itself is exchange-free; only
    // the final fold's partial rows shuffle
    ("q20_bucketed", 1L << 20, "zero-exchange co-located join"),
    // hash-group dedup: the shuffle carries md5 keys + counts, not text
    ("dd_exact", 4L << 20, "key-sized exact-dedup shuffle"),
    // bounded-buffer top-k: each task ships <= k pairs per group — the
    // shuffle must stay group-count-sized, never event-sized (the window
    // form q7_topk deliberately gates would shuffle every row)
    ("q41_topk_agg", 256L << 10, "k-bounded top-k partial aggregation"))

  for ((q, budget, claim) <- budgets)
    test(s"$q stays under ${budget >> 20} MB of shuffle ($claim)") {
      val b = shuffleOf(SparkEntry.queries(q)(spark, sf).count())
      info(s"$q shuffled ${b / 1024} KiB (budget ${budget >> 10} KiB)")
      assert(b <= budget,
        s"$q shuffled $b bytes — the '$claim' shape regressed")
    }

  test("O1 ships a uint8 image at under 1.5 bytes per expanded pixel") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val img = Array.fill(128 * 128)(rnd.nextInt(256).toLong)
    val spec = GridSpec(Array(128L, 128L), Array(32, 32))
    val ov = Array(8, 8)
    val expanded = (for (gy <- 0 until 4; gx <- 0 until 4)
      yield Nd.size(spec.overlappedShape(Array(gy, gx), ov)).toLong).sum
    val b = shuffleOf(Relabel.prepareInput(
      spark.createDataset(BlobImages.toTiles(img, 128, 128, 32)), spec, ov).count())
    info(s"prepareInput shuffled $b B for $expanded expanded pixels")
    // uniform noise does not compress: 8-byte longs would cost ~3-4 B/px
    assert(b <= expanded * 3 / 2,
      s"prepareInput shuffled $b bytes for $expanded expanded uint8 pixels")
  }

  test("O1 ships a placed uint8 image at under 1.5 bytes per margin pixel") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val img = Array.fill(128 * 128)(rnd.nextInt(256).toLong)
    val spec = GridSpec(Array(128L, 128L), Array(32, 32))
    val ov = Array(8, 8)
    val margins = (for (gy <- 0 until 4; gx <- 0 until 4)
      yield Nd.size(spec.overlappedShape(Array(gy, gx), ov)).toLong).sum - 128 * 128
    // four row-major slices of four tiles: every tile is in its O1 partition
    val placed = spark.createDataset(spark.sparkContext.parallelize(
      BlobImages.toTiles(img, 128, 128, 32), 4))
    val b = shuffleOf(Relabel.prepareInput(placed, spec, ov).count())
    info(s"prepareInput of a placed input shuffled $b B for $margins margin pixels")
    // the cores stay home: shipping them too would cost ~2.1 B per margin pixel
    assert(b <= margins * 3 / 2,
      s"prepareInput shuffled $b bytes for $margins margin uint8 pixels")
  }

  test("O4 ships only its receivers' cores: a fixed blob image's merge stays under 18,400 bytes") {
    import spark.implicits._
    val img = BlobImages.gen(128, 128, 3000, 3000, 3).pureApply(Gen.Parameters.default, Seed(4L))
    val spec = GridSpec(Array(128L, 128L), Array(32, 32))
    val ov = Array(8, 8)
    val removed = Relabel.removeOverlappedLabels(Relabel.segmentOverlappedInput(
      Relabel.prepareInput(spark.createDataset(BlobImages.toTiles(img, 128, 128, 32)), spec, ov),
      CCLSegmentation(returnsClasses = true)), ov, 0.25).collect().toSeq
    val b = shuffleOf(Relabel.mergeOverlappedTiles(spark.createDataset(removed), ov).rdd.count())
    info(s"mergeOverlappedTiles shuffled $b B")
    // whole halo-expanded tiles and full-extent margins shipped 19,104 B
    // here; core boxes and margins clipped to their receiver's core 17,724 B
    assert(b <= 18400L, s"O4 shuffled $b bytes: more than its receivers' cores")
  }

  test("sortLabelIndices adds only its label probe's shuffle to image2labels") {
    import spark.implicits._
    val img = BlobImages.gen(64, 64, 100, 200, 3).pureApply(Gen.Parameters.default, Seed(0L))
    def labels() = Relabel.image2labels(
      spark.createDataset(BlobImages.toTiles(img, 64, 64, 16)),
      GridSpec(Array(64L, 64L), Array(16, 16)), CCLSegmentation(), Array(4, 4),
      threshold = 0.25)
    val base = shuffleOf(labels().collect())
    val sorted = shuffleOf(Relabel.sortLabelIndices(labels()).collect())
    info(s"image2labels shuffled $base B, with sortLabelIndices $sorted B")
    // a second pair of halo exchanges would double the bytes
    assert(sorted <= base * 1.1,
      s"sortLabelIndices shuffled $sorted bytes vs $base for image2labels alone")
  }
}
