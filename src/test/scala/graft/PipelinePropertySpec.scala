package graft

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{MapElements, MapPartitions}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.{CCL, Nd}
import graft.geojson.Annotate
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.{GridSpec, Tile}

/** End-to-end semantic property (the notebooks' chunked-vs-whole object
  * count check, `examples/test_relabeling_3D.ipynb` cells 24/26, made
  * exact): when every object fits inside the overlap margin — the
  * reference's stated constraint (SURVEY.md §4.1) — the distributed
  * pipeline must produce a labeling isomorphic to single-machine CCL of the
  * whole image: same foreground, same components, bijective label mapping.
  *
  * The composites are their phases: `image2labels`, `image2geojson` and
  * `labels2geojson` give what the public phases give one Dataset at a time,
  * while planning one Dataset with no typed map in it.
  */
class PipelinePropertySpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private val H = 12; private val W = 12; private val CS = 4; private val OV = 2

  /** Random image of small objects (1x1, 1x2, 2x2 — all diameter <= OV). */
  private val imageGen: Gen[Array[Long]] = BlobImages.gen(H, W, 1, 10, 2)

  /** For 30 seeded images, `run` on the tiles must be isomorphic to
    * whole-image CCL and, when `dense`, label its objects exactly 1..K.
    */
  private def checkImages(run: Dataset[Tile] => Array[Tile], dense: Boolean): Unit = {
    import spark.implicits._
    (0 until 30).foreach { i =>
      val img = imageGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val out = run(spark.createDataset(BlobImages.toTiles(img, H, W, CS)))
      val got = BlobImages.assemble(out.toSeq, H, W, CS)
      BlobImages.assertIsomorphic(got, CCL.label(img, Array(H, W)), s"seed $i")
      if (dense) BlobImages.assertDense(got, s"seed $i")
    }
  }

  private def labels(tiles: Dataset[Tile]) =
    Relabel.image2labels(tiles, GridSpec(Array(H.toLong, W.toLong), Array(CS, CS)),
      CCLSegmentation(), Array(OV, OV), threshold = 0.25)

  test("chunked pipeline is isomorphic to whole-image CCL for small objects") {
    checkImages(labels(_).collect(), dense = false)
  }

  test("sortLabelIndices of the chunked pipeline is dense 1..K and isomorphic to whole-image CCL") {
    checkImages(t => Relabel.sortLabelIndices(labels(t)).collect(), dense = true)
  }

  /** Image shape, chunk and overlap of a 2-D and a 3-D grid whose high
    * edges are ragged on every axis.
    */
  private val raggedGrids = Seq(
    (Array(13, 11), Array(4, 4), Array(2, 2)),
    (Array(7, 9, 10), Array(3, 4, 4), Array(1, 2, 2)))

  /** Seeded boxes with sides 1..3, touching or not, plus one bar along the
    * last axis that spans an interior chunk and both its halos: an object
    * larger than the overlap, which O3 splits and the audit counts.
    */
  private def image(shape: Array[Int], seed: Long): Array[Long] = {
    val rnd = new scala.util.Random(seed)
    val img = new Array[Long](Nd.size(shape))
    def paint(start: Array[Int], ext: Array[Int]): Unit = {
      val box = Nd.Box(start, Array.tabulate(start.length)(a => start(a) + ext(a)))
      Nd.pasteBox(img, shape, box, Array.fill(box.numel)(1L))
    }
    for (_ <- 0 until 6) {
      val ext = shape.map(n => 1 + rnd.nextInt(math.min(3, n)))
      paint(Array.tabulate(shape.length)(a => rnd.nextInt(shape(a) - ext(a) + 1)), ext)
    }
    val last = shape.length - 1
    paint(Array.tabulate(shape.length)(a => if (a == last) 1 else rnd.nextInt(shape(a))),
      Array.tabulate(shape.length)(a => if (a == last) shape(a) - 2 else 1))
    img
  }

  /** Chunk-aligned tiles of `img`, clipped at its high edges; with
    * `classes`, each carries its foreground mask as a classes channel.
    */
  private def tilesOf(img: Array[Long], spec: GridSpec, classes: Boolean): Seq[Tile] = {
    val shape = spec.imageShape.map(_.toInt)
    val grid = spec.gridShape
    val st = Nd.strides(grid)
    (0 until Nd.size(grid)).map { lin =>
      val loc = Array.tabulate(grid.length)(a => lin / st(a) % grid(a))
      val start = Array.tabulate(loc.length)(a => loc(a) * spec.chunk(a))
      val ext = spec.tileShape(loc)
      val data = Nd.sliceBox(img, shape, Nd.Box(start, Array.tabulate(loc.length)(a => start(a) + ext(a))))
      Tile(loc, grid, ext, data,
        if (classes) Array(data.map(v => if (v != 0L) 1L else 0L)) else Array.empty[Array[Long]])
    }
  }

  private def byLin(ts: Array[Tile]) =
    ts.map(t => (t.linearIndex, t.shape.toSeq, t.data.toSeq, t.classes.map(_.toSeq).toSeq))
      .sortBy(_._1).toSeq

  /** Every seeded input of the composite checks: context, spec, overlap,
    * segmentation, the image's tiles and its whole-image labels' tiles.
    */
  private def inputs: Seq[(String, GridSpec, Array[Int], CCLSegmentation, Dataset[Tile], Dataset[Tile])] = {
    import spark.implicits._
    for ((shape, chunk, ov) <- raggedGrids; classes <- Seq(false, true); seed <- 0 until 3) yield {
      val spec = GridSpec(shape.map(_.toLong), chunk)
      val img = image(shape, seed)
      (s"${shape.mkString("x")} image, classes $classes, seed $seed", spec, ov,
        CCLSegmentation(returnsClasses = classes),
        spark.createDataset(tilesOf(img, spec, classes)),
        spark.createDataset(tilesOf(CCL.label(img, shape), spec, classes)))
    }
  }

  test("image2labels is its phases, and overlapViolations counts what overlapSufficiency reports") {
    var violations = 0L
    for ((ctx, spec, ov, seg, in, _) <- inputs) {
      val acc = spark.sparkContext.longAccumulator
      val got = Relabel.image2labels(in, spec, seg, ov, overlapViolations = Some(acc)).collect()
      val segmented = Relabel.segmentOverlappedInput(Relabel.prepareInput(in, spec, ov), seg)
      val want = Relabel.cropToImage(Relabel.mergeOverlappedTiles(
        Relabel.removeOverlappedLabels(segmented, ov, 0.05), ov), spec).collect()
      assert(byLin(got) == byLin(want), ctx)
      val sufficiency = Relabel.overlapSufficiency(segmented, ov).count()
      assert(acc.value == sufficiency, s"$ctx: overlapViolations ${acc.value}, " +
        s"overlapSufficiency $sufficiency")
      violations += sufficiency
    }
    info(s"$violations overlap violations over the seeded images")
    assert(violations > 0, "no seeded image has an object wider than its overlap")
  }

  test("image2geojson and labels2geojson are their phases followed by annotateLabeledTiles") {
    def messages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    for ((ctx, spec, ov, seg, in, labeled) <- inputs) {
      val pairs = Seq(
        ("image2geojson", () => Relabel.image2geojson(in, spec, seg, ov),
          () => Relabel.segmentOverlappedInput(Relabel.prepareInput(in, spec, ov), seg)),
        ("labels2geojson", () => Relabel.labels2geojson(labeled, spec, ov),
          () => Relabel.prepareInput(labeled, spec, ov)))
      for ((name, composite, prepared) <- pairs) {
        def phases() = Annotate.annotateLabeledTiles(
          Relabel.removeOverlappedLabels(prepared(), ov, 0.5), ov)
        if (spec.dims == 2) {
          val got = composite().collect().map(a => (a.locKey, a.geojson)).sortBy(_._1).toSeq
          assert(got.exists(_._2 != null), s"$name, $ctx: no annotated tile")
          assert(got == phases().collect().map(a => (a.locKey, a.geojson)).sortBy(_._1).toSeq,
            s"$name, $ctx")
        } else for (run <- Seq(() => composite().collect(), () => phases().collect())) {
          // annotations are 2-D only: both fail with the same requirement
          val e = intercept[Exception](run())
          assert(messages(e).exists(_.contains("annotations are 2D-only")), s"$name, $ctx: $e")
        }
      }
    }
  }

  test("each composite plans one Dataset with no typed map, over exactly its halo shuffles") {
    def shuffleIds(rdd: RDD[_]): Set[Int] = rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => shuffleIds(s.rdd) + s.shuffleId
      case d => shuffleIds(d.rdd)
    }.toSet
    for ((ctx, spec, ov, seg, in, labeled) <- inputs) {
      val composites = Seq[(String, Dataset[_], Int)](
        ("image2labels", Relabel.image2labels(in, spec, seg, ov), 2),
        ("image2geojson", Relabel.image2geojson(in, spec, seg, ov), 1),
        ("labels2geojson", Relabel.labels2geojson(labeled, spec, ov), 1))
      for ((name, ds, halos) <- composites) {
        val maps = ds.queryExecution.analyzed.collect {
          case m: MapElements => m.nodeName
          case m: MapPartitions => m.nodeName
        }
        assert(maps.isEmpty, s"$name, $ctx: analyzed plan has ${maps.mkString(", ")}:\n" +
          ds.queryExecution.analyzed)
        assert(shuffleIds(ds.rdd).size == halos, s"$name, $ctx")
      }
    }
  }
}
