package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.CCL
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.{GridSpec, Tile}

/** Geometry fuzzing of the full pipeline: random chunk sizes, overlaps,
  * ragged image extents (pad/crop paths), and thresholds — checking the
  * chunked result is isomorphic to whole-image CCL whenever objects fit the
  * overlap (the validity condition, SURVEY §4.1). The fixed-geometry golden
  * tests pin exact reference parity; this pins correctness across the
  * parameter space the goldens never visit.
  */
class GeometryFuzzSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private case class Geo(h: Int, w: Int, cs: Int, ov: Int, thr: Double,
                         img: Array[Long])

  private val geoGen: Gen[Geo] = for {
    cs <- Gen.choose(3, 6)
    ov <- Gen.choose(1, math.min(2, cs / 2))
    gy <- Gen.choose(2, 4)
    gx <- Gen.choose(2, 4)
    // ragged extents: up to cs-1 short of the full grid
    cutH <- Gen.choose(0, cs - 1)
    cutW <- Gen.choose(0, cs - 1)
    h = gy * cs - cutH
    w = gx * cs - cutW
    thr <- Gen.oneOf(0.05, 0.25, 0.5)
    nBlobs <- Gen.choose(1, 8)
    blobs <- Gen.listOfN(nBlobs, for {
      y <- Gen.choose(0, math.max(0, h - 1)); x <- Gen.choose(0, math.max(0, w - 1))
      bh <- Gen.choose(1, ov); bw <- Gen.choose(1, ov)
    } yield (y, x, bh, bw))
  } yield {
    val img = new Array[Long](h * w)
    for ((y, x, bh, bw) <- blobs) {
      // skip blobs that would 8-touch an existing blob (keeps every object's
      // diameter <= ov, the validity condition)
      val y1 = math.min(h, y + bh); val x1 = math.min(w, x + bw)
      val touches = (math.max(0, y - 1) until math.min(h, y1 + 1)).exists(yy =>
        (math.max(0, x - 1) until math.min(w, x1 + 1)).exists(xx =>
          img(yy * w + xx) != 0L))
      if (!touches)
        for (yy <- y until y1; xx <- x until x1) img(yy * w + xx) = 1L
    }
    Geo(h, w, cs, ov, thr, img)
  }

  test("pipeline is isomorphic to global CCL across random geometries") {
    import spark.implicits._
    (0 until 40).foreach { i =>
      val g = geoGen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val grid = Array((g.h + g.cs - 1) / g.cs, (g.w + g.cs - 1) / g.cs)
      val tiles = for (gy <- 0 until grid(0); gx <- 0 until grid(1)) yield {
        val th = math.min(g.cs, g.h - gy * g.cs)
        val tw = math.min(g.cs, g.w - gx * g.cs)
        val data = new Array[Long](th * tw)
        for (y <- 0 until th; x <- 0 until tw)
          data(y * tw + x) = g.img((gy * g.cs + y) * g.w + gx * g.cs + x)
        Tile(Array(gy, gx), grid, Array(th, tw), data)
      }
      val out = Relabel.image2labels(spark.createDataset(tiles),
        GridSpec(Array(g.h.toLong, g.w.toLong), Array(g.cs, g.cs)),
        CCLSegmentation(), Array(g.ov, g.ov), g.thr).collect()
      val flat = BlobImages.assemble(out.toSeq, g.h, g.w, g.cs)
      val whole = CCL.label(g.img, Array(g.h, g.w))
      BlobImages.assertIsomorphic(flat, whole,
        s"seed $i geo h=${g.h} w=${g.w} cs=${g.cs} ov=${g.ov} thr=${g.thr}")
    }
  }
}
