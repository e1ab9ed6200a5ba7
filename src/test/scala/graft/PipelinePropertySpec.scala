package graft

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core.CCL
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.{GridSpec, Tile}

/** End-to-end semantic property (the notebooks' chunked-vs-whole object
  * count check, `examples/test_relabeling_3D.ipynb` cells 24/26, made
  * exact): when every object fits inside the overlap margin — the
  * reference's stated constraint (SURVEY.md §4.1) — the distributed
  * pipeline must produce a labeling isomorphic to single-machine CCL of the
  * whole image: same foreground, same components, bijective label mapping.
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
}
