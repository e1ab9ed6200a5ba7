package graft

import org.apache.spark.sql.Dataset
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.{GridSpec, Tile}

/** In-repo stage tables in the reference goldens' geometries, for tests
  * that read a pipeline stage's output only as *input* and check a
  * property of graft's own code. Parity tests keep reading [[Goldens]].
  *
  * 2-D: a seeded 16x12 [[BlobImages]] image in 4x4 chunks (the 4x3 grid of
  * `*_2d.npz`), overlap 2, threshold 0.25. 3-D: a seeded 15x10x15 volume in
  * 5^3 chunks (the 3x2x3 grid of `*_3d.npz`), overlap 2, threshold 0.125.
  * Each table is the named stage's output, collected and sorted by linear
  * chunk index like [[Goldens.localTiles]].
  */
object StageTables {

  private val spec2 = GridSpec(Array(16L, 12L), Array(4, 4))
  private val ov2 = Array(2, 2)
  private val threshold2 = 0.25
  private val spec3 = GridSpec(Array(15L, 10L, 15L), Array(5, 5, 5))
  private val ov3 = Array(2, 2, 2)
  private val threshold3 = 0.125

  private def seeded(g: Gen[Array[Long]]): Array[Long] =
    g.pureApply(Gen.Parameters.default, Seed(6L))

  /** The input tiles (`input_2d` / `input_3d` geometry). */
  private def input2d: Seq[Tile] =
    BlobImages.toTiles(seeded(BlobImages.gen(16, 12, 10, 16, 2)), 16, 12, 4)
  private def input3d: Seq[Tile] =
    BlobImages.toTiles3(seeded(BlobImages.gen3(15, 10, 15, 20, 30, 2)), 15, 10, 15, 5)

  /** O2 output (`seg_2d`). */
  def seg2d: Seq[Tile] = stage(input2d)(segment(_, spec2, ov2, withClasses = false))

  /** O3 output (`rem_2d`); `withClasses` carries the nonzero-mask channel
    * through survival masking, the channel `Goldens.localTiles(...,
    * withClasses = true)` derives.
    */
  def rem2d(withClasses: Boolean = false): Seq[Tile] =
    stage(input2d)(ds => Relabel.removeOverlappedLabels(
      segment(ds, spec2, ov2, withClasses), ov2, threshold2))

  /** O3 output (`rem_3d`). */
  def rem3d: Seq[Tile] =
    stage(input3d)(ds => Relabel.removeOverlappedLabels(
      segment(ds, spec3, ov3, withClasses = false), ov3, threshold3))

  /** O4 output, `image2labels` (`trim_2d` / `trim_3d`). */
  def trim2d: Seq[Tile] =
    stage(input2d)(Relabel.image2labels(_, spec2, CCLSegmentation(), ov2, threshold2))
  def trim3d: Seq[Tile] =
    stage(input3d)(Relabel.image2labels(_, spec3, CCLSegmentation(), ov3, threshold3))

  private def segment(ds: Dataset[Tile], spec: GridSpec, ov: Array[Int],
                      withClasses: Boolean): Dataset[Tile] =
    Relabel.segmentOverlappedInput(Relabel.prepareInput(ds, spec, ov),
      CCLSegmentation(returnsClasses = withClasses))

  private def stage(in: Seq[Tile])(f: Dataset[Tile] => Dataset[Tile]): Seq[Tile] = {
    val spark = SparkTest.session
    import spark.implicits._
    f(spark.createDataset(in)).collect().toSeq.sortBy(_.linearIndex)
  }
}
