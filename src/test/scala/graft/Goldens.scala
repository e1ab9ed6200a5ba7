package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.tiles.Tile

/** Golden fixture loading: each npz stores one array per chunk keyed
  * "y-x" / "z-y-x" (`tests/fixtures.py:31-39`). We convert them into tile
  * tables directly.
  *
  * Only reference-parity tests read the corpus: RelabelGoldenSpec's stage-pair
  * and end-to-end comparisons (all but "distributed sort_label_indices
  * matches the broadcast variant") and AnnotateGoldenSpec's four "... matches
  * ann_2d" tests. Tests that need a stage's output only as input build it in
  * the repo with [[StageTables]]. Without the corpus each parity test fails
  * with one "golden corpus missing" line; none is skipped.
  */
object Goldens {
  /** The reference's golden `*.npz` samples (its `tests/samples`):
    * `$GRAFT_GOLDENS_DIR` if set, else a reference checkout next to this one.
    */
  val dir: String = sys.env.getOrElse("GRAFT_GOLDENS_DIR", "../reference/tests/samples")

  def grid2d = Array(4, 3)
  def grid3d = Array(3, 2, 3)

  def tiles(spark: SparkSession, file: String, grid: Array[Int],
            withClasses: Boolean = false): Dataset[Tile] = {
    import spark.implicits._
    spark.createDataset(localTiles(file, grid, withClasses))
  }

  def localTiles(file: String, grid: Array[Int],
                 withClasses: Boolean = false): Seq[Tile] = {
    val path = java.nio.file.Paths.get(dir, s"$file.npz").toAbsolutePath.normalize
    if (!java.nio.file.Files.isRegularFile(path))
      org.scalatest.Assertions.fail(s"golden corpus missing: no $file.npz in " +
        s"${path.getParent} (set GRAFT_GOLDENS_DIR to the reference's tests/samples)")
    val arrs = Npz.read(path.toString)
    arrs.toSeq.map { case (key, arr) =>
      val loc = key.split("-").map(_.toInt)
      val classes =
        if (withClasses) Array(arr.data.map(v => if (v != 0L) 1L else 0L))
        else Array.empty[Array[Long]]
      Tile(loc, grid, arr.shape, arr.data, classes)
    }.sortBy(t => graft.core.Regions.linearIndex(t.loc, t.grid))
  }

  /** Collected dataset -> map keyed by location for comparison. */
  def byLoc(tiles: Seq[Tile]): Map[Seq[Int], Tile] =
    tiles.map(t => (t.loc.toSeq, t)).toMap

  def assertSameTiles(got: Seq[Tile], want: Seq[Tile], checkClasses: Boolean = false): Unit = {
    val g = byLoc(got); val w = byLoc(want)
    assert(g.keySet == w.keySet, s"tile sets differ: got ${g.keySet} want ${w.keySet}")
    for ((loc, wt) <- w) {
      val gt = g(loc)
      assert(gt.shape.toSeq == wt.shape.toSeq,
        s"tile $loc shape: got ${gt.shape.toSeq} want ${wt.shape.toSeq}")
      assert(java.util.Arrays.equals(gt.data, wt.data),
        s"tile $loc data mismatch:\ngot  ${render(gt)}\nwant ${render(wt)}")
      if (checkClasses) {
        assert(gt.classes.length == wt.classes.length,
          s"tile $loc classes channel count: got ${gt.classes.length} want ${wt.classes.length}")
        for (ch <- gt.classes.indices)
          assert(java.util.Arrays.equals(gt.classes(ch), wt.classes(ch)),
            s"tile $loc classes[$ch] mismatch")
      }
    }
  }

  private def render(t: Tile): String =
    if (t.dims == 2)
      (0 until t.shape(0)).map(y =>
        (0 until t.shape(1)).map(x => t.data(y * t.shape(1) + x)).mkString(" ")
      ).mkString("\n", "\n", "")
    else t.data.mkString(",")
}
