package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Relabel
import graft.tiles.Tile

/** Classes plumbing with MORE than one channel (the reference's leading
  * axis can be any size >= 2, `relabeling.py:22-27`): survival masking and
  * merge painting must apply to every channel in lockstep with the labels.
  */
class MultiChannelSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  test("two class channels ride remove+merge consistently") {
    import spark.implicits._
    // an O2 table in the seg_2d geometry (4x3 grid); derive two
    // deterministic channels from its labels
    val base = StageTables.seg2d
    val withCh = base.map { t =>
      val ch1 = t.data.map(v => if (v != 0L) 1L + v % 2 else 0L)
      val ch2 = t.data.map(v => if (v != 0L) 10L + v % 3 else 0L)
      t.copy(classes = Array(ch1, ch2))
    }
    val removed = Relabel.removeOverlappedLabels(
      spark.createDataset(withCh), Array(2, 2), 0.25)
    val merged = Relabel.mergeOverlappedTiles(removed, Array(2, 2)).collect()

    // labels channel must equal the plain (classes-free) pipeline
    val plain = Relabel.mergeOverlappedTiles(
      Relabel.removeOverlappedLabels(
        spark.createDataset(base), Array(2, 2), 0.25),
      Array(2, 2)).collect()
    Goldens.assertSameTiles(merged.toSeq, plain.toSeq)

    // every surviving pixel's channels must encode the OWNING label's
    // pre-offset id: ch1 = 1 + label%2, ch2 = 10 + label%3
    val offsetUnit = 2147483648L / 12 + 2147483648L
    assert(merged.flatMap(_.data.filter(_ != 0L).map(_ % offsetUnit % 2)).toSet == Set(0L, 1L),
      "the survivors must show both label % 2 values")
    for (t <- merged) {
      assert(t.classes.length == 2)
      t.data.indices.foreach { i =>
        if (t.data(i) == 0L) {
          assert(t.classes(0)(i) == 0L && t.classes(1)(i) == 0L,
            s"classes must be masked where labels are removed (tile ${t.loc.toSeq}, px $i)")
        } else {
          val label = t.data(i) % offsetUnit
          assert(t.classes(0)(i) == 1L + label % 2,
            s"ch1 mismatch at tile ${t.loc.toSeq} px $i")
          assert(t.classes(1)(i) == 10L + label % 3,
            s"ch2 mismatch at tile ${t.loc.toSeq} px $i")
        }
      }
    }
  }
}
