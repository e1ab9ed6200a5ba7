package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.geojson.Annotate
import graft.tiles.Tile

/** 3D annotate = the 2D kernel per z-plane with globally-offset plane ids:
  * each plane's FeatureCollection must equal annotating an independently
  * hand-built 2D tile of that slice (same loc/grid/overlaps on axes 1/2).
  */
class Annotate3dSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session

  private def vol(seed: Int, dz: Int, h: Int, w: Int): Array[Long] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(dz * h * w)(if (rnd.nextInt(10) < 3) 1L + rnd.nextInt(4) else 0L)
  }

  test("per-plane equivalence with hand-built 2D slices, interior tile") {
    val (dz, h, w) = (4, 8, 8)
    val data = vol(5, dz, h, w)
    val t3 = Tile(Array(1, 1, 1), Array(3, 3, 3), Array(dz, h, w), data)
    val ov = Array(2, 2, 2)
    val got = Annotate.annotateTile3d(t3, ov, Map(0L -> "cell"))
    // interior tile on axis 0: core = dz - 2*ov = 0 is degenerate; use the
    // offset formula directly for the expectation
    val cs0 = dz - 2 * 2
    val zOff = 1L * cs0 - 2
    val expect = (0 until dz).flatMap { z =>
      val slice = data.slice(z * h * w, (z + 1) * h * w)
      val t2 = Tile(Array(1, 1), Array(3, 3), Array(h, w), slice)
      Option(Annotate.annotateTile(t2, Array(2, 2), Map(0L -> "cell")))
        .map(g => (zOff + z, g))
    }
    assert(got.map(p => (p.plane, p.geojson)) == expect)
    assert(got.forall(_.locKey == "1-1-1"))
  }

  test("border tile planes start at zero offset; empty planes are skipped") {
    val (dz, h, w) = (3, 6, 6)
    val data = new Array[Long](dz * h * w)
    // a 2x2 object on plane z=1 only (single pixels are degenerate
    // contours and are skipped, like the reference's <2-point rule)
    for (y <- 2 to 3; x <- 2 to 3) data(1 * h * w + y * w + x) = 7L
    val t3 = Tile(Array(0, 0, 0), Array(2, 2, 2), Array(dz, h, w), data)
    val got = Annotate.annotateTile3d(t3, Array(1, 1, 1), Map(0L -> "cell"))
    assert(got.map(_.plane) == Seq(1L))
    assert(got.head.geojson.contains("FeatureCollection"))
  }

  test("dataset-level 3D annotate over the 3D golden remove output") {
    import spark.implicits._
    // the O3 output of a seeded 15x10x15 volume in 5^3 chunks, the rem_3d
    // geometry (3x2x3 grid, overlap 2, threshold 0.125)
    val rem = StageTables.rem3d
    assert(rem.length == 18 && rem.count(_.data.exists(_ != 0L)) > 1,
      "the remove output must hold labels in more than one tile")
    val in = spark.createDataset(rem)
    val got = Annotate.annotateLabeledTiles3d(in, Array(0, 2, 2)).collect()
    assert(got.nonEmpty)
    // plane ids must be consistent per tile: within [zOff, zOff + dz)
    got.groupBy(_.locKey).foreach { case (_, rows) =>
      val planes = rows.map(_.plane)
      assert(planes.distinct.length == planes.length)
    }
    assert(got.forall(_.geojson.startsWith("""{"features": [""")))
  }
}
