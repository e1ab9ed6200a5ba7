package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Nd
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.{GridSpec, Tile}

/** A uint16 image crosses the halo exchange packed at 2 bytes a pixel; the
  * labels must be those of the same image on the full 8-byte wire. Shifting
  * every foreground value by 2^32 forces width 8 and keeps the foreground
  * and its connectivity, so the two runs must agree tile for tile.
  */
class ByteTileSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  test("packed uint16 pipeline matches int64 pipeline on random images") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val H = 8; val W = 12; val CS = 4
    val imgGen = Gen.listOfN(H * W, Gen.frequency(
      (2, Gen.const(0L)), (1, Gen.choose(1L, 65535L))))
    def tilesOf(img: Array[Long]): Seq[Tile] =
      for (gy <- 0 until H / CS; gx <- 0 until W / CS) yield {
        val data = new Array[Long](CS * CS)
        for (y <- 0 until CS; x <- 0 until CS)
          data(y * CS + x) = img((gy * CS + y) * W + gx * CS + x)
        Tile(Array(gy, gx), Array(H / CS, W / CS), Array(CS, CS), data)
      }
    val spec = GridSpec(Array(H.toLong, W.toLong), Array(CS, CS))
    (0 until 10).foreach { seed =>
      val img = imgGen.pureApply(Gen.Parameters.default, Seed(seed.toLong)).toArray
      val wide = img.map(v => if (v != 0L) v + (1L << 32) else 0L)
      val u16 = tilesOf(img)
      val i64 = tilesOf(wide)
      assert(u16.forall(t => Nd.packWidth(t.data) <= 2))
      assert(i64.forall(t => t.data.forall(_ == 0L) || Nd.packWidth(t.data) == 8))
      val viaU16 = Relabel.image2labels(spark.createDataset(u16),
        spec, CCLSegmentation(), Array(2, 2), 0.25).collect().toSeq
      val viaLong = Relabel.image2labels(spark.createDataset(i64),
        spec, CCLSegmentation(), Array(2, 2), 0.25).collect().toSeq
      Goldens.assertSameTiles(viaU16, viaLong)
    }
  }
}
