package graft

import org.scalacheck.Gen
import org.scalatest.Assertions._
import graft.tiles.Tile

/** Seeded binary images of small non-touching boxes, cut into chunk-aligned
  * tiles, and the checks the pipeline properties run against single-machine
  * CCL of the whole image.
  */
object BlobImages {

  /** `h` x `w` image of `minBlobs`..`maxBlobs` candidate boxes with sides
    * 1..`maxSide`; a box that would 8-touch an earlier one is skipped, so
    * every object's diameter stays <= `maxSide`.
    */
  def gen(h: Int, w: Int, minBlobs: Int, maxBlobs: Int, maxSide: Int): Gen[Array[Long]] =
    for {
      n <- Gen.choose(minBlobs, maxBlobs)
      blobs <- Gen.listOfN(n, for {
        y <- Gen.choose(0, h - maxSide); x <- Gen.choose(0, w - maxSide)
        bh <- Gen.choose(1, maxSide); bw <- Gen.choose(1, maxSide)
      } yield (y, x, bh, bw))
    } yield {
      val img = new Array[Long](h * w)
      for ((y, x, bh, bw) <- blobs) {
        val touches = (math.max(0, y - 1) to math.min(h - 1, y + bh)).exists(yy =>
          (math.max(0, x - 1) to math.min(w - 1, x + bw)).exists(xx =>
            img(yy * w + xx) != 0L))
        if (!touches)
          for (yy <- y until y + bh; xx <- x until x + bw) img(yy * w + xx) = 1L
      }
      img
    }

  /** The 3-D [[gen]]: a `d` x `h` x `w` volume of `minBlobs`..`maxBlobs`
    * candidate boxes with sides 1..`maxSide`; a box that would 26-touch an
    * earlier one is skipped.
    */
  def gen3(d: Int, h: Int, w: Int, minBlobs: Int, maxBlobs: Int, maxSide: Int): Gen[Array[Long]] =
    for {
      n <- Gen.choose(minBlobs, maxBlobs)
      blobs <- Gen.listOfN(n, for {
        z <- Gen.choose(0, d - maxSide); y <- Gen.choose(0, h - maxSide)
        x <- Gen.choose(0, w - maxSide)
        bd <- Gen.choose(1, maxSide); bh <- Gen.choose(1, maxSide); bw <- Gen.choose(1, maxSide)
      } yield (z, y, x, bd, bh, bw))
    } yield {
      val img = new Array[Long](d * h * w)
      def at(z: Int, y: Int, x: Int): Int = (z * h + y) * w + x
      for ((z, y, x, bd, bh, bw) <- blobs) {
        val touches = (math.max(0, z - 1) to math.min(d - 1, z + bd)).exists(zz =>
          (math.max(0, y - 1) to math.min(h - 1, y + bh)).exists(yy =>
            (math.max(0, x - 1) to math.min(w - 1, x + bw)).exists(xx =>
              img(at(zz, yy, xx)) != 0L)))
        if (!touches)
          for (zz <- z until z + bd; yy <- y until y + bh; xx <- x until x + bw)
            img(at(zz, yy, xx)) = 1L
      }
      img
    }

  /** Chunk-aligned `cs` x `cs` tiles of an `h` x `w` image (both multiples of `cs`). */
  def toTiles(img: Array[Long], h: Int, w: Int, cs: Int): Seq[Tile] =
    for (gy <- 0 until h / cs; gx <- 0 until w / cs) yield {
      val data = new Array[Long](cs * cs)
      for (y <- 0 until cs; x <- 0 until cs)
        data(y * cs + x) = img((gy * cs + y) * w + gx * cs + x)
      Tile(Array(gy, gx), Array(h / cs, w / cs), Array(cs, cs), data)
    }

  /** Chunk-aligned `cs`^3 tiles of a `d` x `h` x `w` volume (all multiples of `cs`). */
  def toTiles3(img: Array[Long], d: Int, h: Int, w: Int, cs: Int): Seq[Tile] =
    for (gz <- 0 until d / cs; gy <- 0 until h / cs; gx <- 0 until w / cs) yield {
      val data = new Array[Long](cs * cs * cs)
      for (z <- 0 until cs; y <- 0 until cs; x <- 0 until cs)
        data((z * cs + y) * cs + x) = img(((gz * cs + z) * h + gy * cs + y) * w + gx * cs + x)
      Tile(Array(gz, gy, gx), Array(d / cs, h / cs, w / cs), Array(cs, cs, cs), data)
    }

  /** Paste output tiles (chunk size `cs`, possibly ragged) back into one
    * row-major `h` x `w` image.
    */
  def assemble(out: Seq[Tile], h: Int, w: Int, cs: Int): Array[Long] = {
    val flat = new Array[Long](h * w)
    for (t <- out; y <- 0 until t.shape(0); x <- 0 until t.shape(1))
      flat((t.loc(0) * cs + y) * w + t.loc(1) * cs + x) = t.data(y * t.shape(1) + x)
    flat
  }

  /** Same foreground and a bijection between the labels of `got` and the
    * components of `whole`.
    */
  def assertIsomorphic(got: Array[Long], whole: Array[Long], ctx: String): Unit = {
    assert(got.indices.forall(j => (got(j) == 0L) == (whole(j) == 0L)),
      s"$ctx: foreground mismatch")
    val fwd = scala.collection.mutable.Map.empty[Long, Long]
    val bwd = scala.collection.mutable.Map.empty[Long, Long]
    got.indices.filter(whole(_) != 0L).foreach { j =>
      assert(fwd.getOrElseUpdate(whole(j), got(j)) == got(j),
        s"$ctx: component ${whole(j)} split in chunked output")
      assert(bwd.getOrElseUpdate(got(j), whole(j)) == whole(j),
        s"$ctx: chunked label ${got(j)} spans two components")
    }
  }

  /** The object labels of `got` are exactly 1..K. */
  def assertDense(got: Array[Long], ctx: String): Unit = {
    val labels = got.filter(_ != 0L).distinct.sorted
    assert(labels.toSeq == (1L to labels.length.toLong),
      s"$ctx: labels are not dense 1..${labels.length}: ${labels.take(20).mkString(",")}")
  }
}
