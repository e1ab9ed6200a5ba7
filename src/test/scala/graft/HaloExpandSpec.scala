package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Nd, Regions}
import graft.ops.Relabel
import graft.tiles.{GridSpec, Tile}

/** O1 `prepare_input` against its definition, golden-free: every output tile
  * is the image window `[loc*cs - ov, (loc+1)*cs + ov)`, with no halo past
  * the grid border and zeros past a ragged edge. The images draw from every
  * halo wire width (1, 2, 4 and 8 bytes), negatives included, so the packed
  * shards must carry each value exactly.
  */
class HaloExpandSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  /** Upper bounds of the width classes; `None` = any long, negatives too. */
  private val valueBounds = Seq(Some(255L), Some(65535L), Some(0xffffffffL), None)

  private def unravel(lin: Int, shape: Array[Int]): Array[Int] = {
    val st = Nd.strides(shape)
    Array.tabulate(shape.length)(a => lin / st(a) % shape(a))
  }

  test("prepareInput tiles are the image windows: no halo past the grid border, zeros past a ragged edge") {
    import spark.implicits._
    for (seed <- 0 until 16) {
      val rnd = new scala.util.Random(seed)
      val dims = 2 + seed / 4 % 2
      def draw(bound: Option[Long]): Long =
        if (rnd.nextInt(3) == 0) 0L
        else bound.fold(rnd.nextLong())(b => (rnd.nextLong() & Long.MaxValue) % (b + 1))
      val chunk = Array.fill(dims)(2 + rnd.nextInt(3))
      // at least one axis ends in a ragged (partial) chunk
      val shape = Array.tabulate(dims)(a =>
        chunk(a) * (1 + rnd.nextInt(3)) +
          (if (a == 0) 1 + rnd.nextInt(chunk(a) - 1) else rnd.nextInt(chunk(a))))
      val ov = chunk.map(c => rnd.nextInt(c + 1))
      val img = Array.fill(Nd.size(shape))(draw(valueBounds(seed % 4)))
      val cls = Array.fill(img.length)(draw(valueBounds((seed + 1) % 4)))
      val spec = GridSpec(shape.map(_.toLong), chunk)
      val grid = spec.gridShape
      val tiles = (0 until Nd.size(grid)).map { lin =>
        val loc = unravel(lin, grid)
        val box = Nd.Box(Array.tabulate(dims)(a => loc(a) * chunk(a)),
          Array.tabulate(dims)(a => math.min((loc(a) + 1) * chunk(a), shape(a))))
        Tile(loc, grid, box.shape, Nd.sliceBox(img, shape, box),
          Array(Nd.sliceBox(cls, shape, box)))
      }
      val out = Relabel.prepareInput(spark.createDataset(tiles), spec, ov).collect()
      val ctx = s"seed $seed: image ${shape.mkString("x")}, chunk " +
        s"${chunk.mkString("x")}, overlap ${ov.mkString("x")}"
      assert(out.map(_.linearIndex).sorted.toSeq == (0L until Nd.size(grid)), ctx)
      for (t <- out) {
        assert(t.shape.sameElements(spec.overlappedShape(t.loc, ov)),
          s"$ctx: tile ${t.loc.mkString(",")} has shape ${t.shape.mkString("x")}")
        val origin = Array.tabulate(dims)(a =>
          t.loc(a) * chunk(a) - (if (t.loc(a) > 0) ov(a) else 0))
        for (i <- 0 until t.numel) {
          val at = unravel(i, t.shape)
          val g = Array.tabulate(dims)(a => origin(a) + at(a))
          val inImage = g.indices.forall(a => g(a) < shape(a))
          val lin = if (inImage) Regions.linearIndex(g, shape).toInt else -1
          val (want, wantCls) = if (inImage) (img(lin), cls(lin)) else (0L, 0L)
          assert(t.data(i) == want && t.classes(0)(i) == wantCls,
            s"$ctx: tile ${t.loc.mkString(",")} pixel ${g.mkString(",")}")
        }
      }
    }
  }
}
