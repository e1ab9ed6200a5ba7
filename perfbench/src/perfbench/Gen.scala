package perfbench

import graft.tiles.{GridSpec, Tile}

/** One workload's image geometry: extent, chunk size, halo width, and the
  * share of blob cells that hold a blob. Extents are chunk multiples.
  */
final case class Geometry(shape: Array[Int], chunk: Array[Int],
                          overlap: Array[Int], fill: Double) {
  require(shape.indices.forall(a => shape(a) % chunk(a) == 0),
    "image extent must be a multiple of the chunk size")
  def dims: Int = shape.length
  def numel: Int = shape.map(_.toLong).product.toInt
  def megapixels: Double = numel / 1e6
  def grid: Array[Int] = Array.tabulate(dims)(a => shape(a) / chunk(a))
  def spec: GridSpec = GridSpec(shape.map(_.toLong), chunk)
}

/** Seeded synthetic images: the same seed always gives the same pixels. */
object Gen {

  /** Pixels at or above this value are foreground. */
  val Threshold = 128L

  /** splitmix64 finaliser: a cheap, well-mixed 64-bit hash. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def strides(shape: Array[Int]): Array[Int] = {
    val st = new Array[Int](shape.length)
    var s = 1
    for (a <- shape.indices.reverse) { st(a) = s; s *= shape(a) }
    st
  }

  /** Uniform background noise in [0, 32), which no codec can squeeze, plus
    * one box of values in [128, 192) in a `fill` share of the cells of
    * extent `overlap - 1` per axis. A box keeps one background pixel to
    * every cell face, so boxes never touch and every box is at most
    * `overlap - 3` wide: narrower than the halo, as the ownership rule
    * requires. The cell size does not divide the chunk size, so boxes
    * straddle chunk seams, edges and corners.
    *
    * Boxes, not round blobs: a box that straddles a seam has pixels in every
    * chunk around it, among them the chunk that is even on each straddled
    * axis, which the parity rule makes the owner. A round blob can wrap a
    * chunk corner without entering that chunk, and then no chunk keeps it.
    */
  def image(seed: Long, g: Geometry): Array[Long] = {
    val n = g.numel
    val data = new Array[Long](n)
    val noise = mix(seed ^ 0x6E6F697365L)
    var i = 0
    while (i < n) { data(i) = mix(noise + i) & 31L; i += 1 }

    val dims = g.dims
    val cell = g.overlap.map(_ - 1)
    require(cell.forall(_ >= 5), "overlap too small for blobs")
    val cells = Array.tabulate(dims)(a => g.shape(a) / cell(a))
    val rMax = cell.map(c => (c - 3) / 2)
    val rMin = rMax.map(r => math.max(1, r / 3))
    val lo = new Array[Int](dims)
    val ext = new Array[Int](dims)
    val nCells = cells.map(_.toLong).product
    var k = 0L
    while (k < nCells) {
      var rem = k
      var h = mix(seed * 0x2545F4914F6CDD1DL + k)
      if ((h >>> 11) / 9007199254740992.0 < g.fill) { // uniform in [0, 1)
        for (a <- (0 until dims).reverse) {
          val c = (rem % cells(a)).toInt
          rem /= cells(a)
          h = mix(h); val r = rMin(a) + java.lang.Math.floorMod(h, rMax(a) - rMin(a) + 1)
          // one background pixel between the box and each cell face
          h = mix(h); lo(a) = c * cell(a) + 1 + java.lang.Math.floorMod(h, cell(a) - 2 - 2 * r)
          ext(a) = 2 * r + 1
        }
        foreachRow(g.shape, lo, ext) { (row, _) =>
          var x = row
          while (x < row + ext(dims - 1)) { data(x) = Threshold + (mix(noise ^ ~x.toLong) & 63L); x += 1 }
        }
      }
      k += 1
    }
    data
  }

  /** Foreground mask (1/0) of an image. */
  def mask(img: Array[Long]): Array[Long] = img.map(v => if (v >= Threshold) 1L else 0L)

  /** Calls `f(imageOffset, boxOffset)` for each last-axis row of the box at
    * `lo` with extent `ext` inside an image of `shape`.
    */
  def foreachRow(shape: Array[Int], lo: Array[Int], ext: Array[Int])(f: (Int, Int) => Unit): Unit = {
    val dims = shape.length
    val st = strides(shape)
    val rows = ext.init.map(_.toLong).product.toInt
    val q = new Array[Int](dims)
    var row = 0
    while (row < rows) {
      var rem = row
      for (a <- (0 until dims - 1).reverse) { q(a) = rem % ext(a); rem /= ext(a) }
      var src = lo(dims - 1)
      for (a <- 0 until dims - 1) src += (lo(a) + q(a)) * st(a)
      f(src, row * ext(dims - 1))
      row += 1
    }
  }

  /** Every chunk location of a grid, in row-major order. */
  def locations(grid: Array[Int]): Seq[Array[Int]] =
    (0 until grid.product).map { i =>
      var rem = i
      val loc = new Array[Int](grid.length)
      for (a <- grid.indices.reverse) { loc(a) = rem % grid(a); rem /= grid(a) }
      loc
    }

  /** Cut an image into chunk tiles. */
  def tiles(img: Array[Long], g: Geometry): Seq[Tile] =
    locations(g.grid).map { loc =>
      val lo = Array.tabulate(g.dims)(a => loc(a) * g.chunk(a))
      val out = new Array[Long](g.chunk.product)
      val w = g.chunk.last
      foreachRow(g.shape, lo, g.chunk)((src, dst) => System.arraycopy(img, src, out, dst, w))
      Tile(loc, g.grid, g.chunk.clone(), out)
    }
}
