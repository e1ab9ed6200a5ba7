package perfbench

import org.apache.spark.sql.{Dataset, Encoders}
import graft.tiles.Tile

/** Output checks. A digest is order-independent (a wrapping sum of per-tile
  * hashes), so it does not depend on partitioning or collection order, and
  * any single changed pixel changes it.
  */
object Verify {

  def tileHash(t: Tile): Long = {
    var h = Gen.mix(t.loc.foldLeft(17L)((acc, c) => acc * 31 + c))
    h = t.shape.foldLeft(h)((acc, s) => acc * 31 + s)
    var i = 0
    val d = t.data
    while (i < d.length) { h = h * 0x100000001B3L + d(i); i += 1 }
    Gen.mix(h)
  }

  def digest(tiles: Iterable[Tile]): Long = tiles.foldLeft(0L)(_ + tileHash(_))

  /** Distributed digest: one Spark action over the tile table. */
  def digest(ds: Dataset[Tile]): Long =
    ds.mapPartitions(it => Iterator.single(it.foldLeft(0L)(_ + tileHash(_))))(Encoders.scalaLong)
      .collect().sum

  /** Paste chunk tiles back into one image; fails on a missing, repeated or
    * misshapen tile.
    */
  def assemble(tiles: Seq[Tile], g: Geometry): Array[Long] = {
    val img = new Array[Long](g.numel)
    val seen = scala.collection.mutable.Set.empty[Seq[Int]]
    for (t <- tiles) {
      require(seen.add(t.loc.toSeq), s"tile ${t.loc.mkString(",")} appears twice")
      require(t.shape.sameElements(g.chunk),
        s"tile ${t.loc.mkString(",")} has shape ${t.shape.mkString("x")}")
      val lo = Array.tabulate(g.dims)(a => t.loc(a) * g.chunk(a))
      val w = g.chunk.last
      Gen.foreachRow(g.shape, lo, g.chunk)((dst, src) => System.arraycopy(t.data, src, img, dst, w))
    }
    require(seen.size == g.grid.product, s"${g.grid.product - seen.size} tiles missing")
    img
  }

  /** Checks that `got` labels the same components as `want` (a dense 1..K
    * labeling): same foreground, and a bijection between labels. Returns K,
    * or a description of the first difference.
    */
  def isomorphic(got: Array[Long], want: Array[Long]): Either[String, Int] = {
    if (got.length != want.length) return Left("image sizes differ")
    val k = if (want.isEmpty) 0 else want.max.toInt
    val fwd = Array.fill(k + 1)(-1L)
    val bwd = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < got.length) {
      val (g, w) = (got(i), want(i))
      if ((g == 0L) != (w == 0L)) return Left(s"foreground differs at pixel $i")
      if (w != 0L) {
        if (fwd(w.toInt) == -1L) fwd(w.toInt) = g
        else if (fwd(w.toInt) != g) return Left(s"component $w is split (pixel $i)")
        val prev = bwd.putIfAbsent(g, w)
        if (prev != null && prev != w) return Left(s"label $g spans two components (pixel $i)")
      }
      i += 1
    }
    Right(k)
  }

  /** Order-independent digest of a zip's members (name and bytes). */
  def zipDigest(path: java.nio.file.Path): Long = {
    val zf = new java.util.zip.ZipFile(path.toFile)
    try {
      var sum = 0L
      val it = zf.entries()
      while (it.hasMoreElements) {
        val e = it.nextElement()
        val bytes = zf.getInputStream(e).readAllBytes()
        var h = Gen.mix(e.getName.hashCode.toLong)
        bytes.foreach(b => h = h * 0x100000001B3L + b)
        sum += Gen.mix(h)
      }
      sum
    } finally zf.close()
  }

  /** Number of GeoJSON features over all members of a zip. */
  def zipFeatures(path: java.nio.file.Path): Long = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val zf = new java.util.zip.ZipFile(path.toFile)
    try {
      var n = 0L
      val it = zf.entries()
      while (it.hasMoreElements) {
        val root = om.readTree(zf.getInputStream(it.nextElement()))
        n += root.get("features").size()
      }
      n
    } finally zf.close()
  }
}
