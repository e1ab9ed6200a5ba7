package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.sources.{Zarr3IO, ZarrIO, ZarrLayout}
import graft.tiles.{GridSpec, Tile}

/** Zarr v2 source/sink.
  *
  * The golden stores under `src/test/resources/zarr_golden` were generated
  * by an independent writer (numpy `tobytes` + `zlib`/`gzip`, not this
  * codec), so these tests check the on-disk format itself — layout, dtype
  * byte order, edge-chunk padding, both separators, all three compressor
  * settings — not just self-consistency.
  */
class ZarrSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session

  private val res = "src/test/resources/zarr_golden"

  private def expected(name: String, cols: Int): Array[Array[Long]] =
    scala.io.Source.fromFile(s"$res/$name.expected.csv").getLines()
      .map(_.split(",").map(_.trim.toDouble.toLong)).toArray
      .ensuring(_.forall(_.length == cols))

  private def assemble2d(tiles: Seq[Tile], spec: GridSpec): Array[Array[Long]] = {
    val out = Array.ofDim[Long](spec.imageShape(0).toInt, spec.imageShape(1).toInt)
    tiles.foreach { t =>
      for (y <- 0 until t.shape(0); x <- 0 until t.shape(1))
        out(t.loc(0) * spec.chunk(0) + y)(t.loc(1) * spec.chunk(1) + x) =
          t.data(y * t.shape(1) + x)
    }
    out
  }

  test("golden: <u2 + zlib + '.' separator + ragged edge chunks") {
    val tiles = ZarrIO.read(spark, s"$res/u2_zlib").collect().toSeq
    assert(tiles.map(_.loc.toSeq).toSet ==
      Set(Seq(0, 0), Seq(0, 1), Seq(1, 0), Seq(1, 1)))
    // edge tiles carry the exact extent, not the padded chunk size
    assert(tiles.find(_.loc.toSeq == Seq(1, 1)).get.shape.toSeq == Seq(2, 3))
    val spec = ZarrIO.readMeta(s"$res/u2_zlib").spec
    assert(assemble2d(tiles, spec).map(_.toSeq).toSeq ==
      expected("u2_zlib", 7).map(_.toSeq).toSeq)
  }

  test("golden: 3D |u1 + raw + '/' separator + nonzero fill stripped") {
    val meta = ZarrIO.readMeta(s"$res/u1_raw_nested")
    assert(meta.separator == "/" && meta.fillValue == 7L)
    val tiles = ZarrIO.read(spark, s"$res/u1_raw_nested").collect().toSeq
    assert(tiles.size == 8)
    val flat = expected("u1_raw_nested", 6)
    val out = Array.ofDim[Long](4, 5, 6)
    tiles.foreach { t =>
      for (z <- 0 until t.shape(0); y <- 0 until t.shape(1); x <- 0 until t.shape(2))
        out(t.loc(0) * 2 + z)(t.loc(1) * 3 + y)(t.loc(2) * 4 + x) =
          t.data((z * t.shape(1) + y) * t.shape(2) + x)
    }
    for (z <- 0 until 4; y <- 0 until 5)
      assert(out(z)(y).toSeq == flat(z * 5 + y).toSeq, s"plane $z row $y")
  }

  test("golden: <i8 + gzip + negative values") {
    val tiles = ZarrIO.read(spark, s"$res/i8_gzip").collect().toSeq
    assert(tiles.size == 1)
    val spec = ZarrIO.readMeta(s"$res/i8_gzip").spec
    assert(assemble2d(tiles, spec).map(_.toSeq).toSeq ==
      expected("i8_gzip", 4).map(_.toSeq).toSeq)
  }

  test("readBox prunes chunks before any payload read") {
    val got = ZarrIO.readBox(spark, s"$res/u2_zlib", Array(1, 0), Array(1, 1))
      .collect()
    assert(got.map(_.loc.toSeq).toSet == Set(Seq(1, 0), Seq(1, 1)))
  }

  test("round-trip: every dtype x compressor over a ragged grid") {
    import spark.implicits._
    val spec = GridSpec(Array(7L, 10L), Array(3, 4))
    val rnd = new scala.util.Random(42)
    val tiles = (for (gy <- 0 until 3; gx <- 0 until 3) yield {
      val shape = Array(math.min(3, 7 - gy * 3), math.min(4, 10 - gx * 4))
      Tile(Array(gy, gx), Array(3, 3), shape,
        Array.fill(shape.product)(rnd.nextInt(200).toLong))
    }).toSeq
    for (dtype <- Seq("|u1", "<u2", "<i4", "<i8"); comp <- Seq("", "zlib", "gzip")) {
      val dir = TempDirs.create("zarr")
      ZarrIO.write(spark.createDataset(tiles), spec, dir, dtype, comp)
      val back = ZarrIO.read(spark, dir).collect()
      assert(back.length == 9, s"$dtype/$comp")
      back.foreach { t =>
        val orig = tiles.find(_.loc.toSeq == t.loc.toSeq).get
        assert(t.shape.toSeq == orig.shape.toSeq, s"$dtype/$comp ${t.loc.toSeq}")
        assert(t.data.toSeq == orig.data.toSeq, s"$dtype/$comp ${t.loc.toSeq}")
      }
    }
  }

  test("dtype range violations fail loudly on write") {
    import spark.implicits._
    val spec = GridSpec(Array(2L, 2L), Array(2, 2))
    val t = Tile(Array(0, 0), Array(1, 1), Array(2, 2), Array(1L, 2L, 3L, 300L))
    val dir = TempDirs.create("zarr")
    val ex = intercept[org.apache.spark.SparkException] {
      ZarrIO.write(spark.createDataset(Seq(t)), spec, dir, "|u1", "")
    }
    assert(ex.getMessage.contains("u1 range") ||
      Option(ex.getCause).exists(_.getMessage.contains("u1 range")))
  }

  test("chunk codec: edge-clipped tiles round-trip per dtype and fill") {
    val rnd = new scala.util.Random(5)
    val ranges = Seq("|u1" -> (0L, 255L), "<u2" -> (0L, 65535L),
      "<i4" -> (Int.MinValue.toLong, Int.MaxValue.toLong), "<i8" -> (Long.MinValue, Long.MaxValue))
    val width = Map("|u1" -> 1, "<u2" -> 2, "<i4" -> 4, "<i8" -> 8)
    for ((dtype, (lo, hi)) <- ranges; fill <- Seq(0L, 7L);
         chunks <- Seq(Array(9), Array(4, 6), Array(3, 4, 5)); comp <- Seq("", "zlib")) {
      // an edge tile: clipped on at least one axis, full or clipped on the rest
      val clipped = rnd.nextInt(chunks.length)
      val tileShape = Array.tabulate(chunks.length)(a =>
        if (a != clipped && rnd.nextBoolean()) chunks(a) else 1 + rnd.nextInt(chunks(a) - 1))
      val meta = ZarrIO.Meta(chunks.map(_.toLong), chunks, dtype, comp, fill, ".")
      val data = Array.fill(tileShape.product) {
        if (hi == Long.MaxValue) rnd.nextLong()
        else lo + (rnd.nextDouble() * (hi - lo + 1).toDouble).toLong.min(hi - lo)
      }
      if (dtype == "<i4") data(0) = -123456789L
      val what = s"$dtype fill $fill chunks ${chunks.mkString("x")} tile " +
        s"${tileShape.mkString("x")} compressor '$comp'"
      val enc = ZarrIO.encodeChunk(data, meta, tileShape)
      if (comp.isEmpty) {
        // the stored chunk element by element: the tile row-major inside
        // the chunk, fill everywhere else, little-endian
        val w = width(dtype)
        val expected = Array.fill(chunks.product)(fill)
        var i = 0
        graft.core.Nd.foreachIndex(chunks, graft.core.Nd.Box(new Array[Int](chunks.length),
          tileShape)) { flat => expected(flat) = data(i); i += 1 }
        val stored = Array.tabulate(chunks.product)(e => (0 until w).foldLeft(0L)((acc, b) =>
          acc | ((enc(e * w + b) & 0xffL) << (8 * b))))
        val mask = if (w == 8) -1L else (1L << (8 * w)) - 1L
        assert(stored.sameElements(expected.map(_ & mask)), what)
      }
      val back = ZarrIO.decodeChunk(enc, meta, new Array[Int](chunks.length), tileShape)
      assert(back.sameElements(data), what)
      if (dtype == "<i4") assert(back(0) == -123456789L, s"$what: <i4 must sign-extend")
    }
  }

  test("chunk codec: the first out-of-range value in tile order is named") {
    val meta = ZarrIO.Meta(Array(2L, 4L), Array(2, 4), "|u1", "", 0L, ".")
    // tile 2x3 inside a 2x4 chunk: 256 is first in tile row-major order
    val ex = intercept[IllegalArgumentException] {
      ZarrIO.encodeChunk(Array(1L, 2L, 256L, 300L, -1L, 3L), meta, Array(2, 3))
    }
    assert(ex.getMessage == "requirement failed: value 256 out of |u1 range")
    val u2 = intercept[IllegalArgumentException] {
      ZarrIO.encodeChunk(Array(1L, -1L, 70000L), meta.copy(dtype = "<u2"), Array(1, 3))
    }
    assert(u2.getMessage == "requirement failed: value -1 out of <u2 range")
    val i4 = intercept[IllegalArgumentException] {
      ZarrIO.encodeChunk(Array(0L, 1L << 31), meta.copy(dtype = "<i4"), Array(1, 2))
    }
    assert(i4.getMessage == s"requirement failed: value ${1L << 31} out of <i4 range")
    val badFill = intercept[IllegalArgumentException] {
      ZarrIO.encodeChunk(Array(1L), meta.copy(fillValue = 999L), Array(1, 1))
    }
    assert(badFill.getMessage == "requirement failed: value 999 out of |u1 range")
  }

  test("sparse store: dense read synthesizes fill, readPresent skips it") {
    import spark.implicits._
    val spec = GridSpec(Array(6L, 8L), Array(3, 4))
    val tiles = (for (gy <- 0 until 2; gx <- 0 until 2) yield
      Tile(Array(gy, gx), Array(2, 2), Array(3, 4),
        Array.fill(12)((gy * 2 + gx + 1).toLong))).toSeq
    // every unsharded layout: v2 with '.' and '/' keys, and v3 ('c/1/0')
    val stores: Seq[(String, String => Unit)] = Seq(
      "v2 '.'" -> (dir => ZarrIO.write(spark.createDataset(tiles), spec, dir, "<i4", "")),
      "v2 '/'" -> (dir => ZarrLayout(ZarrIO.Meta(spec.imageShape, spec.chunk,
        "<i4", "", 0L, "/"), v3 = false).write(spark.createDataset(tiles), dir)),
      "v3" -> (dir => Zarr3IO.write(spark.createDataset(tiles), spec, dir,
        "int32", gzip = false)))
    for ((name, write) <- stores) {
      val dir = TempDirs.create("zarr_sparse")
      write(dir)
      // punch a hole: delete chunk (1,0) so the store is genuinely sparse
      val hole = new java.io.File(ZarrLayout.of(dir).path(dir, Array(1, 0)))
      assert(hole.delete(), s"$name: could not delete $hole")

      val dense = ZarrIO.read(spark, dir).collect()
      assert(dense.length == 4, s"$name: dense frame keeps the nominal grid")
      val filled = dense.find(_.loc.toSeq == Seq(1, 0)).get
      assert(filled.data.forall(_ == 0L), s"$name: absent chunk reads as fill_value")
      dense.filter(_.loc.toSeq != Seq(1, 0)).foreach { t =>
        val orig = tiles.find(_.loc.toSeq == t.loc.toSeq).get
        assert(t.data.toSeq == orig.data.toSeq, s"$name ${t.loc.toSeq}")
      }

      val present = ZarrIO.readPresent(spark, dir).collect()
      assert(present.length == 3, s"$name: sparse read is O(present chunks)")
      assert(!present.exists(_.loc.toSeq == Seq(1, 0)))
      present.foreach { t =>
        val orig = tiles.find(_.loc.toSeq == t.loc.toSeq).get
        assert(t.data.toSeq == orig.data.toSeq, s"$name ${t.loc.toSeq}")
      }
    }
  }
}
