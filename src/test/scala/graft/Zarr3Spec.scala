package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.sources.{Zarr3IO, ZarrIO}
import graft.tiles.{GridSpec, Tile}

/** The v3 layout is pinned two independent ways: a store hand-built from
  * raw bytes per the published spec (no Zarr3IO code on the write side) must
  * read back exactly, and a written store must read back identically through
  * the v2 implementation's data model (cross-format differential).
  */
class Zarr3Spec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private def tmp(): java.nio.file.Path =
    Paths.get(TempDirs.create("zarr3spec"))

  test("reads a hand-constructed v3 store (spec bytes, not our writer)") {
    val dir = tmp()
    // 3x5 uint16 array, 2x3 chunks -> grid 2x2, edge chunks fill-padded
    Files.write(dir.resolve("zarr.json"),
      """{"zarr_format": 3, "node_type": "array",
        | "shape": [3, 5], "data_type": "uint16",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3]}},
        | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        | "fill_value": 0,
        | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]
        |}""".stripMargin.getBytes("UTF-8"))
    // chunk (0,0): values 1..6 row-major; little-endian uint16, C order
    def le(vs: Int*): Array[Byte] =
      vs.flatMap(v => Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)).toArray
    Files.createDirectories(dir.resolve("c/0"))
    Files.createDirectories(dir.resolve("c/1"))
    Files.write(dir.resolve("c/0/0"), le(1, 2, 3, 4, 5, 6))
    // chunk (0,1): image cols 3..4 -> tile 2x2; stored FULL 2x3 with pad col
    Files.write(dir.resolve("c/0/1"), le(300, 400, 0, 500, 600, 0))
    // chunk (1,0): image row 2 only -> tile 1x3; stored full 2x3, pad row
    Files.write(dir.resolve("c/1/0"), le(7, 8, 9, 0, 0, 0))
    // chunk (1,1): 1x2 tile in a full 2x3 chunk
    Files.write(dir.resolve("c/1/1"), le(65535, 42, 0, 0, 0, 0))

    val tiles = Zarr3IO.read(spark, dir.toString).collect()
      .map(t => t.loc.toSeq -> t).toMap
    assert(tiles.size == 4)
    assert(tiles(Seq(0, 0)).shape.sameElements(Array(2, 3)))
    assert(tiles(Seq(0, 0)).data.sameElements(Array(1L, 2L, 3L, 4L, 5L, 6L)))
    assert(tiles(Seq(0, 1)).shape.sameElements(Array(2, 2)))
    assert(tiles(Seq(0, 1)).data.sameElements(Array(300L, 400L, 500L, 600L)))
    assert(tiles(Seq(1, 0)).shape.sameElements(Array(1, 3)))
    assert(tiles(Seq(1, 0)).data.sameElements(Array(7L, 8L, 9L)))
    assert(tiles(Seq(1, 1)).data.sameElements(Array(65535L, 42L)))
  }

  test("write/read roundtrip (gzip codec chain) and v2/v3 equivalence") {
    import spark.implicits._
    val spec = GridSpec(Array(10L, 9L), Array(4, 4))
    val tiles = for {
      gy <- 0 until 3; gx <- 0 until 3
      h = math.min(4, 10 - gy * 4); w = math.min(4, 9 - gx * 4)
    } yield Tile(Array(gy, gx), Array(3, 3), Array(h, w),
      Array.tabulate(h * w)(i => (gy * 1000 + gx * 100 + i).toLong))
    val ds = spark.createDataset(tiles)

    val d3 = tmp().toString
    Zarr3IO.write(ds, spec, d3, "int32", gzip = true)
    assert(Files.exists(Paths.get(d3, "zarr.json")))
    assert(Files.exists(Paths.get(d3, "c/1/2")), "default chunk-key encoding")
    val got3 = Zarr3IO.read(spark, d3).collect()
    Goldens.assertSameTiles(got3.toSeq, tiles)

    // cross-format: the same tiles through the v2 store read back equal
    val d2 = tmp().toString
    ZarrIO.write(ds, spec, d2, "<i4", "zlib")
    val got2 = ZarrIO.read(spark, d2).collect()
    Goldens.assertSameTiles(got3.toSeq, got2.toSeq)
  }

  test("pruned read opens only the kept chunks") {
    import spark.implicits._
    val spec = GridSpec(Array(8L, 8L), Array(4, 4))
    val tiles = for (gy <- 0 until 2; gx <- 0 until 2)
      yield Tile(Array(gy, gx), Array(2, 2), Array(4, 4),
        Array.fill(16)((gy * 2 + gx + 1).toLong))
    val d3 = tmp().toString
    Zarr3IO.write(spark.createDataset(tiles), spec, d3, "uint8", gzip = false)
    // delete a chunk the predicate excludes: a non-pruned read would crash
    Files.delete(Paths.get(d3, "c/1/1"))
    val got = Zarr3IO.read(spark, d3, loc => loc(0) == 0).collect()
    assert(got.map(_.loc.toSeq).toSet == Set(Seq(0, 0), Seq(0, 1)))
  }
}
