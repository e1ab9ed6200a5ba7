package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.sources.TileIO
import graft.tiles.GridSpec

class TileIOSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session

  test("tile table parquet round-trip (flat and coarse-partitioned)") {
    // an O3 table in the rem_2d geometry, with its nonzero-mask classes channel
    val in = StageTables.rem2d(withClasses = true)
    assert(in.exists(_.data.exists(_ >= (1L << 32))),
      "the table must hold a label >= 2^32, so parquet carries full int64 values")
    assert(in.exists(_.classes.exists(_.exists(_ != 0L))),
      "the table must hold a nonzero classes value")
    val ds = spark.createDataset(in)(spark.implicits.newProductEncoder)
    for (coarse <- Seq(0, 4)) {
      val dir = TempDirs.create("tileio")
      TileIO.write(ds, dir, coarsePartitions = coarse)
      val back = TileIO.read(spark, dir).collect().toSeq
      Goldens.assertSameTiles(back, in, checkClasses = true)
    }
  }

  test("readBox prunes to the requested grid range") {
    val in = StageTables.rem2d()
    assert(in.length == 12 && in.forall(_.grid.toSeq == Seq(4, 3)),
      "readBox needs the full 4x3 grid of tiles")
    val ds = spark.createDataset(in)(spark.implicits.newProductEncoder)
    val dir = TempDirs.create("tileio")
    TileIO.write(ds, dir, coarsePartitions = 3)
    val got = TileIO.readBox(spark, dir, Array(1, 1), Array(2, 2)).collect()
    assert(got.map(_.loc.toSeq).toSet ==
      Set(Seq(1, 1), Seq(1, 2), Seq(2, 1), Seq(2, 2)))
    // with grid+coarse supplied the pgrid range predicate prunes directories
    // and must return the same tiles
    val pruned = TileIO.readBox(spark, dir, Array(1, 1), Array(2, 2),
      grid = Some(Array(4, 3)), coarsePartitions = 3)
    assert(pruned.queryExecution.executedPlan.toString.contains("pgrid"),
      "expected a pgrid partition predicate in the plan")
    assert(pruned.collect().map(_.loc.toSeq).toSet == got.map(_.loc.toSeq).toSet)
  }

  test("fromPixels bulk load reassembles the image") {
    import spark.implicits._
    val spec = GridSpec(Array(6L, 7L), Array(4, 4))
    val pixels = for (y <- 0 until 6; x <- 0 until 7)
      yield (Array(y, x), (y * 7 + x + 1).toLong)
    val tiles = TileIO.fromPixels(spark.createDataset(pixels.toSeq), spec)
      .collect()
    assert(tiles.length == 4)
    val t00 = tiles.find(_.loc.toSeq == Seq(0, 0)).get
    assert(t00.shape.toSeq == Seq(4, 4) && t00.data(0) == 1L && t00.data(5) == 9L)
    val t11 = tiles.find(_.loc.toSeq == Seq(1, 1)).get
    assert(t11.shape.toSeq == Seq(2, 3))
    assert(t11.data.toSeq == Seq(33L, 34L, 35L, 40L, 41L, 42L))
  }
}
