package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.Zarr3IO
import graft.sources.ZarrLayout

/** The DSv2 write path with zarrFormat=3: zarr.json metadata, c/-keys,
  * bytes+gzip codecs — readable by BOTH the DSv2 scan (autodetect) and the
  * native Zarr3IO tile reader, with format mixing rejected.
  */
class ZarrV3WriteSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private def cells(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong * n)
      .selectExpr(s"id div $n div 4 AS g0", s"id % $n div 4 AS g1",
        s"id div $n % 4 AS p0", s"id % $n % 4 AS p1",
        "id % 97 + 1 AS value")
  }

  test("v3 write round-trips through both readers") {
    val dir = TempDirs.create("graft_v3write")
    cells(8).write.format("zarr")
      .option("shape", "8,8").option("chunks", "4,4")
      .option("dtype", "uint16").option("compressor", "gzip")
      .option("zarrFormat", "3")
      .mode("overwrite").save(dir)
    // the store IS v3 on disk
    assert(ZarrLayout.isV3(dir))
    assert(new java.io.File(dir, "zarr.json").isFile)
    assert(new java.io.File(dir, "c/0/1").isFile, "c/-keys missing")
    // DSv2 scan autodetects
    val viaDsv2 = spark.read.format("zarr").load(dir)
      .agg(count(lit(1)), sum("value")).collect()(0)
    assert(viaDsv2.getLong(0) == 64)
    val expect = (0L until 64L).map(_ % 97 + 1).sum
    assert(viaDsv2.getLong(1) == expect)
    // native v3 tile reader agrees
    val viaTiles = Zarr3IO.read(spark, dir).collect()
      .flatMap(_.data).filter(_ != 0).sum
    assert(viaTiles == expect)
  }

  test("append into a v3 store inherits its layout") {
    val dir = TempDirs.create("graft_v3append")
    cells(8).filter(col("g0") === 0).write.format("zarr")
      .option("shape", "8,8").option("chunks", "4,4")
      .option("dtype", "uint16").option("zarrFormat", "3")
      .mode("append").save(dir)
    // no layout options at all: inherited from zarr.json (incl. format)
    cells(8).filter(col("g0") === 1).write.format("zarr")
      .mode("append").save(dir)
    val n = spark.read.format("zarr").load(dir).count()
    assert(n == 64)
    assert(ZarrLayout.isV3(dir))
  }

  test("append changing the store layout is rejected up front") {
    val dir = TempDirs.create("graft_v3appendmix")
    cells(8).write.format("zarr")
      .option("shape", "8,8").option("chunks", "4,4")
      .option("dtype", "uint16").option("zarrFormat", "3")
      .mode("overwrite").save(dir)
    // same shape, different chunking: surviving chunks would decode as
    // garbage under the new metadata — must be rejected before any write
    val e = intercept[Exception] {
      spark.range(4).selectExpr("0L AS g0", "id AS g1", "0L AS p0",
          "0L AS p1", "id AS value")
        .write.format("zarr")
        .option("shape", "8,8").option("chunks", "2,2")
        .option("dtype", "uint16").option("zarrFormat", "3")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("changes the store layout"), e.getMessage)
    // the store is untouched and still reads back whole
    assert(spark.read.format("zarr").load(dir).count() == 64)
  }

  test("format mixing is rejected up front") {
    val dir = TempDirs.create("graft_v3mix")
    cells(8).write.format("zarr")
      .option("shape", "8,8").option("chunks", "4,4")
      .option("dtype", "<u2").mode("overwrite").save(dir) // v2 store
    val e = intercept[Exception] {
      cells(8).write.format("zarr")
        .option("shape", "8,8").option("chunks", "4,4")
        .option("dtype", "uint16").option("zarrFormat", "3")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("format"), e.getMessage)
  }

  test("v2 dtype strings are rejected for v3 writes") {
    val dir = TempDirs.create("graft_v3baddtype")
    val e = intercept[Exception] {
      cells(8).write.format("zarr")
        .option("shape", "8,8").option("chunks", "4,4")
        .option("dtype", "<u2").option("zarrFormat", "3")
        .mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("v3 data_type"), e.getMessage)
  }
}
