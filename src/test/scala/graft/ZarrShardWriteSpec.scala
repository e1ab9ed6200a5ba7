package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rel.RelabelRel
import graft.sources.StoreIO
import graft.sources.ZarrLayout

/** The DSv2 sharded write path (`shards` option): staged inner chunks
  * packed into indexed shard objects by the distributed commit.
  */
class ZarrShardWriteSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  private val gyL = RelabelRel.GY.toLong * RelabelRel.L
  private val gxL = RelabelRel.GX.toLong * RelabelRel.L

  private def px = RelabelRel.pixelsRaw(spark, sf)
    .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
      "label AS value")

  private def sharded(df: DataFrame, dir: String, mode: String = "overwrite") =
    df.write.format("zarr")
      .option("shape", s"$gyL,$gxL")
      .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
      .option("shards", s"${2 * RelabelRel.L},${2 * RelabelRel.L}")
      .option("dtype", "uint16").option("compressor", "gzip")
      .option("zarrFormat", "3")
      .mode(mode).save(dir)

  private def nonZero(dir: String) =
    spark.read.format("zarr").load(dir).filter(col("value") =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)) -> r.getLong(4)).toMap

  test("sharded DSv2 write: object-per-shard layout, same rows back") {
    val dir = TempDirs.create("graft_dsw_shard")
    sharded(px, dir)
    assert(ZarrLayout.of(dir).shard.isDefined)
    // 6x4 inner grid at 2x2 inners per shard -> 3x2 shard objects
    val conf = StoreIO.hadoopConf
    val rows = StoreIO.list(conf, dir + "/c")
    assert(rows.length == RelabelRel.GY / 2, "shard rows, not inner rows")
    assert(rows.forall(r =>
      StoreIO.list(conf, r.getPath.toString).length == RelabelRel.GX / 2))
    // and the rows are exactly what the unsharded twin serves
    val plain = TempDirs.create("graft_dsw_plain")
    px.write.format("zarr")
      .option("shape", s"$gyL,$gxL")
      .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
      .option("dtype", "uint16").option("compressor", "gzip")
      .option("zarrFormat", "3")
      .mode("overwrite").save(plain)
    assert(nonZero(dir) == nonZero(plain))
  }

  test("sparse write leaves absent inners inside shards, not garbage") {
    val dir = TempDirs.create("graft_dsw_sparse")
    // only grid row 1: each of its shards holds 2 present + 2 absent inners
    sharded(px.filter(col("g0") === 1), dir)
    val got = nonZero(dir)
    assert(got.nonEmpty && got.keySet.forall(_._1 == 1L))
    val want = px.filter(col("g0") === 1 && col("value") =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)) -> r.getLong(4)).toMap
    assert(got == want)
  }

  test("overwriting a sharded store with a sharded write succeeds") {
    val dir = TempDirs.create("graft_dsw_rewrite")
    sharded(px, dir)
    val before = nonZero(dir)
    sharded(px, dir) // Bench runs every gate twice; the rewrite must hold
    assert(nonZero(dir) == before)
  }

  test("a failed sharded overwrite leaves the prior store intact") {
    val dir = TempDirs.create("graft_dsw_abort")
    sharded(px, dir)
    val before = nonZero(dir)
    val poisoned = px.unionByName(spark.range(1).selectExpr("0L AS g0",
      "0L AS g1", s"${RelabelRel.L}L AS p0", "0L AS p1", "1L AS value"))
    intercept[Exception] { sharded(poisoned, dir) }
    assert(ZarrLayout.of(dir).shard.isDefined)
    assert(nonZero(dir) == before)
  }

  test("shards option is refused for v2 stores and append mode") {
    val dir = TempDirs.create("graft_dsw_refuse")
    val v2 = intercept[Exception] {
      px.write.format("zarr")
        .option("shape", s"$gyL,$gxL")
        .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
        .option("shards", s"${2 * RelabelRel.L},${2 * RelabelRel.L}")
        .mode("overwrite").save(dir)
    }
    assert(v2.getMessage.contains("zarrFormat=3"))
    sharded(px, dir)
    val app = intercept[Exception] { sharded(px, dir, mode = "append") }
    assert(app.getMessage.contains("overwrite"))
  }
}
