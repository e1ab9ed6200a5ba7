package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tiles.{GridSpec, Tile}

/** Scan-rate probe for the DSv2 zarr source: writes one synthetic store,
  * then times a full-payload aggregate and a coordinate-only count through
  * BOTH read paths (vectorized ColumnarBatch vs row-at-a-time), reporting
  * cells/s. `sbt "Test/runMain graft.tools.ZarrScanScale 8192"` -> 8192x8192
  * cells in 512x512 chunks (256 chunk files, 64M cells).
  */
object ZarrScanScale {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 8192
    val chunk = 512
    val g = n / chunk
    val spark = Probes.localSession()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val dir = graft.TempDirs.create("graft_zarr_scanscale")
    val spec = GridSpec(Array(n.toLong, n.toLong), Array(chunk, chunk))
    val tiles = spark.range(g.toLong * g).map { i =>
      val gy = (i / g).toInt; val gx = (i % g).toInt
      Tile(Array(gy, gx), Array(g, g), Array(chunk, chunk),
        Array.tabulate(chunk * chunk)(j => (i * 31 + j) % 251))
    }
    val mode = args.drop(1).headOption
    if (mode.contains("write")) { writeProbe(spark, n, chunk); spark.stop(); return }
    val shardDir = graft.TempDirs.create("graft_zarr_scanscale_sh")
    if (mode.forall(_ == "shard"))
      // same cells through the sharded layout: 4x4 inners per shard object
      // (16 objects instead of 256 files at the default size)
      graft.sources.Zarr3IO.writeSharded(tiles, spec,
        Array(4 * chunk, 4 * chunk), shardDir, "int64", gzip = false)
    if (mode.forall(_ != "shard"))
      graft.sources.ZarrIO.write(tiles, spec, dir, "<i8", "")
    val cells = n.toLong * n

    def probe(label: String, vectorized: Boolean, d: String): Unit = {
      val reader = spark.read.format("zarr")
        .option("vectorized", vectorized.toString)
        .option("assumeComplete", (label == "enumerated").toString)
      // warm once (JIT + codegen), then time
      reader.load(d).agg(sum("value")).collect()
      var t0 = System.nanoTime()
      val s = reader.load(d).agg(sum("value")).collect()(0).getLong(0)
      val aggSec = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val c = reader.load(d).select("g0", "p0").count()
      val cntSec = (System.nanoTime() - t0) / 1e9
      assert(c == cells)
      println(f"[zarrscan] $label%-10s sum=$s aggregate: $aggSec%6.2f s " +
        f"(${cells / aggSec / 1e6}%8.1f Mcells/s)  coord-count: $cntSec%6.2f s " +
        f"(${cells / cntSec / 1e6}%8.1f Mcells/s)")
    }

    // optional second arg isolates one mode in its own JVM (GC garbage from
    // the row path otherwise contaminates the interleaved measurement)
    val modes: Seq[(String, Boolean, String)] = mode match {
      case Some("row") => Seq(("row", false, dir), ("row", false, dir))
      case Some("vec") => Seq(("vectorized", true, dir), ("vectorized", true, dir))
      case Some("enum") => Seq(("enumerated", true, dir), ("enumerated", true, dir))
      case Some("shard") => Seq(("sharded", true, shardDir), ("sharded", true, shardDir))
      case _ => Seq(("row", false, dir), ("vectorized", true, dir),
        ("sharded", true, shardDir),
        ("row", false, dir), ("vectorized", true, dir),
        ("sharded", true, shardDir))
    }
    modes.foreach { case (label, v, d) => probe(label, v, d) }
    spark.stop()
  }

  /** Write-rate probe (`... 8192 write`): the same cell relation through
    * the DSv2 sink unsharded, the DSv2 sink with the `shards` option
    * (staged inner chunks + distributed pack-at-commit), and the
    * shuffle-based `writeSharded` — what the pack job's extra encoded-byte
    * pass actually costs versus the one-object-per-chunk layout.
    */
  private def writeProbe(spark: SparkSession, n: Int, chunk: Int): Unit = {
    import spark.implicits._
    val cells = n.toLong * n
    val g = n / chunk
    val rows = spark.range(cells).selectExpr(
      s"id div ${n.toLong * chunk} AS g0",
      s"(id % $n) div $chunk AS g1",
      s"(id div $n) % $chunk AS p0",
      s"id % $chunk AS p1",
      "id % 251 AS value")
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[zarrwrite] $label%-14s $sec%6.2f s " +
        f"(${cells / sec / 1e6}%8.1f Mcells/s)")
    }
    def dsv2(dir: String, sharded: Boolean): Unit = {
      val w = rows.write.format("zarr")
        .option("shape", s"$n,$n").option("chunks", s"$chunk,$chunk")
        .option("dtype", "int64").option("compressor", "none")
        .option("zarrFormat", "3")
      (if (sharded) w.option("shards", s"${4 * chunk},${4 * chunk}") else w)
        .mode("overwrite").save(dir)
    }
    val plainDir = graft.TempDirs.create("graft_zw_plain")
    val shardDir = graft.TempDirs.create("graft_zw_shard")
    val libDir = graft.TempDirs.create("graft_zw_lib")
    val spec = GridSpec(Array(n.toLong, n.toLong), Array(chunk, chunk))
    val tiles = spark.range(g.toLong * g).map { i =>
      val gy = (i / g).toInt; val gx = (i % g).toInt
      Tile(Array(gy, gx), Array(g, g), Array(chunk, chunk),
        Array.tabulate(chunk * chunk)(j => (i * 31 + j) % 251))
    }
    // two rotated passes: first-pass JIT/codegen warm-up lands on dsv2
    for (_ <- 1 to 2) {
      // the clustered-distribution shuffle + sort alone (noop sink):
      // what Catalyst's machinery costs before the writer sees a row
      time("shuffle+sort")(rows.repartition(col("g0"), col("g1"))
        .sortWithinPartitions("g0", "g1") // the sink's requiredOrdering
        .write.format("noop").mode("overwrite").save())
      time("dsv2")(dsv2(plainDir, sharded = false))
      time("dsv2+shards")(dsv2(shardDir, sharded = true))
      time("writeSharded")(graft.sources.Zarr3IO.writeSharded(tiles, spec,
        Array(4 * chunk, 4 * chunk), libDir, "int64", gzip = false))
    }
  }
}
