package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.ZarrIO
import graft.sources.zarr.ZarrTableProvider
import graft.tiles.{GridSpec, Tile}

/** The DSv2 zarr source: schema, pushdowns, and row-level agreement with
  * the Dataset[Tile] reader over the same store.
  */
class ZarrDsv2Spec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  // a 6x4 grid of 5x5 chunks over a 28x17 image (ragged edges), values
  // v(y, x) = y * 31 + x (nonzero everywhere except the origin)
  private lazy val dir: String = {
    import spark.implicits._
    val d = TempDirs.create("graft_dsv2_spec")
    val spec = GridSpec(Array(28L, 17L), Array(5, 5))
    val tiles = for (gy <- 0 until 6; gx <- 0 until 4) yield {
      val h = math.min(5, 28 - gy * 5); val w = math.min(5, 17 - gx * 5)
      Tile(Array(gy, gx), Array(6, 4), Array(h, w),
        Array.tabulate(h * w) { i =>
          val y = gy * 5 + i / w; val x = gx * 5 + i % w
          y.toLong * 31 + x
        })
    }
    ZarrIO.write(spark.createDataset(tiles), spec, d, "<i8", "zlib")
    d
  }

  test("fileScanLeafInfo exposes the zarr relation as a file-store leaf") {
    // the scope resolution behind HilbertBoxCover must SEE a zarr scan's
    // root: a path-scoped parquet layout mixed with a zarr read then
    // resolves to differing roots and declines, instead of overlooking
    // the zarr store entirely (no layout ever registers FOR a zarr root —
    // its grid predicates push down natively and exactly)
    val df = spark.read.format("zarr").load(dir)
    val info = org.apache.spark.sql.graft.Bridge
      .fileScanLeafInfo(df.queryExecution.analyzed)
    assert(info.map(_._1) == Seq(Seq(dir)), s"zarr root not surfaced: $info")
    assert(info.head._2.map(_.name) == Seq("g0", "g1", "p0", "p1", "value"))
  }

  test("fuzz: random grid/pixel predicates — pushdown never changes rows") {
    // seeded sweep over the filter shapes consume() accepts (strict and
    // closed bounds, =, IN, empty boxes, bounds beyond the grid) mixed
    // with residual p/value predicates: the DSv2 answer must equal the
    // same predicate applied to the full in-memory relation, whatever
    // portion pushed down
    val all = spark.read.format("zarr").load(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val rnd = new scala.util.Random(21)
    def rb(lo: Int, hi: Int): Long = (lo + rnd.nextInt(hi - lo + 1)).toLong
    (1 to 18).foreach { i =>
      val (c, v1, v2) = (Seq("g0", "g1", "p0", "p1")(rnd.nextInt(4)),
        rb(-2, 7), rb(-2, 7))
      val pred = i % 6 match {
        case 0 => col(c) >= v1 && col(c) < v2
        case 1 => col(c) > v1 && col(c) <= v2
        case 2 => col(c) === v1
        case 3 => col(c).isin(v1, v2, rb(-2, 7))
        case 4 => col("g0") >= v1 && col("g1") < v2 && col("value") % 3 === 0
        case _ => col(c).between(v1, v2) && col("p0") =!= v1
      }
      val got = spark.read.format("zarr").load(dir).filter(pred)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      import spark.implicits._
      val want = all.toSeq.toDF("g0", "g1", "p0", "p1", "value")
        .filter(pred).collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(got == want, s"fuzz predicate #$i changed the zarr result")
    }
  }

  test("schema inference: g/p coordinates + value, all BIGINT") {
    val df = spark.read.format("zarr").load(dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("g0", "g1", "p0", "p1", "value"))
    assert(df.schema.fields.forall(_.dataType.typeName == "long"))
  }

  test("rows agree with the Dataset[Tile] reader, ragged edges included") {
    val viaDsv2 = spark.read.format("zarr").load(dir)
      .selectExpr("g0 * 5 + p0 AS y", "g1 * 5 + p1 AS x", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaTiles = ZarrIO.read(spark, dir).collect().flatMap { t =>
      for (y <- 0 until t.shape(0); x <- 0 until t.shape(1))
        yield ((t.loc(0) * 5 + y).toLong, (t.loc(1) * 5 + x).toLong,
          t.data(y * t.shape(1) + x))
    }.filter(_._3 != 0L).toSet
    // the tile reader strips fill-value zeros; DSv2 emits every cell
    assert(viaDsv2.count(_._3 != 0L) == viaTiles.size)
    assert(viaDsv2.filter(_._3 != 0L) == viaTiles)
    assert(viaDsv2.size == 28 * 17)
  }

  test("grid predicates push down to chunk pruning, no residual filter") {
    val df = spark.read.format("zarr").load(dir)
      .filter(col("g0") >= 1 && col("g0") < 3 && col("g1") === 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ZarrScan"), plan)
    assert(plan.contains("g0 in [1, 2]") && plan.contains("g1 in [2, 2]"),
      s"bounds not pushed:\n$plan")
    // no residual Filter node (the scan line's "RuntimeFilters: []" is not one)
    assert(!plan.linesIterator.exists(l =>
      l.contains("Filter ") && l.contains("g0")),
      s"pushed predicates left a residual:\n$plan")
    // 2 grid rows x 1 grid col = 2 chunk partitions
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 2 * 5 * 5) // chunks (1,2) and (2,2): 5x5 cells each
  }

  test("v3 stores are autodetected and read through the same scan") {
    import spark.implicits._
    val d3 = TempDirs.create("graft_dsv2_v3")
    val spec = GridSpec(Array(9L, 7L), Array(4, 4))
    val tiles = for (gy <- 0 until 3; gx <- 0 until 2) yield {
      val h = math.min(4, 9 - gy * 4); val w = math.min(4, 7 - gx * 4)
      Tile(Array(gy, gx), Array(3, 2), Array(h, w),
        Array.tabulate(h * w) { i =>
          val y = gy * 4 + i / w; val x = gx * 4 + i % w
          y.toLong * 10 + x + 1
        })
    }
    graft.sources.Zarr3IO.write(spark.createDataset(tiles), spec, d3,
      "uint16", gzip = true)
    val df = spark.read.format("zarr").load(d3)
    assert(df.count() == 9 * 7)
    val got = df.filter(col("g0") === 1)
      .agg(sum("value")).collect()(0).getLong(0)
    val want = (for (y <- 4 until 8; x <- 0 until 7)
      yield y.toLong * 10 + x + 1).sum
    assert(got == want)
  }

  test("pruned-scan statistics flow to the join planner: auto-broadcast") {
    import spark.implicits._
    // without pruning the store is 28x17 = 476 rows; pruned to one chunk
    // it reports ~25 rows, far under the broadcast threshold
    val big = spark.range(100000).select(col("id").as("y"),
      (col("id") % 97).as("w"))
    val pruned = spark.read.format("zarr").load(dir)
      .filter(col("g0") === 2 && col("g1") === 1)
      .selectExpr("g0 * 5 + p0 AS y", "value")
    val joined = big.join(pruned, "y")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"pruned zarr side not broadcast:\n$plan")
    assert(joined.count() == 25) // one full 5x5 chunk, y in [10, 14] x 5 cols
  }

  test("DSv2 write: save a store, read it back with both readers") {
    val wdir = TempDirs.create("graft_dsv2_write")
    // rebuild the 28x17 image as (g, p, value) rows and write it back out
    val rows = spark.read.format("zarr").load(dir).filter(col("value") =!= 0)
    rows.write.format("zarr")
      .option("shape", "28,17").option("chunks", "5,5")
      .option("dtype", "<i8").option("compressor", "zlib")
      .mode("overwrite").save(wdir)
    // the written store must be byte-level readable by the tile reader...
    val viaTiles = ZarrIO.read(spark, wdir).collect()
      .flatMap { t =>
        for (y <- 0 until t.shape(0); x <- 0 until t.shape(1)
             if t.data(y * t.shape(1) + x) != 0L)
          yield ((t.loc(0) * 5 + y).toLong, (t.loc(1) * 5 + x).toLong,
            t.data(y * t.shape(1) + x))
      }.toSet
    val original = spark.read.format("zarr").load(dir)
      .filter(col("value") =!= 0)
      .selectExpr("g0 * 5 + p0 AS y", "g1 * 5 + p1 AS x", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaTiles == original)
    // ...and by the DSv2 reader (metadata written at commit)
    assert(spark.read.format("zarr").load(wdir)
      .filter(col("value") =!= 0).count() == original.size)
    // rewriting an existing store truncates, not accumulates
    rows.filter(col("g0") === 0).write.format("zarr")
      .option("shape", "28,17").option("chunks", "5,5")
      .option("dtype", "<i8").option("compressor", "zlib")
      .mode("overwrite").save(wdir)
    assert(spark.read.format("zarr").load(wdir)
      .filter(col("value") =!= 0).count() ==
      original.count(_._1 < 5))
  }

  test("DSv2 write plans a chunk-aligned shuffle (clustered distribution)") {
    val rows = spark.read.format("zarr").load(dir)
    val wdir = TempDirs.create("graft_dsv2_write_plan")
    // capture the physical plan of the write via the listener-free route:
    // the V2 write requires clustering on (g0, g1), which plans an Exchange
    // hashpartitioning over exactly those columns
    val writer = rows.write.format("zarr")
      .option("shape", "28,17").option("chunks", "5,5")
      .option("dtype", "<i8").option("compressor", "zlib")
      .mode("overwrite")
    var plan = ""
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { plan = qe.executedPlan.toString }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      writer.save(wdir)
      // the execution listener delivers asynchronously
      var tries = 0
      while (plan.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
    } finally spark.listenerManager.unregister(listener)
    assert(plan.contains("hashpartitioning(g0"),
      s"write did not cluster on the grid coordinates:\n$plan")
  }

  test("IN lists push down to non-contiguous chunk pruning") {
    val df = spark.read.format("zarr").load(dir)
      .filter(col("g0").isin(0, 3, 5) && col("g1") === 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("in {0,3,5}"), s"IN list not pushed:\n$plan")
    assert(df.rdd.getNumPartitions == 3)
    // rows: g0=0 and 3 are full-height (5), g0=5 is the ragged edge (3)
    assert(df.count() == (5 + 5 + 3) * 5)
  }

  test("runtime filters prune chunks at execution time (DPP analogue)") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    // build the scan directly and drive the runtime-filtering contract
    val table = new graft.sources.zarr.ZarrTable(dir,
      graft.sources.ZarrLayout.of(dir))
    val sb = table.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    val scan = sb.build().asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("g0", "g1"))
    val batch = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
    assert(batch.planInputPartitions().length == 24) // 6x4 grid, unpruned
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      In("g0", Array(1, 2, 4)), EqualTo("g1", 3)))
    assert(batch.planInputPartitions().length == 3)
  }

  test("column pruning skips payload I/O for coordinate-only scans") {
    ZarrTableProvider.payloadReads.set(0)
    val n = spark.read.format("zarr").load(dir)
      .select("g0", "p0").count()
    assert(n == 28 * 17)
    assert(ZarrTableProvider.payloadReads.get() == 0,
      "coordinate-only scan opened chunk files")
    val s = spark.read.format("zarr").load(dir)
      .agg(sum("value")).collect()(0).getLong(0)
    assert(ZarrTableProvider.payloadReads.get() == 24,
      "value scan should open every chunk exactly once")
    // sum over full image of y*31+x
    val want = (for (y <- 0 until 28; x <- 0 until 17)
      yield y.toLong * 31 + x).sum
    assert(s == want)
  }
}
