package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Relabel
import graft.tiles.Tile
import Q.tbl

/** Bridges between the tile-form engine and the relational harness.
  *
  * `px_pipeline` is the flagship: it runs the REAL tile engine — Dataset[Tile]
  * kernels with the halo-exchange shuffle — over the synthetic grid of
  * [[RelabelRel]] and is checked against the same DuckDB SQL oracle as the
  * relational formulation. The tile engine itself is thereby DuckDB-verified,
  * not just its relational twin.
  */
object PipelineOps {

  import RelabelRel.{GY, GX, L, OV, THRESHOLD}

  /** Synthetic pixel table -> Dataset[Tile] (one groupByKey; the same shape
    * a parquet tile source would produce).
    */
  private def tilesFromPixels(s: SparkSession, d: String) = {
    import s.implicits._
    RelabelRel.pixelsRaw(s, d)
      .select("gy", "gx", "py", "px", "label")
      .as[(Long, Long, Long, Long, Long)]
      // densify: one marker row (py = -1) per grid cell, so the tile frame
      // is the DENSE dask array the reference pipelines over even when an
      // input slice leaves tiles pixel-free (tiny slices, filtered regions).
      // Markers ride the same groupByKey shuffle — one extra row per tile,
      // no extra stage — and fill nothing
      .union(s.range(GY.toLong * GX).map(i => (i / GX, i % GX, -1L, -1L, 0L)))
      .groupByKey { case (gy, gx, _, _, _) => gy * GX + gx }
      .mapGroups { (_, it) =>
        val rows = it.toArray
        val (gy, gx) = (rows.head._1.toInt, rows.head._2.toInt)
        val data = new Array[Long](L * L)
        rows.foreach { case (_, _, py, px, label) =>
          if (py >= 0) data(py.toInt * L + px.toInt) = label
        }
        Tile(Array(gy, gx), Array(GY, GX), Array(L, L), data)
      }
  }

  /** Merged tiles -> labeled pixels in the original per-tile frame (trim
    * offset re-added). Shared by every pipeline variant so the trim rule
    * cannot diverge between ingest paths.
    */
  private def explodeMerged(merged: org.apache.spark.sql.Dataset[Tile]): DataFrame = {
    val s = merged.sparkSession
    import s.implicits._
    merged.flatMap { t =>
      val y0 = if (t.loc(0) > 0) OV else 0
      val x0 = if (t.loc(1) > 0) OV else 0
      val (h, w) = (t.shape(0), t.shape(1))
      for {
        y <- 0 until h
        x <- 0 until w
        v = t.data(y * w + x)
        if v != 0L
      } yield (t.loc(0).toLong, t.loc(1).toLong,
        (y + y0).toLong, (x + x0).toLong, v)
    }.toDF("gy", "gx", "py", "px", "gid")
  }

  /** Tile-engine remove+merge, exploded back to labeled pixels. */
  def pipeline(s: SparkSession, d: String): DataFrame = {
    val tiles = tilesFromPixels(s, d)
    val removed = Relabel.removeOverlappedLabels(tiles, Array(OV, OV), THRESHOLD)
    explodeMerged(Relabel.mergeOverlappedTiles(removed, Array(OV, OV)))
  }

  /** px_pipeline with a zarr store in the middle: the synthetic image is
    * written to a zarr v2 store (executor-side chunk files, zlib), read
    * back through [[graft.sources.ZarrIO]], and only then run through
    * remove+merge. Hash-matching the same MERGE_SQL oracle as px_pipeline
    * proves the source end-to-end — layout, dtype codec, edge-chunk
    * padding — not just roundtrip self-consistency.
    */
  /** One store per JVM, overwritten each invocation (same grid at every SF)
    * and removed on exit — repeated Verify/Bench runs must not accumulate
    * image copies in /tmp.
    */
  private lazy val zarrDir: String = graft.TempDirs.create("graft_zarr")

  def zarrPipeline(s: SparkSession, d: String): DataFrame = {
    val spec = graft.tiles.GridSpec(Array(GY.toLong * L, GX.toLong * L), Array(L, L))
    // labels fit <u2 (max 16): exercise the narrow-dtype path, not just i8
    graft.sources.ZarrIO.write(tilesFromPixels(s, d), spec, zarrDir, "<u2", "zlib")
    val tiles = graft.sources.ZarrIO.read(s, zarrDir)
    val removed = Relabel.removeOverlappedLabels(tiles, Array(OV, OV), THRESHOLD)
    explodeMerged(Relabel.mergeOverlappedTiles(removed, Array(OV, OV)))
  }

  /** px_zarr_pipeline's v3 twin: same image, same oracle, but through the
    * zarr v3 layout (`zarr.json`, `c/`-keys, bytes+gzip codec chain) —
    * proving the second store format end-to-end, not just roundtrip.
    */
  def zarr3Pipeline(s: SparkSession, d: String): DataFrame = {
    val spec = graft.tiles.GridSpec(Array(GY.toLong * L, GX.toLong * L), Array(L, L))
    graft.sources.Zarr3IO.write(tilesFromPixels(s, d), spec, zarr3Dir,
      "uint16", gzip = true)
    val tiles = graft.sources.Zarr3IO.read(s, zarr3Dir)
    val removed = Relabel.removeOverlappedLabels(tiles, Array(OV, OV), THRESHOLD)
    explodeMerged(Relabel.mergeOverlappedTiles(removed, Array(OV, OV)))
  }

  /** zarr3Pipeline through a SHARDED store (`sharding_indexed` codec): 2x2
    * inner chunks per shard object, CRC32C-protected trailing index,
    * executor-side ranged reads of only the inner chunks each task needs.
    * Same relabel pipeline, same pixel oracle as every other layout — a
    * shard-assembly, index, or range-read defect breaks the hash.
    */
  def zarr3Sharded(s: SparkSession, d: String): DataFrame = {
    val spec = graft.tiles.GridSpec(Array(GY.toLong * L, GX.toLong * L), Array(L, L))
    graft.sources.Zarr3IO.writeSharded(tilesFromPixels(s, d), spec,
      Array(2 * L, 2 * L), zarr3ShardDir, "uint16", gzip = true)
    val tiles = graft.sources.Zarr3IO.read(s, zarr3ShardDir)
    val removed = Relabel.removeOverlappedLabels(tiles, Array(OV, OV), THRESHOLD)
    explodeMerged(Relabel.mergeOverlappedTiles(removed, Array(OV, OV)))
  }

  private lazy val zarr3ShardDir: String = graft.TempDirs.create("graft_zarr3s")

  private lazy val zarr3Dir: String = graft.TempDirs.create("graft_zarr3")

  /** The same store through the DataSource V2 relational surface
    * (`spark.read.format("zarr")`): grid-coordinate predicates push down to
    * chunk pruning (only the g0 in [1, 2] chunk files are opened — plan-
    * guarded), and the result aggregates the decoded pixels under the
    * synthetic-image SQL oracle. Proves the DSv2 path end-to-end: schema
    * inference, pushdown, partition planning, chunk decode, row emission.
    */
  def zarrDsv2(s: SparkSession, d: String): DataFrame = {
    val spec = graft.tiles.GridSpec(Array(GY.toLong * L, GX.toLong * L), Array(L, L))
    graft.sources.ZarrIO.write(tilesFromPixels(s, d), spec, zarrDir, "<u2", "zlib")
    s.read.format("zarr").load(zarrDir)
      .filter(col("g0") >= 1 && col("g0") <= 2 && col("value") =!= 0)
      .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
      .groupBy("gy", "gx")
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
  }

  private val ZARR_DSV2_SQL: String = RelabelRel.PIXELS_SQL + """
    SELECT gy, gx, count(*) AS n_px, CAST(sum(label) AS BIGINT) AS sum_label
    FROM lab WHERE gy BETWEEN 1 AND 2 GROUP BY gy, gx"""

  /** zarrDsv2 with LISTING-FREE planning: `assumeComplete` asserts the
    * nominal grid is dense (true for this pipeline store), so the pruned
    * chunk box is enumerated from metadata — zero listing round-trips, the
    * plan an object store wants. Same oracle: the assertion must be
    * invisible in the rows.
    */
  def zarrDsv2Complete(s: SparkSession, d: String): DataFrame = {
    val spec = graft.tiles.GridSpec(Array(GY.toLong * L, GX.toLong * L), Array(L, L))
    // assumeComplete asserts every nominal chunk file exists;
    // tilesFromPixels is dense by construction (marker-row densify), so the
    // write covers the full grid on ANY input slice — including all-fill
    // chunks for pixel-free tiles — honoring the store's own declaration
    graft.sources.ZarrIO.write(tilesFromPixels(s, d), spec, zarrCompleteDir, "<u2", "zlib")
    s.read.format("zarr").option("assumeComplete", true).load(zarrCompleteDir)
      .filter(col("g0") >= 1 && col("g0") <= 2 && col("value") =!= 0)
      .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
      .groupBy("gy", "gx")
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
  }

  private lazy val zarrCompleteDir: String = graft.TempDirs.create("graft_zarr_ac")

  /** zarrDsv2 through a SHARDED v3 store: the DSv2 scan plans inner-chunk
    * partitions from the shard listing, prunes on the same g-coordinate
    * box, and each task ranged-reads only its inner chunk's bytes via the
    * shard index. Same oracle as the unsharded scan — sharding must be
    * invisible to the relational surface.
    */
  def zarrShardDsv2(s: SparkSession, d: String): DataFrame = {
    val spec = graft.tiles.GridSpec(Array(GY.toLong * L, GX.toLong * L), Array(L, L))
    graft.sources.Zarr3IO.writeSharded(tilesFromPixels(s, d), spec,
      Array(2 * L, 2 * L), zarrShardDsv2Dir, "uint16", gzip = true)
    s.read.format("zarr").load(zarrShardDsv2Dir)
      .filter(col("g0") >= 1 && col("g0") <= 2 && col("value") =!= 0)
      .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
      .groupBy("gy", "gx")
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
  }

  private lazy val zarrShardDsv2Dir: String = graft.TempDirs.create("graft_zarr_sd")

  /** The sharded METADATA-aggregate path under the driver gate: the same
    * sharded store layout as px_zarr_shard_dsv2, but the aggregate is
    * coordinate-only, so it pushes completely into [[ZarrAggScan]] — the
    * distributed shard-index scan answers it from ranged index reads with
    * ZERO payload I/O (asserted in-query: a silent pushdown regression
    * would resurface as a plan without ZarrAggScan). Tile presence is
    * STRUCTURAL: the dense writer covers the full grid on any input slice
    * (marker-row densify in tilesFromPixels), so the oracle enumerates the
    * grid — every tile a full LxL inner chunk.
    */
  def zarrShardMeta(s: SparkSession, d: String): DataFrame = {
    val spec = graft.tiles.GridSpec(Array(GY.toLong * L, GX.toLong * L), Array(L, L))
    graft.sources.Zarr3IO.writeSharded(tilesFromPixels(s, d), spec,
      Array(2 * L, 2 * L), zarrShardMetaDir, "uint16", gzip = true)
    val df = s.read.format("zarr").load(zarrShardMetaDir)
      .filter(col("g0") >= 1) // pruning must compose with the index scan
      .groupBy("g0")
      .agg(count(lit(1)).as("n_cells"), max("g1").as("max_g1"),
        max("p0").as("max_p0"))
      .select(col("g0").as("gy"), col("n_cells"), col("max_g1"), col("max_p0"))
    require(df.queryExecution.executedPlan.toString.contains("ZarrAggScan"),
      "sharded metadata aggregate was not pushed to ZarrAggScan")
    df
  }

  private lazy val zarrShardMetaDir: String = graft.TempDirs.create("graft_zarr_sm")

  private val ZARR_SHARD_META_SQL: String = s"""
    WITH tiles AS (
      SELECT ys.gy AS gy, xs.gx AS gx
      FROM (SELECT unnest(range(0, $GY)) AS gy) ys,
           (SELECT unnest(range(0, $GX)) AS gx) xs)
    SELECT gy, count(*) * ${L * L} AS n_cells, max(gx) AS max_g1,
           CAST(${L - 1} AS BIGINT) AS max_p0
    FROM tiles WHERE gy >= 1 GROUP BY gy"""

  /** The full DSv2 write -> read cycle under the driver gate: the synthetic
    * pixel relation is written through `df.write.format("zarr")` (the
    * chunk-aligned clustered-distribution sink), read back through the DSv2
    * scan, and aggregated per tile against the pixel oracle. A layout,
    * codec, fill, or clustering defect in EITHER direction breaks the hash.
    */
  private lazy val zarrWriteDir: String = graft.TempDirs.create("graft_zarr_w")

  def zarrDsv2Write(s: SparkSession, d: String): DataFrame = {
    RelabelRel.pixelsRaw(s, d)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
      .write.format("zarr")
      .option("shape", s"${GY * L},${GX * L}").option("chunks", s"$L,$L")
      .option("dtype", "<u2").option("compressor", "zlib")
      .mode("overwrite").save(zarrWriteDir)
    s.read.format("zarr").load(zarrWriteDir)
      .filter(col("value") =!= 0)
      .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
      .groupBy("gy", "gx")
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
  }

  private val ZARR_DSV2_WRITE_SQL: String = RelabelRel.PIXELS_SQL + """
    SELECT gy, gx, count(*) AS n_px, CAST(sum(label) AS BIGINT) AS sum_label
    FROM lab GROUP BY gy, gx"""

  /** zarrDsv2Write's v3 twin: the SAME pixel relation written through
    * `zarrFormat=3` (zarr.json, c/-keys, bytes+gzip codec chain), read back
    * through the autodetecting DSv2 scan, under the same oracle — proving
    * the second store format's WRITE path end-to-end, not just its reader.
    */
  private lazy val zarr3WriteDir: String = graft.TempDirs.create("graft_zarr3_w")

  def zarr3Dsv2Write(s: SparkSession, d: String): DataFrame = {
    RelabelRel.pixelsRaw(s, d)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
      .write.format("zarr")
      .option("shape", s"${GY * L},${GX * L}").option("chunks", s"$L,$L")
      .option("dtype", "uint16").option("compressor", "gzip")
      .option("zarrFormat", "3")
      .mode("overwrite").save(zarr3WriteDir)
    s.read.format("zarr").load(zarr3WriteDir)
      .filter(col("value") =!= 0)
      .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
      .groupBy("gy", "gx")
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
  }

  /** zarr3Dsv2Write through the SHARDED layout: the same pixel relation
    * written with the `shards` option (2x2 inner chunks per shard object),
    * so the DSv2 sink itself produces the object-per-shard store a 100 TB
    * object store wants — staged inner chunks packed into indexed shard
    * objects by the distributed commit. Read back through the sharded DSv2
    * scan under the same pixel oracle; the query asserts the store really
    * is sharded so a silently-unsharded write can't pass on row equality.
    */
  private lazy val zarr3ShardWriteDir: String =
    graft.TempDirs.create("graft_zarr3_sw")

  def zarr3ShardDsv2Write(s: SparkSession, d: String): DataFrame = {
    RelabelRel.pixelsRaw(s, d)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
      .write.format("zarr")
      .option("shape", s"${GY * L},${GX * L}").option("chunks", s"$L,$L")
      .option("shards", s"${2 * L},${2 * L}")
      .option("dtype", "uint16").option("compressor", "gzip")
      .option("zarrFormat", "3")
      .mode("overwrite").save(zarr3ShardWriteDir)
    require(graft.sources.ZarrLayout.of(zarr3ShardWriteDir).shard.isDefined,
      "the shards option did not produce a sharding_indexed store")
    s.read.format("zarr").load(zarr3ShardWriteDir)
      .filter(col("value") =!= 0)
      .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
      .groupBy("gy", "gx")
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
  }

  /** The storage-partitioned read path under the driver gate: the same
    * store and oracle as px_zarr_dsv2_write, but the per-tile aggregate
    * runs with `spark.sql.sources.v2.bucketing.enabled` — the scan reports
    * KeyGroupedPartitioning from the chunk keys, so the groupBy on the
    * grid coordinates plans NO exchange (asserted here, not just in the
    * spec: a silent report/key mismatch would surface as either a wrong
    * hash or a reappearing shuffle).
    */
  def zarrGrouped(s: SparkSession, d: String): DataFrame = {
    RelabelRel.pixelsRaw(s, d)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
      .write.format("zarr")
      .option("shape", s"${GY * L},${GX * L}").option("chunks", s"$L,$L")
      .option("dtype", "<u2").option("compressor", "zlib")
      .mode("overwrite").save(zarrWriteDir)
    val prior = s.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val grouped = s.read.format("zarr").load(zarrWriteDir)
        .filter(col("value") =!= 0)
        .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
        .groupBy("gy", "gx")
        .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
      // the zero-exchange guard only applies when the store HAS chunk
      // partitions: an empty slice writes a chunkless store, whose scan
      // reports no key-grouped partitioning, and the (vacuous) fallback
      // exchange over zero rows is not a scale regression
      val hasChunks = new java.io.File(zarrWriteDir).listFiles() != null &&
        new java.io.File(zarrWriteDir).listFiles()
          .exists(f => !f.getName.startsWith(".") && f.getName != "zarr.json")
      require(!hasChunks ||
        !grouped.queryExecution.executedPlan.toString.contains("Exchange"),
        "storage-partitioned aggregate planned a shuffle")
      // materialize INSIDE the conf window: the plan is what we pinned
      val rows = grouped.collect()
      import s.implicits._
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.toDF("gy", "gx", "n_px", "sum_label")
    } finally s.conf.set("spark.sql.sources.v2.bucketing.enabled", prior)
  }

  /** Tile-engine remove only, exploded (oracle: relational remove join). */
  def removePixels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Relabel.removeOverlappedLabels(tilesFromPixels(s, d), Array(OV, OV), THRESHOLD)
      .flatMap { t =>
        val w = t.shape(1)
        for {
          y <- 0 until t.shape(0)
          x <- 0 until w
          v = t.data(y * w + x)
          if v != 0L
        } yield (t.loc(0).toLong, t.loc(1).toLong, y.toLong, x.toLong, v)
      }.toDF("gy", "gx", "py", "px", "gid")
  }

  private val REMOVE_PIXELS_SQL: String =
    RelabelRel.PIXELS_SQL + RelabelRel.REMOVE_CTES + s"""
    SELECT l.gy, l.gx, l.py, l.px, r.gid
    FROM lab l JOIN removed r
      ON l.gy = r.gy AND l.gx = r.gx AND l.label = r.label"""

  /** Flagship for the driver's smoke check. */
  def flagship(s: SparkSession, d: String): DataFrame = pipeline(s, d)

  /** Structured Streaming twin of q14: tumbling 5-minute windows over the
    * events stream, complete-mode memory sink, batch-SQL oracle.
    */
  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  def tumblingStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/events.parquet").schema
    // unique per invocation: a second run in the same session must not
    // collide with the previous memory sink's query name
    val qn = "st_tumbling_sink_" + sinkCounter.incrementAndGet()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .withColumn("bucket", Q.tsBucket(col("ts"), 300000000L))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n"),
        // exact decimal sum, final DOUBLE: identical float64 on both engines
        // (a DECIMAL output renders differently across the driver's readers)
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
    val query = graft.streaming.StateSizing.startSized(s)(
      stream.writeStream.outputMode("complete")
        .format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Streaming top-k: the TopKPairs bounded-buffer aggregate running INSIDE
    * Structured Streaming's stateful aggregation — per (5-min bucket,
    * event_type), the top-2 (value-micros, event_id) pairs, complete-mode
    * memory sink. The state store holds the SERIALIZED O(k) buffer per
    * group (TypedImperativeAggregate.serialize), so streaming top-k state
    * is k-bounded exactly like the batch shuffle — the property that makes
    * a continuous leaderboard viable at stream scale. Batch row_number
    * oracle.
    */
  def topkStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_topk_sink_" + sinkCounter.incrementAndGet()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .withColumn("bucket", Q.tsBucket(col("ts"), 300000000L))
      .select(col("bucket"), col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vm"),
        col("event_id"))
      .groupBy("bucket", "event_type")
      .agg(graft.functions.TopKPairs(col("vm"), col("event_id"), 2).as("tk"))
    val query = graft.streaming.StateSizing.startSized(s)(
      stream.writeStream.outputMode("complete")
        .format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
      .select(col("bucket"), col("event_type"), posexplode(col("tk")))
      .select(col("bucket"), col("event_type"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.v").as("vm"), col("col.id").as("event_id"))
  }

  /** Sliding-window streaming aggregate — the surface st_tumbling does NOT
    * cover: Spark's `window(ts, '20 minutes', '5 minutes')` assigns every
    * event to its 4 overlapping windows (state fan-out W/S per row, the
    * cost model a 100 TB metrics stream sizes state for), complete-mode
    * memory sink. The oracle replays the same fan-out relationally: each
    * event joined to `range(0, 4)` window offsets — window starts are
    * epoch-aligned multiples of the slide, so start = (ns-bucket − k) · S
    * for k in 0..W/S−1, exactly Spark's assignment rule.
    */
  def slidingStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_sliding_sink_" + sinkCounter.incrementAndGet()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      // explicit: window() silently drops NULL-time rows; the filter keeps
      // the time-ordered contract visible and matches the oracle's WHERE
      .filter(col("ts").isNotNull)
      .withColumn("tts", col("ts"))
      .groupBy(window(col("tts"), "20 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
      .select(expr("unix_micros(cast(window.start AS timestamp)) div 1000000")
        .as("ws"),
        col("event_type"), col("n"), col("sum_value"))
    val query = graft.streaming.StateSizing.startSized(s)(
      stream.writeStream.outputMode("complete")
        .format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  // ---- multimodal: REAL PNG payloads decoded with javax.imageio -----------
  //
  // Each doc carries a real PNG (encoded executor-side from the closed-form
  // pixel formula in graft.mm.ImageCodec); every mm_* output is computed from
  // the ImageIO-DECODED raster. The DuckDB oracles re-derive the same values
  // from the formula alone (no codec), so a hash match proves the decode is
  // real — if the Spark side skipped the codec and used the formula too, any
  // encode/decode defect would go unseen, which is why the payload column is
  // bytes and the formula is never consulted after encoding.

  /** Shared SQL: the per-pixel relation of the synthetic image corpus.
    * MUST stay in sync with graft.mm.ImageCodec's formula constants.
    */
  private val MM_RGB_CTES = s"""
    mm_vs AS (
      SELECT doc_id, ${graft.mm.ImageCodec.visualSeedSql("doc_id")} AS vs
      FROM documents),
    mm_px AS (
      SELECT d.doc_id, d.vs,
             CAST(16 + d.vs % 17 AS BIGINT) AS w,
             CAST(16 + d.vs % 13 AS BIGINT) AS h,
             tx.x AS x, ty.y AS y
      FROM mm_vs d, range(0, 32) tx(x), range(0, 28) ty(y)
      WHERE tx.x < 16 + d.vs % 17 AND ty.y < 16 + d.vs % 13),
    mm_rgb AS (
      SELECT doc_id, w, h, x, y,
             ${graft.mm.ImageCodec.rSql("vs")} AS r,
             ${graft.mm.ImageCodec.gSql("vs")} AS g,
             ${graft.mm.ImageCodec.bSql("vs")} AS b
      FROM mm_px)"""

  /** documents -> (doc_id, real PNG bytes): the opaque binary column every
    * decode query below starts from. Rasters render from the VISUAL seed
    * (planted-twin indirection — see [[graft.mm.ImageCodec.visualSeed]]).
    */
  private def pngPayloads(s: SparkSession, d: String) = {
    import s.implicits._
    // spread the scan before the per-row codec work: a single-row-group
    // corpus file otherwise pins every synth+encode+decode below to the
    // scan's 1-2 splits (guide §2.5); no-op when the input is already wide
    Q.spreadSmallScan(tbl(s, d, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions(_.map(id => (id,
        graft.mm.ImageCodec.synthPng(graft.mm.ImageCodec.visualSeed(id)))))
  }

  /** Decode metadata + per-channel pixel sums from the decoded raster. */
  def decodeMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    pngPayloads(s, d)
      .mapPartitions(_.map { case (id, png) =>
        val dec = ImageCodec.decode(png)
        val (sr, sg, sb) = ImageCodec.channelSums(dec)
        (id, dec.w.toLong, dec.h.toLong, sr, sg, sb)
      })
      .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Sharpness (blur) metric over the REAL decoded raster — the curation
    * signal that drops defocused or upscaled images: per-pixel integer
    * luma, 4-neighbor Laplacian over interior pixels, summed |lap|^2
    * (variance-of-Laplacian family, all int64). The oracle rebuilds the
    * same energy from the pixel formula with four positional self-joins;
    * a decode or raster-indexing defect shifts a neighbor and breaks the
    * hash.
    */
  def sharpness(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    pngPayloads(s, d)
      .mapPartitions(_.map { case (id, png) =>
        val dec = ImageCodec.decode(png)
        @inline def luma(x: Int, y: Int): Long = {
          val p = dec.argb(y * dec.w + x)
          (ImageCodec.rOf(p) * 299 + ImageCodec.gOf(p) * 587 +
            ImageCodec.bOf(p) * 114) / 1000
        }
        var energy = 0L
        var n = 0L
        var y = 1
        while (y < dec.h - 1) {
          var x = 1
          while (x < dec.w - 1) {
            val lap = 4 * luma(x, y) - luma(x - 1, y) - luma(x + 1, y) -
              luma(x, y - 1) - luma(x, y + 1)
            energy += lap * lap
            n += 1
            x += 1
          }
          y += 1
        }
        (id, n, energy)
      })
      .toDF("doc_id", "n_interior", "lap_energy")
  }

  private val MM_SHARPNESS_SQL = s"""
    WITH $MM_RGB_CTES,
    lum AS (
      SELECT doc_id, w, h, x, y,
             (r * 299 + g * 587 + b * 114) // 1000 AS l
      FROM mm_rgb)
    SELECT c.doc_id, count(*) AS n_interior,
           CAST(sum((4 * c.l - lx0.l - lx1.l - ly0.l - ly1.l)
                    * (4 * c.l - lx0.l - lx1.l - ly0.l - ly1.l))
             AS BIGINT) AS lap_energy
    FROM lum c
    JOIN lum lx0 ON c.doc_id = lx0.doc_id AND lx0.x = c.x - 1 AND lx0.y = c.y
    JOIN lum lx1 ON c.doc_id = lx1.doc_id AND lx1.x = c.x + 1 AND lx1.y = c.y
    JOIN lum ly0 ON c.doc_id = ly0.doc_id AND ly0.x = c.x AND ly0.y = c.y - 1
    JOIN lum ly1 ON c.doc_id = ly1.doc_id AND ly1.x = c.x AND ly1.y = c.y + 1
    WHERE c.x BETWEEN 1 AND c.w - 2 AND c.y BETWEEN 1 AND c.h - 2
    GROUP BY c.doc_id"""

  private val MM_DECODE_META_SQL = s"""
    WITH $MM_RGB_CTES
    SELECT doc_id, any_value(w) AS width, any_value(h) AS height,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b
    FROM mm_rgb GROUP BY doc_id"""

  /** Perceptual near-dup fingerprint over the REAL decoded rasters: the
    * average-hash (aHash) every image-dedup pipeline computes before
    * Hamming-banding — decode the PNG, 8x8 block-mean luma, one
    * above-global-mean bit per block. All arithmetic is positive-integer
    * (luma (299r+587g+114b)/1000, floor block mapping, floor means), so
    * the DuckDB oracle rebuilds the identical 64 bits from the synthetic
    * raster definition — a decode, blocking, or bit-packing defect breaks
    * the hash. Hamming pairing downstream is `bit_count(xor)` on the two
    * halves (both engines), banded exactly like SimHash byte-bands.
    */
  def phash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    pngPayloads(s, d)
      .mapPartitions(_.map { case (id, png) =>
        val (hi, lo, n) = ImageCodec.aHash(ImageCodec.decode(png))
        (id, hi, lo, n)
      })
      .toDF("doc_id", "hash_hi", "hash_lo", "n_bits")
  }

  private val MM_PHASH_SQL = s"""
    WITH $MM_RGB_CTES,
    lum AS (
      SELECT doc_id,
             (299 * r + 587 * g + 114 * b) // 1000 AS gray,
             ((y * 8) // h) * 8 + (x * 8) // w AS k
      FROM mm_rgb),
    blocks AS (
      SELECT doc_id, k,
             CAST(sum(gray) AS BIGINT) // count(*) AS bv
      FROM lum GROUP BY doc_id, k),
    m AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) // 64 AS mean
          FROM blocks GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(sum(CASE WHEN bv > mean AND k >= 32
                         THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
                AS BIGINT) AS hash_hi,
           CAST(sum(CASE WHEN bv > mean AND k < 32
                         THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
                AS BIGINT) AS hash_lo,
           CAST(count(*) FILTER (WHERE bv > mean) AS BIGINT) AS n_bits
    FROM blocks b JOIN m ON b.doc_id = m.doc_id
    GROUP BY b.doc_id"""

  /** Near-duplicate image pairs by banded Hamming search over the aHash:
    * 8 one-byte bands per 64-bit hash — two hashes within Hamming
    * distance 7 MUST agree on at least one whole byte (pigeonhole), so
    * the byte-band equi-join is a COMPLETE candidate generator for d<=7
    * and the exact `bit_count(xor)` check prunes it to true pairs. The
    * image twin of dd_simhash_pairs: candidates never leave equi-join
    * land, no all-pairs product at any corpus size. The hash relation is
    * persisted across its self-join sides.
    */
  def phashPairs(s: SparkSession, d: String): DataFrame = {
    val ph = phash(s, d).select(col("doc_id"),
      col("hash_hi").as("hi"), col("hash_lo").as("lo"))
    val bands = ph.select(col("doc_id"), col("hi"), col("lo"),
        explode(expr("""transform(sequence(0, 7),
          i -> struct(i AS band,
            CASE WHEN i < 4 THEN shiftright(lo, i * 8) & 255
                 ELSE shiftright(hi, (i - 4) * 8) & 255 END AS bv))""")).as("b"))
      .select(col("doc_id"), col("hi"), col("lo"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val cand = bands.as("a").join(bands.as("b"),
        expr("a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.hi").as("ha"), col("a.lo").as("la"),
        col("b.hi").as("hb"), col("b.lo").as("lb"))
      .distinct()
    graft.Caching.releaseAfterAction(
      cand.select(col("id_a"), col("id_b"),
          expr("CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS BIGINT)")
            .as("dist"))
        .filter(col("dist") <= 7),
      ph)
  }

  private val MM_PHASH_PAIRS_SQL = s"""
    WITH $MM_RGB_CTES,
    lum AS (
      SELECT doc_id,
             (299 * r + 587 * g + 114 * b) // 1000 AS gray,
             ((y * 8) // h) * 8 + (x * 8) // w AS k
      FROM mm_rgb),
    blocks AS (
      SELECT doc_id, k, CAST(sum(gray) AS BIGINT) // count(*) AS bv
      FROM lum GROUP BY doc_id, k),
    m AS (SELECT doc_id, CAST(sum(bv) AS BIGINT) // 64 AS mean
          FROM blocks GROUP BY doc_id),
    ph AS (
      SELECT b.doc_id,
             CAST(sum(CASE WHEN bv > mean AND k >= 32
                           THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END)
                  AS BIGINT) AS hi,
             CAST(sum(CASE WHEN bv > mean AND k < 32
                           THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)
                  AS BIGINT) AS lo
      FROM blocks b JOIN m ON b.doc_id = m.doc_id GROUP BY b.doc_id),
    bands AS (
      SELECT doc_id, hi, lo, bb.i AS band,
             (CASE WHEN bb.i < 4 THEN lo ELSE hi END >> ((bb.i % 4) * 8))
               & 255 AS bv
      FROM ph, range(0, 8) bb(i)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.hi AS ha, a.lo AS la, b.hi AS hb, b.lo AS lb
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
                               AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           CAST(bit_count(CAST(xor(ha, hb) AS BIGINT))
                + bit_count(CAST(xor(la, lb) AS BIGINT)) AS BIGINT) AS dist
    FROM cand
    WHERE bit_count(CAST(xor(ha, hb) AS BIGINT))
          + bit_count(CAST(xor(la, lb) AS BIGINT)) <= 7"""

  /** Image near-dup CLUSTERS: connected components over the banded-Hamming
    * pair graph (mm_phash_pairs) — the image-corpus twin of dd_components,
    * labeling every document with the minimum doc_id of its visual cluster
    * so a canonical-election pass can dedup per cluster. The fixpoint
    * (pointer doubling, per-round lineage truncation) is the shared
    * GraphOps.connectedComponents; the oracle is the recursive-CTE
    * min-reach over the same pair definition.
    */
  def phashClusters(s: SparkSession, d: String): DataFrame = {
    val edges = phashPairs(s, d).select(col("id_a"), col("id_b")).persist()
    // materialize the cache EAGERLY: the components mirror scans `edges`
    // twice (both union branches), and un-materialized persisted lineage
    // can run once per branch — for this pipeline each run is a full
    // synthesize+decode pass over the image corpus, the most expensive
    // lineage in the suite
    edges.count()
    try
      graft.Caching.releaseAfterAction(
        graft.rel.GraphOps.connectedComponents(
          tbl(s, d, "documents").select(col("doc_id")), edges),
        edges)
    catch {
      case e: Throwable =>
        edges.unpersist(blocking = false)
        throw e
    }
  }

  private val MM_PHASH_CLUSTERS_SQL =
    MM_PHASH_PAIRS_SQL.replaceFirst("WITH ", "WITH RECURSIVE ")
      .replace(
        """SELECT id_a, id_b,
           CAST(bit_count(CAST(xor(ha, hb) AS BIGINT))
                + bit_count(CAST(xor(la, lb) AS BIGINT)) AS BIGINT) AS dist
    FROM cand
    WHERE bit_count(CAST(xor(ha, hb) AS BIGINT))
          + bit_count(CAST(xor(la, lb) AS BIGINT)) <= 7""",
        "") + """,
    pairs AS (
      SELECT id_a, id_b FROM cand
      WHERE bit_count(CAST(xor(ha, hb) AS BIGINT))
            + bit_count(CAST(xor(la, lb) AS BIGINT)) <= 7),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src)
    SELECT d.doc_id,
           CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS BIGINT) AS comp
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id"""

  /** Streaming image fingerprinting: documents stream in, each micro-batch
    * synthesizes + decodes its PNGs and emits aHash rows append-mode — the
    * admission-time variant of mm_phash (pair flagging downstream is
    * st_dd_minhash's broadcast-band shape on the hash bytes). Decode and
    * hash are a narrow mapPartitions; no state before the sink.
    */
  def phashStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val qn = "st_mm_phash_sink_" + sinkCounter.incrementAndGet()
    val out = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (hi, lo, n) = ImageCodec.aHash(
          ImageCodec.decode(ImageCodec.synthPng(ImageCodec.visualSeed(id))))
        (id, hi, lo, n)
      })
      .toDF("doc_id", "hash_hi", "hash_lo", "n_bits")
    val query = out.writeStream.outputMode("append")
      .format("memory").queryName(qn).start()
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Ingestion through Spark's built-in `binaryFile` source — THE standard
    * shape for a multimodal corpus landed as loose files on an object
    * store: executors write one real PNG per document into a staging dir,
    * `spark.read.format("binaryFile")` lists and reads them back with a
    * glob pushdown, doc identity parses from the path, and the decode +
    * channel sums run on the `content` byte column under mm_decode_meta's
    * oracle. A listing, glob, path-parse, or content-mapping defect breaks
    * the hash.
    */
  def binaryImages(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    val inv = sinkCounter.incrementAndGet()
    val dir = graft.TempDirs.create(s"graft_binimg_$inv")
    Q.spreadSmallScan(tbl(s, d, "documents").select(col("doc_id"))).as[Long]
      .foreachPartition { (it: Iterator[Long]) =>
        it.foreach { id =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, f"doc_$id%06d.png"),
            ImageCodec.synthPng(ImageCodec.visualSeed(id)))
        }
      }
    // a decoy non-matching file the glob must skip
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "manifest.txt"), "not a png".getBytes)
    s.read.format("binaryFile").option("pathGlobFilter", "*.png").load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.png$", 1)
          .cast("long").as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, png) =>
        val dec = ImageCodec.decode(png)
        val (sr, sg, sb) = ImageCodec.channelSums(dec)
        (id, dec.w.toLong, dec.h.toLong, sr, sg, sb)
      })
      .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Frame sampling over a real container: each doc's payload is a sequence
    * of length-prefixed PNG frames; every 2nd frame is parsed out, ImageIO-
    * decoded, and summarized from its decoded raster.
    */
  def frameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    Q.spreadSmallScan(tbl(s, d, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions(_.flatMap { id =>
        val video = ImageCodec.synthVideo(id)
        ImageCodec.sampleFrames(video, 2).map { case (idx, dec) =>
          val (sr, _, _) = ImageCodec.channelSums(dec)
          (id, idx.toLong, dec.w.toLong, dec.h.toLong, sr)
        }
      })
      .toDF("doc_id", "frame_idx", "width", "height", "sum_r")
  }

  private val MM_FRAME_SAMPLE_SQL = s"""
    WITH fr AS (
      SELECT d.doc_id, tf.f AS frame_idx, d.doc_id + 997 * tf.f AS fs
      FROM documents d, range(0, 7) tf(f)
      WHERE tf.f < 1 + d.doc_id % 7 AND tf.f % 2 = 0),
    fpx AS (
      SELECT doc_id, frame_idx, fs,
             CAST(16 + fs % 17 AS BIGINT) AS w,
             CAST(16 + fs % 13 AS BIGINT) AS h,
             tx.x AS x, ty.y AS y
      FROM fr, range(0, 32) tx(x), range(0, 28) ty(y)
      WHERE tx.x < 16 + fs % 17 AND ty.y < 16 + fs % 13)
    SELECT doc_id, frame_idx, any_value(w) AS width, any_value(h) AS height,
           CAST(sum(${graft.mm.ImageCodec.rSql("fs")}) AS BIGINT) AS sum_r
    FROM fpx GROUP BY doc_id, frame_idx"""

  /** Keyframe detection over the video container — the scene-cut signal a
    * frame-dedup/sampling pipeline computes before choosing which frames to
    * keep: EVERY frame is demuxed and ImageIO-decoded, reduced to its
    * integer luma mass, and flagged as a keyframe when it moved more than
    * 5% relative to the previous frame (integer cross-multiply, no
    * division; frame 0 always keys). The lag runs in a window PARTITIONED
    * by document — no global ordering anywhere. The oracle re-derives luma
    * from the pixel formula, so the hash proves the real per-frame decode.
    */
  def keyframes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    val perFrame =
      Q.spreadSmallScan(tbl(s, d, "documents").select(col("doc_id"))).as[Long]
      .mapPartitions(_.flatMap { id =>
        val video = ImageCodec.synthVideo(id)
        ImageCodec.sampleFrames(video, 1).map { case (idx, dec) =>
          (id, idx.toLong, ImageCodec.lumaSum(dec))
        }
      })
      .toDF("doc_id", "frame_idx", "lsum")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    perFrame.withColumn("prev", lag(col("lsum"), 1).over(w))
      .select(col("doc_id"), col("frame_idx"), col("lsum"),
        expr("""CAST(CASE WHEN prev IS NULL
                          OR abs(lsum - prev) * 20 > prev
                     THEN 1 ELSE 0 END AS BIGINT)""").as("is_key"))
  }

  /** Streaming twin of mm_keyframes: the same every-frame decode + 5%
    * keyframe rule per micro-batch, append mode. A lag WINDOW is not
    * streamable, but it is also not needed: a video's frames all expand
    * from its one input row, so the previous-frame comparison is plain
    * sequential state inside the flatMap closure — the streaming-native
    * reformulation of a within-group lag. Same oracle as the batch twin.
    */
  def keyframesStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val qn = "st_mm_keyframes_sink_" + sinkCounter.incrementAndGet()
    val out = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val video = ImageCodec.synthVideo(id)
        var prev = -1L
        ImageCodec.sampleFrames(video, 1).map { case (idx, dec) =>
          val lsum = ImageCodec.lumaSum(dec)
          val isKey =
            if (prev < 0 || math.abs(lsum - prev) * 20 > prev) 1L else 0L
          prev = lsum
          (id, idx.toLong, lsum, isKey)
        }
      })
      .toDF("doc_id", "frame_idx", "lsum", "is_key")
    val query = out.writeStream.outputMode("append")
      .format("memory").queryName(qn).start()
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  private val MM_KEYFRAMES_SQL = s"""
    WITH fr AS (
      SELECT d.doc_id, tf.f AS frame_idx, d.doc_id + 997 * tf.f AS fs
      FROM documents d, range(0, 7) tf(f)
      WHERE tf.f < 1 + d.doc_id % 7),
    fpx AS (
      SELECT doc_id, frame_idx, fs, tx.x AS x, ty.y AS y
      FROM fr, range(0, 32) tx(x), range(0, 28) ty(y)
      WHERE tx.x < 16 + fs % 17 AND ty.y < 16 + fs % 13),
    ls AS (
      SELECT doc_id, frame_idx,
             CAST(sum(((${graft.mm.ImageCodec.rSql("fs")}) * 299
                     + (${graft.mm.ImageCodec.gSql("fs")}) * 587
                     + (${graft.mm.ImageCodec.bSql("fs")}) * 114) // 1000)
                  AS BIGINT) AS lsum
      FROM fpx GROUP BY doc_id, frame_idx),
    lg AS (
      SELECT doc_id, frame_idx, lsum,
             lag(lsum) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
      FROM ls)
    SELECT doc_id, frame_idx, lsum,
           CAST(CASE WHEN prev IS NULL OR abs(lsum - prev) * 20 > prev
                THEN 1 ELSE 0 END AS BIGINT) AS is_key
    FROM lg"""

  /** Real resize: ImageIO decode, integer box-average downsample by 4
    * (edge blocks clipped), channel sums over the RESIZED raster.
    */
  def resize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    pngPayloads(s, d)
      .mapPartitions(_.map { case (id, png) =>
        val r2 = ImageCodec.boxResize(ImageCodec.decode(png), 4)
        val (sr, sg, sb) = ImageCodec.channelSums(r2)
        (id, r2.w.toLong, r2.h.toLong, sr, sg, sb)
      })
      .toDF("doc_id", "w2", "h2", "sum_r2", "sum_g2", "sum_b2")
  }

  private val MM_RESIZE_SQL = s"""
    WITH $MM_RGB_CTES,
    blocks AS (
      SELECT doc_id, x // 4 AS bx, y // 4 AS by,
             sum(r) // count(*) AS ar,
             sum(g) // count(*) AS ag,
             sum(b) // count(*) AS ab,
             any_value((w + 3) // 4) AS bw2, any_value((h + 3) // 4) AS bh2
      FROM mm_rgb GROUP BY doc_id, bx, by)
    SELECT doc_id, any_value(bw2) AS w2, any_value(bh2) AS h2,
           CAST(sum(ar) AS BIGINT) AS sum_r2,
           CAST(sum(ag) AS BIGINT) AS sum_g2,
           CAST(sum(ab) AS BIGINT) AS sum_b2
    FROM blocks GROUP BY doc_id"""

  /** Real feature extraction: 16-bin integer-luma histogram over the decoded
    * raster, emitted long-form (doc_id, bin, n) — sortable and oracle-able.
    */
  def features(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    pngPayloads(s, d)
      .mapPartitions(_.flatMap { case (id, png) =>
        val hist = ImageCodec.lumaHist(ImageCodec.decode(png))
        hist.iterator.zipWithIndex.collect {
          case (n, bin) if n > 0 => (id, bin.toLong, n)
        }
      })
      .toDF("doc_id", "bin", "n")
  }

  /** Real augmentation: decode, flip / rotate the raster, RE-ENCODE to PNG
    * (the write-back a training-data augmentation job performs), decode the
    * re-encoded bytes, and emit orientation-sensitive weighted sums — a
    * coordinate mistake in either transform or either codec pass breaks the
    * hash. The oracle derives both sums from the closed form: a horizontal
    * flip sends weight x to w-1-x; a clockwise rotation sends source (x, y)
    * to x' = h-1-y.
    */
  def augment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.mm.ImageCodec
    pngPayloads(s, d)
      .mapPartitions(_.map { case (id, png) =>
        val dec = ImageCodec.decode(png)
        val flip = ImageCodec.decode(ImageCodec.encodePng(ImageCodec.flipH(dec)))
        val rot = ImageCodec.decode(ImageCodec.encodePng(ImageCodec.rot90(dec)))
        (id, ImageCodec.weightedX(flip),
          rot.w.toLong, rot.h.toLong, ImageCodec.weightedX(rot))
      })
      .toDF("doc_id", "flip_wx", "rot_w", "rot_h", "rot_wx")
  }

  private val MM_AUGMENT_SQL = s"""
    WITH $MM_RGB_CTES
    SELECT doc_id,
           CAST(sum((w - 1 - x) * r) AS BIGINT) AS flip_wx,
           any_value(h) AS rot_w, any_value(w) AS rot_h,
           CAST(sum((h - 1 - y) * r) AS BIGINT) AS rot_wx
    FROM mm_rgb GROUP BY doc_id"""

  private val MM_FEATURES_SQL = s"""
    WITH $MM_RGB_CTES
    SELECT doc_id,
           ((r * 299 + g * 587 + b * 114) // 1000) // 16 AS bin,
           CAST(count(*) AS BIGINT) AS n
    FROM mm_rgb GROUP BY doc_id, bin"""

  /** Multiscale pyramid over the labeled image — the OME-NGFF layout a
    * microscopy viewer consumes (the reference's own domain): level-1 is a
    * 2x max-pool of the global label image, WRITTEN to a zarr store and
    * READ BACK through the DSv2 source, and level-2 is pooled from the
    * read-back — so the cascade proves write → read → derive, not two
    * independent downsamples. Max-pooling is one hash aggregate per level
    * on (y div 2, x div 2) — at 100 TB each pyramid level is a quarter of
    * the previous shuffle, a geometrically-vanishing cost. `sum_pos`
    * (label-weighted cell address) pins every pooled value to its exact
    * position through the hash gate.
    */
  private lazy val zarrPyrDir: String = graft.TempDirs.create("graft_zarr_pyr")

  def zarrPyramid(s: SparkSession, d: String): DataFrame = {
    val gyL = GY * L; val gxL = GX * L // 72 x 48 global image
    val glob = RelabelRel.pixels(s, d)
      .select((col("gy") * L + col("py")).as("y"),
        (col("gx") * L + col("px")).as("x"), col("label"))
    val l1 = glob
      .groupBy(expr("y div 2").as("y"), expr("x div 2").as("x"))
      .agg(max("label").as("value"))
    l1.select(expr(s"y div $L").as("g0"), expr(s"x div $L").as("g1"),
        expr(s"y % $L").as("p0"), expr(s"x % $L").as("p1"), col("value"))
      .write.format("zarr")
      .option("shape", s"${gyL / 2},${gxL / 2}").option("chunks", s"$L,$L")
      .option("dtype", "<u2").option("compressor", "zlib")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save(zarrPyrDir)
    val back = s.read.format("zarr").load(zarrPyrDir)
      .filter(col("value") =!= 0)
      .select((col("g0") * L + col("p0")).as("y"),
        (col("g1") * L + col("p1")).as("x"), col("value").as("label"))
    val l2 = back
      .groupBy(expr("y div 2").as("y"), expr("x div 2").as("x"))
      .agg(max("label").as("label"))
    def stats(level: Int, df: DataFrame, width: Int): DataFrame = df
      .agg(count(lit(1)).as("n_cells"),
        sum("label").as("sum_label"),
        sum(col("label") * (col("y") * width + col("x"))).as("sum_pos"))
      .select(lit(level.toLong).as("level"), col("n_cells"),
        col("sum_label"), col("sum_pos"))
    stats(1, back, gxL / 2).unionByName(stats(2, l2, gxL / 4))
  }

  /** The pyramid as a PROPER OME-NGFF group store: both levels live as
    * child array nodes of one zarr v3 group whose multiscales attribute
    * names them (the layout a microscopy viewer opens), and the gate reads
    * each level back BY THE GROUP METADATA — the datasets list, not
    * hardcoded paths — through the DSv2 source. Same oracle as
    * px_zarr_pyramid: the store layout must be invisible in the numbers.
    */
  private lazy val zarrOmeDir: String = graft.TempDirs.create("graft_zarr_ome")

  def zarrOme(s: SparkSession, d: String): DataFrame = {
    val gyL = GY * L; val gxL = GX * L
    val glob = RelabelRel.pixels(s, d)
      .select((col("gy") * L + col("py")).as("y"),
        (col("gx") * L + col("px")).as("x"), col("label"))
    val l1 = glob
      .groupBy(expr("y div 2").as("y"), expr("x div 2").as("x"))
      .agg(max("label").as("value"))
    val l2 = l1
      .groupBy(expr("y div 2").as("y"), expr("x div 2").as("x"))
      .agg(max("value").as("value"))
    def writeLevel(df: DataFrame, path: String, h: Int, w: Int,
        cy: Int, cx: Int): Unit = df
      .select(expr(s"y div $cy").as("g0"), expr(s"x div $cx").as("g1"),
        expr(s"y % $cy").as("p0"), expr(s"x % $cx").as("p1"), col("value"))
      .write.format("zarr")
      .option("shape", s"$h,$w").option("chunks", s"$cy,$cx")
      .option("dtype", "uint16").option("compressor", "gzip")
      .option("zarrFormat", "3")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save(s"$zarrOmeDir/$path")
    writeLevel(l1, "0", gyL / 2, gxL / 2, L, L)
    writeLevel(l2, "1", gyL / 4, gxL / 4, L / 2, L / 2)
    graft.sources.Zarr3IO.writeGroupMeta(zarrOmeDir, Seq("0", "1"))
    val levels = graft.sources.Zarr3IO.readGroupLevels(zarrOmeDir)
    def stats(level: Int, path: String, width: Int): DataFrame =
      s.read.format("zarr").load(s"$zarrOmeDir/$path")
        .filter(col("value") =!= 0)
        .select((col("g0") * expr(s"${if (level == 1) L else L / 2}") +
          col("p0")).as("y"),
          (col("g1") * expr(s"${if (level == 1) L else L / 2}") +
            col("p1")).as("x"), col("value").as("label"))
        .agg(count(lit(1)).as("n_cells"), sum("label").as("sum_label"),
          sum(col("label") * (col("y") * width + col("x"))).as("sum_pos"))
        .select(lit(level.toLong).as("level"), col("n_cells"),
          col("sum_label"), col("sum_pos"))
    stats(1, levels(0), gxL / 2).unionByName(stats(2, levels(1), gxL / 4))
  }

  private val ZARR_PYRAMID_SQL = RelabelRel.PIXELS_SQL + s"""
    , gimg AS (
      SELECT gy * ${RelabelRel.L} + py AS y, gx * ${RelabelRel.L} + px AS x,
             label
      FROM lab),
    l1 AS (SELECT y // 2 AS y, x // 2 AS x, max(label) AS label
           FROM gimg GROUP BY 1, 2),
    l2 AS (SELECT y // 2 AS y, x // 2 AS x, max(label) AS label
           FROM l1 GROUP BY 1, 2)
    SELECT CAST(1 AS BIGINT) AS level, count(*) AS n_cells,
           CAST(sum(label) AS BIGINT) AS sum_label,
           CAST(sum(label * (y * ${RelabelRel.GX * RelabelRel.L / 2} + x))
             AS BIGINT) AS sum_pos
    FROM l1
    UNION ALL
    SELECT 2, count(*), CAST(sum(label) AS BIGINT),
           CAST(sum(label * (y * ${RelabelRel.GX * RelabelRel.L / 4} + x))
             AS BIGINT)
    FROM l2"""

  def all: Seq[Q] = Seq(
    Q("px_zarr_pyramid", zarrPyramid, Some(ZARR_PYRAMID_SQL)),
    Q("px_zarr_ome", zarrOme, Some(ZARR_PYRAMID_SQL)),
    Q("mm_frame_sample", frameSample, Some(MM_FRAME_SAMPLE_SQL)),
    Q("mm_keyframes", keyframes, Some(MM_KEYFRAMES_SQL)),
    Q("st_mm_keyframes", keyframesStream, Some(MM_KEYFRAMES_SQL)),
    Q("mm_resize", resize, Some(MM_RESIZE_SQL)),
    Q("mm_features", features, Some(MM_FEATURES_SQL)),
    Q("mm_augment", augment, Some(MM_AUGMENT_SQL)),
    Q("px_remove_tiles", removePixels, Some(REMOVE_PIXELS_SQL)),
    Q("px_pipeline", pipeline, Some(RelabelRel.MERGE_SQL)),
    Q("px_zarr_pipeline", zarrPipeline, Some(RelabelRel.MERGE_SQL)),
    Q("px_zarr3_pipeline", zarr3Pipeline, Some(RelabelRel.MERGE_SQL)),
    Q("px_zarr3_sharded", zarr3Sharded, Some(RelabelRel.MERGE_SQL)),
    Q("px_zarr_shard_dsv2", zarrShardDsv2, Some(ZARR_DSV2_SQL)),
    Q("px_zarr_shard_meta", zarrShardMeta, Some(ZARR_SHARD_META_SQL)),
    Q("st_tumbling", tumblingStream, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2""")),
    Q("st_sliding", slidingStream, Some("""
      SELECT (epoch_ns(ts) // 300000000000 - k.k) * 300 AS ws, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events, range(0, 4) k(k)
      WHERE ts IS NOT NULL
      GROUP BY 1, 2""")),
    Q("st_topk", topkStream, Some("""
      SELECT bucket, event_type, rn AS rnk, vm, event_id FROM (
        SELECT bucket, event_type, vm, event_id,
               row_number() OVER (PARTITION BY bucket, event_type
                                  ORDER BY vm DESC, event_id) AS rn
        FROM (SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
                     event_type,
                     CAST(round(value * 1000000) AS BIGINT) AS vm, event_id
              FROM events WHERE value IS NOT NULL) t) r
      WHERE rn <= 2""")),
    Q("mm_decode_meta", decodeMeta, Some(MM_DECODE_META_SQL)),
    Q("mm_sharpness", sharpness, Some(MM_SHARPNESS_SQL)),
    Q("mm_phash", phash, Some(MM_PHASH_SQL)),
    Q("mm_phash_pairs", phashPairs, Some(MM_PHASH_PAIRS_SQL)),
    Q("st_mm_phash", phashStream, Some(MM_PHASH_SQL)),
    Q("dd_phash_clusters", phashClusters, Some(MM_PHASH_CLUSTERS_SQL)),
    Q("src_binary_images", binaryImages, Some(MM_DECODE_META_SQL)),
    Q("px_zarr_dsv2", zarrDsv2, Some(ZARR_DSV2_SQL)),
    Q("px_zarr_complete", zarrDsv2Complete, Some(ZARR_DSV2_SQL)),
    Q("px_zarr_dsv2_write", zarrDsv2Write, Some(ZARR_DSV2_WRITE_SQL)),
    Q("px_zarr_grouped", zarrGrouped, Some(ZARR_DSV2_WRITE_SQL)),
    Q("px_zarr3_dsv2_write", zarr3Dsv2Write, Some(ZARR_DSV2_WRITE_SQL)),
    Q("px_zarr3_shard_write", zarr3ShardDsv2Write, Some(ZARR_DSV2_WRITE_SQL))
  )
}
