package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful Structured Streaming surface: gap-based sessionization via
  * `flatMapGroupsWithState` over the events stream — the custom-state API
  * the reference has no counterpart for (SURVEY §2.2 lists streaming as
  * absent; this is the Spark-native extension surface).
  *
  * Values are quantized to micros (exact int64) so the DuckDB batch oracle
  * (lag/gap/cumulative-sum windows) hash-matches the streaming output.
  */
object StreamingOps {

  private val GAP_NS = 1800L * 1000 * 1000 * 1000 // 30 min session gap
  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One event in flight: (user, ts nanos, value micros). The value is
    * Option-typed: a NULL measurement still exists as an event (it sets
    * session boundaries and counts), it just contributes nothing to sums
    * and maxes — exactly SQL aggregate semantics, so the batch oracles
    * stay bit-identical on NULL-bearing slices.
    */
  private type Ev = (Long, Long, Option[Long])

  def sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_sessionize_sink_" + sinkCounter.incrementAndGet()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      // sessions are time-ordered: un-timestamped events are excluded
      // (same contract as the batch sq_* family; oracle filters too)
      .filter(col("ts").isNotNull)
      // tsNanos: the micro-precision timestamp as a nano-epoch long,
      // bit-identical to DuckDB's epoch_ns() over the same parquet
      .select(col("user_id"), graft.rel.Q.tsNanos(col("ts")).as("ts"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("qv"))
      .as[Ev]

    val sessions = stream
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[Ev], state: GroupState[Long]) => {
          // The file source delivers the whole table in one microbatch here,
          // so each group can close all its sessions immediately; with a
          // live source the same code holds open sessions in `state` and
          // closes them on ProcessingTime timeouts.
          val evs = it.toArray.sortBy(_._2)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Option[Long])]
          var start = 0
          var i = 1
          while (i <= evs.length) {
            if (i == evs.length || evs(i)._2 - evs(i - 1)._2 > GAP_NS) {
              val slice = evs.slice(start, i)
              val vs = slice.flatMap(_._3)
              // SQL sum: NULLs skipped, all-NULL -> NULL
              out += ((user, slice.head._2, slice.length.toLong,
                if (vs.isEmpty) None else Some(vs.sum)))
              start = i
            }
            i += 1
          }
          out.iterator
        })
      .toDF("user_id", "session_start", "n_events", "sum_micros")

    val query = StateSizing.startSized(s)(sessions.writeStream
      .outputMode("append").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  val SESSIONIZE_SQL: String = s"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) AS tns,
             CAST(round(value * 1000000) AS BIGINT) AS qv
      FROM events WHERE ts IS NOT NULL),
    d AS (
      SELECT user_id, tns, qv,
             CASE WHEN lag(tns) OVER w IS NULL
                    OR tns - lag(tns) OVER w > $GAP_NS
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns)),
    s AS (
      SELECT user_id, tns, qv,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY tns
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM d)
    SELECT user_id, min(tns) AS session_start,
           count(*) AS n_events,
           CAST(sum(qv) AS BIGINT) AS sum_micros
    FROM s GROUP BY user_id, sid"""

  /** `mapGroupsWithState` (the one-row-per-group sibling of the sessionizer's
    * flatMap variant): per-user running aggregate state — max quantized value
    * and event count — emitted in update mode. With the file source's single
    * microbatch each group emits once, so a plain batch GROUP BY is the
    * oracle; with a live source the same code re-emits each user's row as
    * its state advances.
    */
  def runningState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_running_sink_" + sinkCounter.incrementAndGet()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .selectExpr("user_id", "CAST(round(value * 1000000) AS BIGINT) AS qv")
      .as[(Long, Option[Long])]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(Long, Option[Long])],
         state: GroupState[(Option[Long], Long)]) => {
          // SQL max: NULL measurements count as events but never win the
          // max; a user with only NULLs reports a NULL max, not a sentinel
          var (mx, n) = state.getOption.getOrElse((None: Option[Long], 0L))
          it.foreach { case (_, qv) =>
            if (qv.isDefined && mx.forall(_ < qv.get)) mx = qv
            n += 1
          }
          state.update((mx, n))
          (user, mx, n)
        })
      .toDF("user_id", "max_micros", "n_events")
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("update").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Spark 4's arbitrary-state API (`transformWithState` — the successor to
    * [m/flat]MapGroupsWithState): per-user distinct event types via a
    * `MapState` (a state-store-backed set, scalable past what a single
    * in-memory value could hold) plus a `ValueState` event counter.
    * Requires the RocksDB state store provider; the previous provider conf
    * is restored afterwards so the older-API queries keep their default.
    */
  private class DistinctTypesProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), (Long, Long, Long)] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var types: org.apache.spark.sql.streaming.MapState[String, java.lang.Boolean] = _
    @transient private var nEvents: org.apache.spark.sql.streaming.ValueState[java.lang.Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      types = getHandle.getMapState[String, java.lang.Boolean](
        "types", Encoders.STRING, Encoders.BOOLEAN, TTLConfig.NONE)
      nEvents = getHandle.getValueState[java.lang.Long](
        "n", Encoders.LONG, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var n: Long = if (nEvents.exists()) nEvents.get() else 0L
      rows.foreach { case (_, et) =>
        // SQL count(DISTINCT) semantics: a NULL type counts as an event
        // but never as a distinct key (MapState rejects null keys anyway)
        if (et != null) types.updateValue(et, java.lang.Boolean.TRUE)
        n += 1
      }
      nEvents.update(n)
      var k = 0L
      val it = types.keys()
      while (it.hasNext) { it.next(); k += 1 }
      Iterator.single((key, k, n))
    }
  }

  def twsDistinctTypes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_tws_sink_" + sinkCounter.incrementAndGet()
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .selectExpr("user_id", "event_type").as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new DistinctTypesProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
        .toDF("user_id", "n_types", "n_events")
      val query = StateSizing.startSized(s)(stream.writeStream
        .outputMode("update").format("memory").queryName(qn).start())
      try query.processAllAvailable()
      finally query.stop()
    } finally prevProvider match {
      case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    s.table(qn)
  }

  /** Streaming deduplication: dropDuplicates over the event stream (the
    * streaming face of the dedup family) — first-seen (user, type) pairs
    * aggregated per type, matching a batch DISTINCT oracle.
    */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_dedup_sink_" + sinkCounter.incrementAndGet()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Live A/B contingency cells — the experiment monitor as a streaming
    * aggregation: each event contributes its user to the `all` cell of the
    * user's arm, qualifying purchases also to the `conv` cell; streaming
    * dropDuplicates keeps each (user, kind) once, so the per-arm counts are
    * USER-level, exactly what ab_chisq's batch table folds. State is
    * users×2 keys — bounded by the entity population, not the stream
    * length. Complete mode re-emits the whole (arm, kind) table each
    * micro-batch: six rows, the live dashboard shape.
    */
  def abCells(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_ab_sink_" + sinkCounter.incrementAndGet()
    def base = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    val all = base.select(col("user_id"), lit("all").as("kind"))
    val conv = base
      .filter(col("event_type") === "purchase" && col("value") >= 150.0)
      .select(col("user_id"), lit("conv").as("kind"))
    val cells = all.union(conv)
      .dropDuplicates("user_id", "kind")
      .withColumn("arm", pmod(col("user_id"), lit(3L)))
      .groupBy("arm", "kind")
      .agg(count(lit(1)).as("n_users"))
    val query = StateSizing.startSized(s)(cells.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Stream-stream time-interval inner join — the attribution primitive
    * (clicks joined to same-user purchases within 10 minutes after). Both
    * sides carry event-time watermarks, so the join state is BOUNDED: rows
    * older than watermark + interval are evicted instead of accreting
    * forever — the property that keeps this runnable on an endless feed.
    * Times are quantized to micros (exact int64) for oracle parity.
    */
  def streamJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_join_sink_" + sinkCounter.incrementAndGet()
    def side(et: String, user: String, tsCol: String) =
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .filter(col("event_type") === et)
        // watermarks require TIMESTAMP; the parquet column is NTZ and the
        // session zone is UTC, so the cast is instant-exact
        .select(col("user_id").as(user),
          col("ts").cast("timestamp").as(tsCol))
        .withWatermark(tsCol, "1 hour")
    val clicks = side("click", "user_id", "click_ts")
    val purchases = side("purchase", "p_user", "purchase_ts")
    val joined = clicks.join(purchases, expr(
        """user_id = p_user AND purchase_ts >= click_ts
           AND purchase_ts <= click_ts + interval 10 minutes"""))
      .select(col("user_id"),
        expr("unix_micros(cast(click_ts AS timestamp))").as("click_us"),
        expr("unix_micros(cast(purchase_ts AS timestamp))").as("purchase_us"))
    val query = StateSizing.startSized(s)(joined.writeStream
      .outputMode("append").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Incremental upsert materialization — the MERGE-into-snapshot sink
    * pattern (what a Delta/Iceberg MERGE does) on plain parquet: the events
    * stream is delivered in 8 microbatches (staged files +
    * maxFilesPerTrigger=1), and foreachBatch folds each batch into a
    * latest-row-per-key snapshot, alternating between two generation dirs
    * (write-then-swap, never overwriting the generation being read). The
    * merge key order (ts, event_id) is total, so the fold is
    * order-independent — any microbatch arrival order yields the same
    * snapshot, which is what makes the pattern safe under redelivery.
    */
  def upsertSnapshot(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_upsert_stage_$inv")
    val snapBase = graft.TempDirs.create(s"graft_upsert_snap_$inv")
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(col("user_id"), graft.rel.Q.tsMicros(col("ts")).as("us"),
        col("event_id"), col("event_type"), col("value"))
    ev.repartition(8).write.mode("overwrite").parquet(stageDir)

    def latestPerUser(df: DataFrame): DataFrame = df
      .groupBy("user_id")
      .agg(max(struct(col("us"), col("event_id"), col("event_type"),
        col("value"))).as("t"))
      .select(col("user_id"), col("t.us").as("us"),
        col("t.event_id").as("event_id"), col("t.event_type").as("event_type"),
        col("t.value").as("value"))

    var current: String = null
    var gen = 0
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    // foreachBatch runs its fold as batch jobs on the stream's cloned
    // session, so the sized partition count also right-sizes the 8
    // per-micro-batch groupBy shuffles over these small snapshots
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val merged =
          if (current == null) latestPerUser(batch)
          else latestPerUser(batch.unionByName(
            batch.sparkSession.read.parquet(current)))
        val next = s"$snapBase/gen${gen % 2}"
        // single-file snapshot: the view is users-sized (tiny relative to
        // the log); 8-way parallel writes of a KB-scale view cost more in
        // file/footer overhead than the write itself, every generation
        merged.coalesce(1).write.mode("overwrite").parquet(next)
        current = next
        gen += 1
        ()
      }
      .start())
    try query.processAllAvailable()
    finally query.stop()
    s.read.parquet(current).select("user_id", "us", "event_type", "value")
  }

  /** Streaming incremental view maintenance — q32_ivm_merge's online twin:
    * the events stream arrives in 8 micro-batches and foreachBatch folds
    * each batch's PARTIAL aggregate into the stored view through the
    * aggregates' merge functions (n and sum add, min and max combine) —
    * the view update reads view-sized data only, never the log. The fold
    * is commutative/associative, so ANY micro-batch arrival order yields
    * the same view; foreachBatch is at-least-once, so a batch-id guard
    * makes redelivery a no-op (double-adding a sum would NOT be safe —
    * unlike the upsert fold above, this merge is order-independent but
    * not idempotent, exactly why the guard exists).
    */
  def ivmMergeStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_ivmst_stage_$inv")
    val viewBase = graft.TempDirs.create(s"graft_ivmst_view_$inv")
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(graft.rel.Q.tsBucket(col("ts"), 300000000L).as("bucket"),
        col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("qv"))
    ev.repartition(8).write.mode("overwrite").parquet(stageDir)

    def partial(df: DataFrame): DataFrame = df
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n"), sum("qv").as("sum_qv"),
        min("qv").as("min_qv"), max("qv").as("max_qv"))

    var current: String = null
    var lastApplied = -1L
    var gen = 0
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > lastApplied) {
          val delta = partial(batch)
          val merged =
            if (current == null) delta
            else delta
              .unionByName(batch.sparkSession.read.parquet(current))
              .groupBy("bucket", "event_type")
              .agg(sum("n").as("n"), sum("sum_qv").as("sum_qv"),
                min("min_qv").as("min_qv"), max("max_qv").as("max_qv"))
          val next = s"$viewBase/gen${gen % 2}"
          // single-file view: buckets×types-sized, same file/footer
          // overhead rationale as the upsert snapshot below
          merged.coalesce(1).write.mode("overwrite").parquet(next)
          current = next
          gen += 1
          lastApplied = batchId
        }
        ()
      }
      .start())
    try query.processAllAvailable()
    finally query.stop()
    s.read.parquet(current)
  }

  /** Streaming ingest into the DSv2 zarr sink: the synthetic pixel
    * relation arrives in micro-batches (staged files + maxFilesPerTrigger),
    * and foreachBatch appends each batch into ONE growing zarr store
    * through `df.write.format("zarr")`. The staging repartitions by grid
    * row, so each micro-batch owns a DISJOINT chunk set — zarr's own
    * concurrency contract (independent writers must write disjoint chunks,
    * reference relabeling.py:319-322's store model) mapped onto streaming:
    * batch boundaries are region boundaries. Each micro-batch commit is the
    * sink's atomic stage-and-swap with metadata written last, so a crash
    * between batches leaves a readable store holding exactly the committed
    * regions (spec'd in StreamingZarrSpec), and redelivery of a batch
    * rewrites the same chunk files byte-identically — idempotent, hence
    * effectively exactly-once. The gate reads the finished store back
    * through the DSv2 scan under the same oracle as px_zarr_dsv2_write.
    */
  def zarrStreamWrite(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.rel.RelabelRel
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_stzarr_stage_$inv")
    val storeDir = graft.TempDirs.create(s"graft_stzarr_store_$inv")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    val px = RelabelRel.pixelsRaw(s, d)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
    // hash-partition by grid row: every chunk (g0, g1) lands whole in
    // exactly one staged file, so no two micro-batches touch the same chunk
    px.repartition(4, col("g0")).write.mode("overwrite").parquet(stageDir)

    val stream = s.readStream.schema(px.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val query = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.format("zarr")
          .option("shape", s"$gyL,$gxL")
          .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
          .option("dtype", "<u2").option("compressor", "zlib")
          .mode("append").save(storeDir)
        ()
      }
      .start()
    try query.processAllAvailable()
    finally query.stop()
    s.read.format("zarr").load(storeDir)
      .filter(col("value") =!= 0)
      .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
      .groupBy("gy", "gx")
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
  }

  /** The NATIVE DSv2 streaming sink (`writeStream.format("zarr")`) doing
    * what [[zarrStreamWrite]] does through foreachBatch: each micro-batch
    * appends its disjoint chunk region through
    * [[graft.sources.zarr.ZarrStreamingWrite]]'s epoch commit (stage ->
    * move -> metadata last), with Spark's own offset log carrying
    * exactly-once instead of hand-rolled batch-id guards. Same staging
    * partitioning (each batch owns whole grid rows), same oracle — a hash
    * match proves the epoch path's staging, move-replace redelivery
    * semantics, and per-epoch metadata rewrite end-to-end.
    */
  def zarrStreamWriteNative(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.rel.RelabelRel
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_stzarrn_stage_$inv")
    val storeDir = graft.TempDirs.create(s"graft_stzarrn_store_$inv")
    val ckptDir = graft.TempDirs.create(s"graft_stzarrn_ckpt_$inv")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    val px = RelabelRel.pixelsRaw(s, d)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
    px.repartition(4, col("g0")).write.mode("overwrite").parquet(stageDir)
    val stream = s.readStream.schema(px.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    val query = stream.writeStream
      .format("zarr")
      .option("shape", s"$gyL,$gxL")
      .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
      .option("dtype", "<u2").option("compressor", "zlib")
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .start(storeDir)
    try query.processAllAvailable()
    finally query.stop()
    s.read.format("zarr").load(storeDir)
      .filter(col("value") =!= 0)
      .select(col("g0").as("gy"), col("g1").as("gx"), col("value"))
      .groupBy("gy", "gx")
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
  }

  /** Streaming read of a zarr store through [[graft.sources.zarr
    * .ZarrMicroBatchStream]]: the synthetic label image is batch-written
    * through the DSv2 sink, then `readStream.format("zarr")` ingests it
    * with `maxChunksPerTrigger=5` — 24 chunks arrive over 5 micro-batches
    * feeding a complete-mode per-tile aggregate, which must converge to
    * the SAME oracle as the batch scan regardless of how discovery sliced
    * the store. The incremental-growth face (chunks appended between
    * triggers) is spec'd separately in ZarrStreamSourceSpec.
    */
  def zarrStreamRead(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.rel.RelabelRel
    val inv = sinkCounter.incrementAndGet()
    val storeDir = graft.TempDirs.create(s"graft_stzarr_src_$inv")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    RelabelRel.pixelsRaw(s, d)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
      .write.format("zarr")
      .option("shape", s"$gyL,$gxL")
      .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
      .option("dtype", "<u2").option("compressor", "zlib")
      .mode("overwrite").save(storeDir)
    val qn = "st_zarr_src_sink_" + inv
    val agg = s.readStream.format("zarr")
      .option("maxChunksPerTrigger", "5").load(storeDir)
      .filter(col("value") =!= 0)
      .groupBy(col("g0").as("gy"), col("g1").as("gx"))
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
    val query = StateSizing.startSized(s)(agg.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** zarrStreamRead through the SHARDED layout: the DSv2 `shards` write
    * produces the object-per-shard store, and the streaming source ingests
    * it at SHARD granularity (write-once-shard contract) — one discovered
    * shard object per micro-batch under `maxChunksPerTrigger=1`. Same
    * per-tile oracle: shard assembly, index reads, and shard-granular
    * discovery all sit under the hash gate.
    *
    * TIMING NOTE: at the driver SF this gate reads ~4x its batch twin
    * `px_zarr3_sharded` — that is the fixed per-micro-batch floor (offset
    * log + plan + commit per trigger) over sf0.1's TINY shards, not a
    * scale defect. The ratio falls 11.9x -> 2.3x as shards grow 34 ->
    * 537 MB, with the one-trigger bound at 1.5-1.7x (COVERAGE.md,
    * "Shard-size amortization curve measured"): at real shard sizes (hundreds
    * of MB, the zarr v3 sharding design point) the streaming read is
    * within a sixtieth of a disk-saturated batch scan's envelope. Do not
    * "fix" this by fattening the gate's store — the gate exists to hash
    * shard-granular discovery, and small shards keep it fast.
    */
  def zarrShardStreamRead(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.rel.RelabelRel
    val inv = sinkCounter.incrementAndGet()
    val storeDir = graft.TempDirs.create(s"graft_stzarr_shsrc_$inv")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    RelabelRel.pixelsRaw(s, d)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
      .write.format("zarr")
      .option("shape", s"$gyL,$gxL")
      .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
      .option("shards", s"${2 * RelabelRel.L},${2 * RelabelRel.L}")
      .option("dtype", "uint16").option("compressor", "gzip")
      .option("zarrFormat", "3")
      .mode("overwrite").save(storeDir)
    val qn = "st_zarr_shsrc_sink_" + inv
    val agg = s.readStream.format("zarr")
      .option("maxChunksPerTrigger", "1").load(storeDir)
      .filter(col("value") =!= 0)
      .groupBy(col("g0").as("gy"), col("g1").as("gx"))
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
    val query = StateSizing.startSized(s)(agg.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Streaming benchmark decontamination — the stream-STATIC join surface:
    * documents arrive as a stream, the eval-set 4-gram fingerprints are a
    * static broadcast relation, so every micro-batch flags its
    * contaminated docs map-side with zero stream-side shuffle before the
    * per-(doc, eval) aggregate. Mirrors `tx_decontam` exactly (same grams,
    * same strata), so the batch SQL is the oracle. The in-stream distinct
    * runs BEFORE the join (state keyed by the doc's own grams), and the
    * complete-mode aggregate snapshots the running contamination table —
    * at scale this is the shape of a continuous ingest gate: new corpus
    * slices stream in, the benchmark set stays pinned on the executors.
    */
  /** Streaming near-dup admission: incoming documents (odd doc_ids stream
    * in) are checked against the STATIC LSH band index of the existing
    * corpus (even doc_ids). Both sides use the fused
    * [[graft.functions.MinHashSlices]] signature — a narrow per-row map, so
    * the stream side adds NO stateful operator before the join; the static
    * band index is document-sized and broadcast, so each micro-batch flags
    * its near-dups map-side. Output: (doc_id, idx_id, n_bands agreeing).
    * This is the online half of dd_minhash_lsh — the batch twin (identical
    * md5-slice minhash in plain SQL over the parity split) is the oracle.
    *
    * At 100 TB: the index side is signatures, not text — 4 band rows per
    * indexed doc; a trillion-doc index moves to an equi-join on (band,
    * bandval) against a compacted signature store, same shape minus the
    * broadcast hint.
    */
  def streamMinhash(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.MinHashSlices.minhash_slices
    def sig(df: DataFrame) = df
      .select(col("doc_id"), minhash_slices(col("text")).as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id"), posexplode(expr(
        """array(concat(mh[0], mh[1]), concat(mh[2], mh[3]),
                 concat(mh[4], mh[5]), concat(mh[6], mh[7]))""")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bandval")
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val qn = "st_minhash_sink_" + sinkCounter.incrementAndGet()
    val idx = sig(s.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id") % 2 === 0))
      .withColumnRenamed("doc_id", "idx_id")
    // static band index: persist eagerly so each micro-batch re-broadcasts
    // cached signatures instead of re-minhashing the indexed corpus
    idx.persist()
    idx.count()
    val stream = sig(s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .filter(col("doc_id") % 2 =!= 0))
    val flagged = stream.join(broadcast(idx), Seq("band", "bandval"))
      .groupBy("doc_id", "idx_id")
      .agg(count(lit(1)).as("n_bands"))
    val query = StateSizing.startSized(s)(flagged.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally {
      query.stop()
      idx.unpersist(blocking = false)
    }
    s.table(qn)
  }

  private val MINHASH_STREAM_SQL = s"""
      WITH sh AS (
        SELECT doc_id, unnest(list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
               AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
      mins AS (
        SELECT doc_id,
               ${graft.rel.TextOps.MINHASH_MINS_SQL}
        FROM sh GROUP BY doc_id),
      sig AS (
        SELECT doc_id, 0 AS band, mh0 || mh1 AS bandval FROM mins
        UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM mins
        UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM mins
        UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM mins)
      SELECT s.doc_id, i.doc_id AS idx_id, count(*) AS n_bands
      FROM sig s JOIN sig i ON s.band = i.band AND s.bandval = i.bandval
      WHERE s.doc_id % 2 = 1 AND i.doc_id % 2 = 0
      GROUP BY 1, 2"""

  def streamDecontam(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val gram = """CASE WHEN size(words) >= 4
           THEN transform(sequence(1, size(words) - 3),
                i -> concat_ws(' ', slice(words, i, 4)))
           ELSE array() END"""
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val qn = "st_decontam_sink_" + sinkCounter.incrementAndGet()
    val ev = s.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id") % 100 === 0)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id").as("eval_id"), explode(expr(gram)).as("g"))
      .distinct()
    // static side of the stream-static join: every micro-batch re-plans
    // it, so persist eagerly — each batch re-broadcasts cached gram rows
    // instead of re-scanning + re-exploding + re-distincting the eval set
    ev.persist()
    ev.count()
    val tr = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .filter(col("doc_id") % 100 =!= 0)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(gram)).as("g"))
      .dropDuplicates("doc_id", "g")
    val flagged = tr.join(broadcast(ev), "g")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
    val query = StateSizing.startSized(s)(flagged.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally {
      query.stop()
      ev.unpersist(blocking = false)
    }
    s.table(qn)
  }

  /** Streaming centroid assignment — the online half of km_cluster /
    * ann_ivf: embedding vectors stream in, the centroid codebook is FIXED
    * (the deterministic strided 1% sample, collected driver-side — bounded
    * codebook metadata, same rationale as the RankOps scalar literals —
    * and shipped to the executors as a BROADCAST VARIABLE, the 100 TB
    * design: at a million centroids the plan stays one narrow map while a
    * literal-folded codebook would bloat every serialized plan and blow
    * codegen limits), and each micro-batch assigns its vectors to the
    * max-dot centroid entirely MAP-SIDE via a per-row scan of the
    * broadcast codebook (ties broken toward the lowest centroid id,
    * matching the oracle's `ORDER BY cdot DESC, cid ASC`); the only
    * stateful operator is the final per-centroid complete-mode aggregate.
    * This is how an online IVF ingest keeps cluster statistics current
    * while the stream flows.
    */
  def vecAssign(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val quant =
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv"
    val cents = s.read.parquet(s"$d/embeddings.parquet")
      .filter(col("embedding").isNotNull) // NULL-vector contract (see qvec)
      .filter(col("vec_id") % 100 === 7)
      .selectExpr("vec_id", quant)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val schema = s.read.parquet(s"$d/embeddings.parquet").schema
    val qn = "st_vec_assign_sink_" + sinkCounter.incrementAndGet()
    val bcCents = s.sparkContext.broadcast(cents)
    // integer dot products (the quantized vectors are exact longs), so the
    // argmax is deterministic across partitionings and micro-batchings
    val assign = udf { (qv: Seq[Long]) =>
      val cb = bcCents.value
      if (cb.isEmpty) None // no codebook: assign nothing, not a sentinel
      else {
        var bestDot = Long.MinValue
        var bestCid = Long.MaxValue
        var c = 0
        while (c < cb.length) {
          val (cid, cv) = cb(c)
          var dot = 0L
          var i = 0
          while (i < cv.length) { dot += qv(i) * cv(i); i += 1 }
          if (dot > bestDot || (dot == bestDot && cid < bestCid)) {
            bestDot = dot; bestCid = cid
          }
          c += 1
        }
        Some((bestCid, bestDot))
      }
    }
    val agg = s.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(d)
      .filter(col("embedding").isNotNull) // NULL-vector contract (see qvec)
      .selectExpr("vec_id", quant)
      .select(col("vec_id"), assign(col("qv")).as("m"))
      // an empty centroid stratum assigns nothing — the oracle's centroid
      // join over zero centroids yields zero rows
      .filter(col("m").isNotNull)
      .select(col("vec_id"), col("m._1").as("cid"), col("m._2").as("cdot"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), sum("cdot").as("sum_dot"))
    val query = StateSizing.startSized(s)(agg.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  private val VEC_ASSIGN_SQL = """
      WITH qv AS (
        SELECT vec_id, list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings WHERE embedding IS NOT NULL),
      cents AS (SELECT vec_id AS cid, qv AS cv FROM qv WHERE vec_id % 100 = 7),
      sc AS (
        SELECT b.vec_id, a.cid,
               CAST(list_dot_product(CAST(b.qv AS DOUBLE[]),
                                     CAST(a.cv AS DOUBLE[])) AS BIGINT) AS cdot
        FROM qv b, cents a),
      asg AS (
        SELECT vec_id, cid, cdot FROM (
          SELECT vec_id, cid, cdot,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cdot DESC, cid ASC) AS rn
          FROM sc) WHERE rn = 1)
      SELECT cid, count(*) AS n, CAST(sum(cdot) AS BIGINT) AS sum_dot
      FROM asg GROUP BY cid"""

  /** Streaming RAG chunking — [[graft.rel.RagOps.chunk]] applied to a
    * document STREAM: the transform is a stateless generator, so every
    * micro-batch chunks map-side with zero state and the sink appends —
    * the shape of a continuous embedding-ingest front-end. Batch oracle =
    * the same CHUNK_SQL as tx_chunk; identical output proves streaming
    * adds (and loses) nothing.
    */
  def chunkStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val qn = "st_chunk_sink_" + sinkCounter.incrementAndGet()
    val chunked = graft.rel.RagOps.chunk(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(d))
    val query = chunked.writeStream
      .outputMode("append").format("memory").queryName(qn).start()
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Streaming weighted sampling — tx_weighted_sample's online twin. The
    * batch form ranks with a per-source window; windows don't stream, but
    * the SELECTION ITSELF is an order-independent bounded min-k, which is
    * exactly the [[graft.functions.KMinStrings]] aggregate (O(k) state per
    * source, any arrival order, any partitioning). Priorities are encoded
    * as fixed-width sortable strings so lexicographic k-min == numeric
    * (priority, doc_id) order; the complete-mode snapshot then decodes
    * back to rows. This is the shape of a continuously-maintained training
    * sample: documents stream in, every source's current k winners are
    * always materialized, and a doc can only ever be displaced by a
    * strictly better one.
    */
  def weightedSampleStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = s.read.parquet(s"$d/documents.parquet").schema
    val qn = "st_sample_sink_" + sinkCounter.incrementAndGet()
    val enc = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .selectExpr("source",
        s"""lpad(CAST((${graft.rel.SelectOps.hash32("doc_id", "STRING")} * 1000000)
                     div greatest(n_chars, 1) AS STRING), 17, '0')
            || '|' || lpad(CAST(doc_id AS STRING), 10, '0') AS ek""")
    val query = StateSizing.startSized(s)(enc
      .groupBy("source").agg(graft.functions.KMinStrings(col("ek"), 10).as("mins"))
      .writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
      .select(col("source"), posexplode(col("mins")))
      .select(col("source"), (col("pos") + 1).cast("int").as("rk"),
        expr("CAST(substr(col, 19) AS BIGINT)").as("doc_id"),
        expr("CAST(substr(col, 1, 17) AS BIGINT)").as("priority"))
  }

  /** Built-in `session_window` aggregation — the engine-managed sibling of
    * the custom `flatMapGroupsWithState` sessionizer above: Spark merges
    * per-event [t, t+gap) windows in its own session state store (no user
    * state code, RocksDB-capable, merge-on-overlap). Note the boundary
    * seam the oracle must mirror: window MERGE happens only when the next
    * event starts strictly BEFORE the current session end, so a gap of
    * exactly 30 min starts a NEW session (`>= gap`), whereas the custom
    * sessionizer's rule breaks on `> gap` — the kind of off-by-a-boundary
    * divergence that motivates hash-gating both surfaces separately.
    */
  def sessionWindow(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_session_window_sink_" + sinkCounter.incrementAndGet()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      // explicit: session_window SILENTLY drops NULL-time rows; the filter
      // makes the time-ordered contract visible and keeps the oracle honest
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts").cast("timestamp").as("tts"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("qv"))
      .groupBy(col("user_id"),
        session_window(col("tts"), "30 minutes").as("w"))
      .agg(count(expr("1")).as("n_events"), sum("qv").as("sum_micros"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("s_start"),
        expr("unix_micros(w.end)").as("s_end"),
        col("n_events"), col("sum_micros"))
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Dynamic-gap session windows: the gap is a PER-EVENT expression
    * (purchases hold a session open 60 min, everything else 15) — the
    * engine merges each event's [t, t+gap(t)) window into the running
    * session on overlap. The oracle replays the merge rule relationally:
    * an event starts a new session iff its time is at or past the RUNNING
    * MAX of all previous events' window ends (cumulative max over the
    * (ROWS UNBOUNDED PRECEDING, 1 PRECEDING) frame) — value-dependent
    * state the fixed-gap oracle cannot express.
    */
  def sessionWindowDynamic(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_session_dyn_sink_" + sinkCounter.incrementAndGet()
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .filter(col("ts").isNotNull) // see sessionWindow: explicit drop
      .select(col("user_id"), col("ts").cast("timestamp").as("tts"),
        col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("qv"))
      .groupBy(col("user_id"),
        session_window(col("tts"), when(col("event_type") === "purchase",
          lit("60 minutes")).otherwise(lit("15 minutes"))).as("w"))
      .agg(count(expr("1")).as("n_events"), sum("qv").as("sum_micros"))
      .select(col("user_id"),
        expr("unix_micros(w.start)").as("s_start"),
        expr("unix_micros(w.end)").as("s_end"),
        col("n_events"), col("sum_micros"))
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Streaming DDSketch — the quantile monitor as a live aggregate: the
    * register histogram IS the streaming state (a complete-mode
    * (type, bin) count — mergeable by construction, so micro-batch order
    * is immaterial), and the quantile walk runs as a batch view over the
    * snapshot. Same oracle as the batch sketch: streaming adds and loses
    * nothing.
    */
  def ddsketchStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_dds_sink_" + sinkCounter.incrementAndGet()
    val hist = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .filter(col("value").isNotNull) // sketches ingest measurements only
      .select(col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("qv"))
      .select(col("event_type"),
        expr("length(bin(qv)) - 1").as("b"),
        expr("shiftright(qv, CAST(length(bin(qv)) - 3 AS INT)) & 3").as("k"))
      .groupBy(col("event_type"), (col("b") * 4 + col("k")).as("bid"))
      .agg(count(expr("1")).as("n"))
    val query = StateSizing.startSized(s)(hist.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    // the walk self-joins the snapshot; MemoryPlan can't deduplicate its
    // attributes across a self-join, so pin the (bin-bounded) snapshot to
    // an RDD first
    graft.rel.SketchRel.ddPost(s.table(qn).localCheckpoint(true))
  }

  val SESSION_DYN_SQL: String = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CASE WHEN event_type = 'purchase' THEN 3600000000
                  ELSE 900000000 END AS gap,
             CAST(round(value * 1000000) AS BIGINT) AS qv
      FROM events WHERE ts IS NOT NULL),
    d AS (
      SELECT user_id, tus, gap, qv,
             CASE WHEN max(tus + gap) OVER (PARTITION BY user_id
                    ORDER BY tus, gap
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR tus >= max(tus + gap) OVER (PARTITION BY user_id
                    ORDER BY tus, gap
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_s
      FROM e),
    s AS (
      SELECT user_id, tus, gap, qv,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, gap
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM d)
    SELECT user_id, min(tus) AS s_start, max(tus + gap) AS s_end,
           count(*) AS n_events, CAST(sum(qv) AS BIGINT) AS sum_micros
    FROM s GROUP BY user_id, sid"""

  val SESSION_WINDOW_SQL: String = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CAST(round(value * 1000000) AS BIGINT) AS qv
      FROM events WHERE ts IS NOT NULL),
    d AS (
      SELECT user_id, tus, qv,
             CASE WHEN lag(tus) OVER w IS NULL
                    OR tus - lag(tus) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
    s AS (
      SELECT user_id, tus, qv,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM d)
    SELECT user_id, min(tus) AS s_start,
           max(tus) + 1800000000 AS s_end,
           count(*) AS n_events, CAST(sum(qv) AS BIGINT) AS sum_micros
    FROM s GROUP BY user_id, sid"""

  /** Watermark late-data accounting — the semantic every event-time
    * streaming aggregation stands on, pinned end to end: the events
    * relation is staged as single-file micro-batches with explicit,
    * strictly increasing modification times (the file source takes files
    * oldest-mtime-first under maxFilesPerTrigger=1, path as tiebreak), so
    * batch order is deterministic: (1) the bulk stratum advances the
    * watermark to its max event time minus the 1-hour delay, (2) a
    * WATERMARK-COMMIT GAP batch — Spark filters late events against the
    * watermark as of the START of the previous micro-batch (the
    * late-events/eviction watermark split of SPARK-40925: lateEvents lags
    * eviction by one batch), so a stratum arriving in the batch right
    * after the bulk would see late-boundary 0 and sail through; the tiny
    * gap slice (the bulk's final hour — may even be empty; the batch
    * itself is what commits the boundary) promotes the bulk watermark
    * into the late-events boundary, (3) a stratum of far-older events now
    * arrives entirely BEHIND that boundary and is dropped before
    * aggregation — numRowsDroppedByWatermark accounts for every partial,
    * and no closed window re-opens, (4) a tail stratum advances the
    * watermark far enough to flush all but the final windows. Append mode
    * then emits exactly the hourly windows whose end precedes the final
    * watermark, computed over the kept strata — which is what the batch
    * oracle recomputes. Event times carry microsecond jitter, so no
    * window boundary ever ties with a watermark and the strict/non-strict
    * comparison distinction cannot bite.
    */
  def lateData(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_late_stage_$inv")
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(graft.rel.Q.tsMicros(col("ts")).as("us"), col("event_type"))
    def put(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = graft.TempDirs.create(s"graft_late_tmp_${inv}_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$stageDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(mtime)
      ()
    }
    val cLo = 1704326400000000L // 2024-01-04T00:00:00Z
    val cHi = 1706227200000000L // 2024-01-26T00:00:00Z
    val cMid = cHi - 3600000000L // gap slice: the bulk's final hour
    val base = System.currentTimeMillis()
    put(ev.filter(col("us") >= cLo && col("us") < cMid), "f1_bulk", base - 400000)
    put(ev.filter(col("us") >= cMid && col("us") < cHi), "f2_gap", base - 300000)
    put(ev.filter(col("us") < cLo), "f3_late", base - 200000)
    put(ev.filter(col("us") >= cHi), "f4_tail", base - 100000)
    val qn = "st_late_sink_" + inv
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
      .withColumn("et", expr("timestamp_micros(us)"))
      .withWatermark("et", "1 hour")
      .groupBy(window(col("et"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(window.start) div 3600000000").as("hour"),
        col("event_type"), col("n"))
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("append").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  private val LATE_SQL = """
    WITH kept AS (
      SELECT epoch_us(ts) AS us, event_type FROM events
      WHERE epoch_us(ts) >= 1704326400000000),
    wm AS (
      SELECT ((max(us) // 1000) - 3600000) * 1000 AS wm_us FROM kept),
    w AS (
      SELECT us // 3600000000 AS hour, event_type, count(*) AS n
      FROM kept GROUP BY 1, 2)
    SELECT hour, event_type, n FROM w, wm
    WHERE (hour + 1) * 3600000000 < wm_us"""

  /** Streaming HLL — the distinct-user monitor live: the custom
    * TypedImperativeAggregate's register buffer IS the streaming state
    * (complete mode re-emits the merged sketch each micro-batch; the
    * events arrive in 4 arbitrary-order staged batches, and the register
    * max-merge is commutative, so any arrival order yields the batch
    * sketch — which is why sk_hll_users' oracle gates this verbatim).
    * The register table + estimate view derive batch-side from the final
    * snapshot, exactly like st_sk_ddsketch's walk.
    */
  def hllStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_hll_stage_$inv")
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(col("event_type"), col("user_id"))
    ev.repartition(4).write.mode("overwrite").parquet(stageDir)
    val qn = "st_hll_sink_" + inv
    val stream = graft.rel.SketchRel.hllAgg(
      s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDir))
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("complete").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    graft.rel.SketchRel.hllView(s.table(qn))
  }

  /** Bounded-state streaming dedup — dropDuplicatesWithinWatermark, the
    * form that survives 100 TB: unlike st_stream_dedup's unbounded
    * dropDuplicates (state grows with every key ever seen), state here
    * expires once the watermark passes an id's event time plus the
    * within-horizon, so state is bounded by the horizon's key arrival
    * rate. The gate delivers the WHOLE events relation twice — two staged
    * files, maxFilesPerTrigger=1: an exact redelivery of an entire feed —
    * with a horizon wider than the data span, so every batch-2 row is a
    * within-horizon duplicate and must be dropped; the output is the
    * relation exactly once (the plain batch projection is the oracle).
    */
  def dedupWithinWatermark(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_ddwm_stage_$inv")
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), graft.rel.Q.tsMicros(col("ts")).as("us"),
        col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("qv"))
    def put(name: String, mtime: Long): Unit = {
      val tmp = graft.TempDirs.create(s"graft_ddwm_tmp_${inv}_$name")
      ev.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$stageDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(mtime)
      ()
    }
    val base = System.currentTimeMillis()
    put("f1_feed", base - 200000)
    put("f2_redelivery", base - 100000)
    val qn = "st_ddwm_sink_" + inv
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
      .withColumn("et", expr("timestamp_micros(us)"))
      .withWatermark("et", "40 days")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "us", "event_type", "qv")
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("append").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** LEFT OUTER stream-stream join — the semantic the inner
    * st_stream_join cannot show: a click with no purchase inside its
    * 10-minute attribution window must still be emitted (with nulls), but
    * only once the watermark PROVES no match can arrive — i.e. once it
    * passes click_ts + 10 minutes. Both sides watermark at 1 hour; the
    * whole table arrives in one micro-batch, so matches emit immediately
    * and the trailing no-data batch evicts+null-emits every unmatched
    * click whose window closed before the final watermark
    * (min over both sides' max event time, minus the hour). Clicks in the
    * last ~70 minutes stay in state unemitted — exactly what the oracle's
    * watermark predicate reproduces. Microsecond jitter keeps every
    * boundary tie-free.
    */
  def streamOuterJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val qn = "st_ojoin_sink_" + sinkCounter.incrementAndGet()
    def side(et: String, user: String, tsCol: String) =
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .filter(col("event_type") === et)
        .select(col("user_id").as(user),
          col("ts").cast("timestamp").as(tsCol))
        .withWatermark(tsCol, "1 hour")
    val clicks = side("click", "user_id", "click_ts")
    val purchases = side("purchase", "p_user", "purchase_ts")
    val joined = clicks.join(purchases, expr(
        """user_id = p_user AND purchase_ts >= click_ts
           AND purchase_ts <= click_ts + interval 10 minutes"""),
        "left_outer")
      .select(col("user_id"),
        expr("unix_micros(cast(click_ts AS timestamp))").as("click_us"),
        expr("unix_micros(cast(purchase_ts AS timestamp))").as("purchase_us"))
    val query = StateSizing.startSized(s)(joined.writeStream
      .outputMode("append").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  private val OUTER_JOIN_SQL = """
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS cus FROM events
      WHERE event_type = 'click'),
    p AS (
      SELECT user_id, epoch_us(ts) AS pus FROM events
      WHERE event_type = 'purchase'),
    wm AS (
      SELECT (least((SELECT max(cus) FROM c), (SELECT max(pus) FROM p))
              // 1000 - 3600000) * 1000 AS wm_us),
    m AS (
      SELECT c.user_id, c.cus, p.pus
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.pus >= c.cus AND p.pus <= c.cus + 600000000),
    um AS (
      SELECT c.user_id, c.cus, CAST(NULL AS BIGINT) AS pus
      FROM c, wm
      WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.pus >= c.cus AND p.pus <= c.cus + 600000000)
        AND c.cus + 600000000 < wm_us)
    SELECT user_id, cus AS click_us, pus AS purchase_us FROM m
    UNION ALL
    SELECT user_id, cus AS click_us, pus AS purchase_us FROM um"""

  /** Trigger.AvailableNow — the modern batch-drain contract (the
    * replacement for the deprecated Trigger.Once that SPARK-36533 added
    * precisely because Once ignored rate limits): the query drains
    * everything that exists at start, RESPECTING maxFilesPerTrigger (4
    * staged files → 4 micro-batches, each checkpointed), then terminates
    * itself — the shape a scheduled incremental job runs nightly. The
    * gate awaits self-termination rather than calling
    * processAllAvailable, so the stop semantics themselves are under
    * test; complete-mode snapshot vs the batch oracle proves the drain
    * lost nothing.
    */
  def availableNowDrain(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_avnow_stage_$inv")
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(graft.rel.Q.tsBucket(col("ts"), 300000000L).as("bucket"),
        col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("qv"))
    ev.repartition(4).write.mode("overwrite").parquet(stageDir)
    val qn = "st_avnow_sink_" + inv
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n"), sum("qv").as("sum_qv"))
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName(qn).start())
    try {
      val done = query.awaitTermination(300000)
      require(done, "AvailableNow query did not self-terminate")
    } finally if (query.isActive) query.stop()
    s.table(qn)
  }

  /** Checkpoint recovery, end to end — the exactly-once guarantee a
    * production stream actually relies on: the SAME checkpoint drives TWO
    * query incarnations over a growing source directory. Incarnation 1
    * (Trigger.AvailableNow) drains the first half of the events into a
    * parquet FILE SINK and terminates; more files then land in the source
    * dir, and incarnation 2 — same checkpoint, same sink — resumes from
    * the recorded offsets and processes ONLY the new files, with the file
    * sink's _spark_metadata commit log keeping the output transactional
    * across the restart. The final batch read of the sink (which honors
    * the commit log) aggregates to exactly the full relation: a broken
    * offset log would double the first half, a broken sink log would
    * expose uncommitted files — either flips the hash.
    */
  def checkpointResume(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_ckpt_stage_$inv")
    val ckptDir = graft.TempDirs.create(s"graft_ckpt_log_$inv")
    val sinkDir = graft.TempDirs.create(s"graft_ckpt_sink_$inv")
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), graft.rel.Q.tsMicros(col("ts")).as("us"),
        col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("qv"))
    def landInto(df: DataFrame): Unit = {
      // stage through a scratch dir, then move the part files in — a new
      // write into a dir an active source has SEEN must add files, never
      // rewrite them (part names carry the job UUID, so no collisions)
      val tmp = graft.TempDirs.create(s"graft_ckpt_tmp_${inv}_" +
        sinkCounter.incrementAndGet())
      df.repartition(3).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(s"$stageDir/${f.getName}").toPath)
        }
    }
    def drain(): Unit = {
      val q = StateSizing.startSized(s)(
        s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(stageDir)
          .writeStream.format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start())
      try require(q.awaitTermination(300000), "drain did not self-terminate")
      finally if (q.isActive) q.stop()
    }
    landInto(ev.filter(col("event_id") % 2 === 0))
    drain() // incarnation 1: first half, checkpoint written
    landInto(ev.filter(col("event_id") % 2 =!= 0))
    drain() // incarnation 2: SAME checkpoint resumes, new files only
    s.read.parquet(sinkDir)
      .withColumn("bucket", expr("us div 300000000"))
      .groupBy("bucket", "event_type")
      .agg(count(lit(1)).as("n"), sum("qv").as("sum_qv"))
  }

  /** CHAINED stateful operators — the multi-stateful-pipeline support
    * SPARK-42376 added: dropDuplicatesWithinWatermark feeding an
    * event-time windowed aggregation inside ONE append-mode query (one
    * watermark declaration serves both operators, correctly propagated
    * between them). The feed is delivered twice (exact redelivery in a
    * second micro-batch); the 360-hour horizon is sized so every
    * duplicate id is still in dedup state when the redelivery arrives
    * (state for id expires at et + horizon < watermark = max − horizon,
    * i.e. only ids older than max − 2·horizon could leak — none, since
    * the horizon is half the 30-day span). The aggregate then emits
    * exactly the hourly windows the final watermark closed, over the
    * relation exactly once — a dedup leak doubles counts, a watermark
    * propagation bug changes the emitted window set; either flips the
    * hash.
    */
  def chainedStateful(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val inv = sinkCounter.incrementAndGet()
    val stageDir = graft.TempDirs.create(s"graft_chain_stage_$inv")
    val ev = s.read.parquet(s"$d/events.parquet")
      .select(col("event_id"), graft.rel.Q.tsMicros(col("ts")).as("us"),
        col("event_type"))
    def put(name: String, mtime: Long): Unit = {
      val tmp = graft.TempDirs.create(s"graft_chain_tmp_${inv}_$name")
      ev.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(s"$stageDir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(mtime)
      ()
    }
    val base = System.currentTimeMillis()
    put("f1_feed", base - 200000)
    put("f2_redelivery", base - 100000)
    val qn = "st_chain_sink_" + inv
    val stream = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
      .withColumn("et", expr("timestamp_micros(us)"))
      .withWatermark("et", "360 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("et"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(window.start) div 3600000000").as("hour"),
        col("event_type"), col("n"))
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("append").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally query.stop()
    s.table(qn)
  }

  /** Stream-static SCD2 point-in-time lookup — event-time-correct
    * dimension enrichment on a stream: each purchase event joins the
    * version of its user's SCD2 state that was valid AT the event's
    * timestamp (range predicate on [valid_from, valid_to), open tail as
    * −1). Stream-static joins run stateless and watermark-free — the
    * static dimension is (re)planned per micro-batch, the stream side
    * never buffers — which is exactly the production shape for slowly-
    * changing enrichment at 100 TB/day: the dim is broadcast or
    * key-partitioned by the optimizer, and the range predicate rides as
    * residual on the user-key equi-join. The SCD2 intervals partition
    * each user's timeline, so every event matches exactly one version;
    * the batch oracle replays the same join.
    */
  def scdLookup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val qn = "st_scd_sink_" + sinkCounter.incrementAndGet()
    val dim = graft.rel.CurationOps.scd2(s, d)
      .select(col("user_id").as("du"), col("version"),
        col("event_type").as("state"), col("valid_from"), col("valid_to"))
    // the SCD2 interval build (a windowed pass over events) would rerun
    // in every micro-batch's incremental plan; persist the static dim so
    // triggers re-broadcast cached versions
    dim.persist()
    dim.count()
    val schema = s.read.parquet(s"$d/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      // probe side: an un-timestamped purchase cannot address an interval
      .filter(col("event_type") === "purchase" && col("ts").isNotNull)
      .select(col("user_id"), graft.rel.Q.tsMillis(col("ts")).as("ts_ms"),
        col("event_id"))
      .join(dim,
        col("user_id") === col("du") &&
          col("ts_ms") >= col("valid_from") &&
          (col("valid_to") === -1L || col("ts_ms") < col("valid_to")))
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("version"), col("state"))
    val query = StateSizing.startSized(s)(stream.writeStream
      .outputMode("append").format("memory").queryName(qn).start())
    try query.processAllAvailable()
    finally {
      query.stop()
      dim.unpersist(blocking = false)
    }
    s.table(qn)
  }

  private val SCD_LOOKUP_SQL = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
      FROM events WHERE ts IS NOT NULL),
    flagged AS (
      SELECT user_id, event_type, ts_ms, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS chg
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
    versioned AS (
      SELECT user_id, event_type, ts_ms,
             CAST(sum(chg) OVER (PARTITION BY user_id
                                 ORDER BY ts_ms, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS version
      FROM flagged),
    runs AS (
      SELECT user_id, version, min(event_type) AS state,
             min(ts_ms) AS valid_from
      FROM versioned GROUP BY user_id, version),
    dim AS (
      SELECT user_id AS du, version, state, valid_from,
             coalesce(lead(valid_from) OVER (PARTITION BY user_id
                                             ORDER BY version),
                      -1) AS valid_to
      FROM runs),
    p AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL)
    SELECT p.user_id, p.event_id, p.ts_ms, dim.version, dim.state
    FROM p JOIN dim
      ON p.user_id = dim.du AND p.ts_ms >= dim.valid_from
     AND (dim.valid_to = -1 OR p.ts_ms < dim.valid_to)"""

  def all: Seq[graft.rel.Q] = Seq(
    graft.rel.Q("st_scd_lookup", scdLookup, Some(SCD_LOOKUP_SQL)),
    graft.rel.Q("st_chained_stateful", chainedStateful, Some("""
      WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
      wm AS (
        SELECT ((max(us) // 1000) - 1296000000) * 1000 AS wm_us FROM e),
      w AS (
        SELECT us // 3600000000 AS hour, event_type, count(*) AS n
        FROM e GROUP BY 1, 2)
      SELECT hour, event_type, n FROM w, wm
      WHERE (hour + 1) * 3600000000 < wm_us""")),
    graft.rel.Q("st_checkpoint_resume", checkpointResume, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_qv
      FROM events GROUP BY 1, 2""")),
    graft.rel.Q("st_available_now", availableNowDrain, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_qv
      FROM events GROUP BY 1, 2""")),
    graft.rel.Q("st_late_data", lateData, Some(LATE_SQL)),
    graft.rel.Q("st_sk_hll", hllStream, Some(graft.rel.SketchRel.HLL_SQL)),
    graft.rel.Q("st_dedup_within_wm", dedupWithinWatermark, Some("""
      SELECT event_id, epoch_us(ts) AS us, event_type,
             CAST(round(value * 1000000) AS BIGINT) AS qv
      FROM events""")),
    graft.rel.Q("st_outer_join", streamOuterJoin, Some(OUTER_JOIN_SQL)),
    graft.rel.Q("st_session_window", sessionWindow, Some(SESSION_WINDOW_SQL)),
    graft.rel.Q("st_session_dynamic", sessionWindowDynamic,
      Some(SESSION_DYN_SQL)),
    graft.rel.Q("st_sk_ddsketch", ddsketchStream,
      Some(graft.rel.SketchRel.DDSKETCH_SQL)),
    graft.rel.Q("st_ivm_merge", ivmMergeStream, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_qv,
             min(CAST(round(value * 1000000) AS BIGINT)) AS min_qv,
             max(CAST(round(value * 1000000) AS BIGINT)) AS max_qv
      FROM events GROUP BY 1, 2""")),
    graft.rel.Q("st_dd_minhash", streamMinhash, Some(MINHASH_STREAM_SQL)),
    graft.rel.Q("st_vec_assign", vecAssign, Some(VEC_ASSIGN_SQL)),
    graft.rel.Q("st_tx_chunk", chunkStream, Some(graft.rel.RagOps.CHUNK_SQL)),
    graft.rel.Q("st_tx_sample", weightedSampleStream,
      Some(graft.rel.SelectOps.WEIGHTED_SAMPLE_SQL)),
    graft.rel.Q("st_tx_decontam", streamDecontam, Some("""
      WITH g8 AS (
        SELECT doc_id, unnest(list_transform(
                 range(1, greatest(len(words) - 3, 0) + 1),
                 i -> array_to_string(words[i : i + 3], ' '))) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
      gd AS (SELECT DISTINCT doc_id, g FROM g8),
      ev AS (SELECT doc_id AS eval_id, g FROM gd WHERE eval_id % 100 = 0),
      tr AS (SELECT doc_id, g FROM gd WHERE doc_id % 100 != 0)
      SELECT t.doc_id, e.eval_id, count(*) AS n_shared
      FROM tr t JOIN ev e ON t.g = e.g
      GROUP BY t.doc_id, e.eval_id""")),
    graft.rel.Q("st_px_zarr_read", zarrStreamRead,
      Some(graft.rel.RelabelRel.PIXELS_SQL + """
      SELECT gy, gx, count(*) AS n_px, CAST(sum(label) AS BIGINT) AS sum_label
      FROM lab GROUP BY gy, gx""")),
    graft.rel.Q("st_px_zarr_shard_read", zarrShardStreamRead,
      Some(graft.rel.RelabelRel.PIXELS_SQL + """
      SELECT gy, gx, count(*) AS n_px, CAST(sum(label) AS BIGINT) AS sum_label
      FROM lab GROUP BY gy, gx""")),
    graft.rel.Q("st_px_zarr_write", zarrStreamWrite,
      Some(graft.rel.RelabelRel.PIXELS_SQL + """
      SELECT gy, gx, count(*) AS n_px, CAST(sum(label) AS BIGINT) AS sum_label
      FROM lab GROUP BY gy, gx""")),
    graft.rel.Q("st_px_zarr_sink", zarrStreamWriteNative,
      Some(graft.rel.RelabelRel.PIXELS_SQL + """
      SELECT gy, gx, count(*) AS n_px, CAST(sum(label) AS BIGINT) AS sum_label
      FROM lab GROUP BY gy, gx""")),
    graft.rel.Q("st_upsert_snapshot", upsertSnapshot, Some("""
      SELECT user_id, us, event_type, value FROM (
        SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id, event_type,
               value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_ns(ts) // 1000 DESC,
                                           event_id DESC) AS rn
        FROM events) WHERE rn = 1""")),
    graft.rel.Q("st_stream_join", streamJoin, Some("""
      WITH a AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS click_us
        FROM events WHERE event_type = 'click'),
      b AS (
        SELECT user_id AS p_user, epoch_ns(ts) // 1000 AS purchase_us
        FROM events WHERE event_type = 'purchase')
      SELECT user_id, click_us, purchase_us
      FROM a JOIN b ON user_id = p_user
        AND purchase_us >= click_us
        AND purchase_us <= click_us + 600000000""")),
    graft.rel.Q("st_running_state", runningState, Some("""
      SELECT user_id,
             CAST(max(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS max_micros,
             count(*) AS n_events
      FROM events GROUP BY user_id""")),
    graft.rel.Q("st_tws_distinct", twsDistinctTypes, Some("""
      SELECT user_id, count(DISTINCT event_type) AS n_types,
             count(*) AS n_events
      FROM events GROUP BY user_id""")),
    graft.rel.Q("st_sessionize", sessionize, Some(SESSIONIZE_SQL)),
    graft.rel.Q("st_ab_cells", abCells, Some("""
      WITH uk AS (
        SELECT DISTINCT user_id, 'all' AS kind FROM events
        UNION
        SELECT DISTINCT user_id, 'conv' AS kind FROM events
        WHERE event_type = 'purchase' AND value >= 150.0)
      SELECT user_id % 3 AS arm, kind, count(*) AS n_users
      FROM uk GROUP BY 1, 2""")),
    graft.rel.Q("st_stream_dedup", streamDedup, Some("""
      SELECT event_type, count(*) AS n_users
      FROM (SELECT DISTINCT user_id, event_type FROM events)
      GROUP BY event_type""")))
}
