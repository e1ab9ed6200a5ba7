package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Kernels
import graft.ops.{Halo, SegmentationFn}
import graft.tiles.Tile

/** Incremental tile ingestion: the image2labels front half (halo expand →
  * segment → remove) over a STREAM of tiles arriving in any order across
  * any number of microbatches — the "process chunks as the scanner lands
  * them" mode the batch reference has no counterpart for.
  *
  * The batch halo exchange is a flatMap-to-shards + one shuffle placed by
  * linear chunk index ([[graft.ops.Halo.expand]]). Streaming keeps that
  * dataflow, groups the shards by `destLin`, and
  * swaps the reassembly for `flatMapGroupsWithState`: each receiver
  * location buffers the shards that have arrived; when the count reaches
  * its expected neighborhood size (1 + in-grid neighbors — static grid
  * geometry, not data-dependent), it assembles the overlapped tile, runs
  * the tile-local segment+remove kernels, EMITS, and clears its state.
  * State is one neighborhood's shards per in-flight receiver and shrinks to an O(1)
  * tombstone once a neighborhood completes — the streaming analog of the
  * batch shuffle buffer, holding the same shards (each tile's own payload
  * plus its margins).
  * Duplicate deliveries (at-least-once sources) are absorbed twice over:
  * pending shards dedup on the sender's relative direction, and the
  * tombstone makes emission exactly-once even when a whole neighborhood is
  * redelivered after completing.
  */
object StreamingTiles {

  /** Per-receiver state: `_1` = already emitted (an O(1) tombstone so
    * at-least-once redelivery after completion cannot re-assemble and
    * double-emit); `_2` = shards buffered so far, deduped by the sender's
    * relative direction.
    */
  private type ShardState = (Boolean, List[Halo.Shard])

  /** Default tombstone retention. An endless scanner feed would otherwise
    * accrete O(chunks) tombstones; expiring them bounds state at
    * O(chunks arriving within one TTL window). The trade-off is explicit:
    * exactly-once suppression of redeliveries holds WITHIN the TTL — a
    * whole neighborhood redelivered later than the TTL re-emits. Size the
    * TTL to the source's maximum redelivery lag (30 min default covers
    * typical at-least-once buses; batch-style replays should re-run the
    * query instead).
    *
    * Pending (incomplete) buffers get a 10x LONGER timeout rather than
    * none — merely-late tiles re-arm it, so they are not lost — because a
    * neighborhood partially redelivered after its tombstone expired
    * would otherwise buffer pixel shards forever waiting for neighbors that
    * will never re-arrive — unbounded state strictly worse than the
    * tombstones the TTL bounds. Every new shard re-arms the pending clock,
    * so only genuinely abandoned buffers are dropped.
    *
    * Mechanism: EventTimeTimeout against an INGEST-TIME watermark (each
    * stage stamps shards with the microbatch's `current_timestamp` and
    * declares a 0-delay watermark on it), so expiry is driven by data
    * progress and costs nothing on an idle stream. ProcessingTimeTimeout is
    * deliberately avoided: registered wall-clock timers make the microbatch
    * engine spin continuous empty batches (and `processAllAvailable` never
    * settles), which burns a core on an idle 1000-executor ingest job.
    */
  val DefaultTombstoneTtlMs: Long = 30L * 60 * 1000

  /** Pending buffers survive this multiple of the tombstone TTL. */
  val PendingTtlFactor: Long = 10L

  /** Stamp each shard with its microbatch ingest time and declare a 0-delay
    * watermark on it — the clock tombstone expiry runs against. The column
    * rides alongside the shard as a tuple; the stateful handler drops it.
    */
  private def withIngestWatermark(shards: Dataset[Halo.Shard])
      : Dataset[(Halo.Shard, java.sql.Timestamp)] = {
    val spark = shards.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, current_timestamp, struct}
    shards
      .select(struct(col("*")).as("_1"), current_timestamp().as("_2"))
      .withWatermark("_2", "0 seconds")
      .as[(Halo.Shard, java.sql.Timestamp)]
  }

  /** Timeout deadline: TTL past the later of the current watermark and the
    * executor wall clock. Anchoring on the watermark alone would put
    * first-batch deadlines near the epoch (watermark starts at 0); the wall
    * clock alone could fall AT or BELOW the watermark on an executor whose
    * clock lags the driver's batch timestamps by more than the TTL — and
    * `setTimeoutTimestamp` throws (killing the query) when handed a
    * deadline not strictly ahead of the watermark. The max of both is safe
    * against each failure mode.
    */
  private def deadline(state: GroupState[ShardState], ttlMs: Long): Long =
    math.max(state.getCurrentWatermarkMs(), System.currentTimeMillis()) + ttlMs

  /** Run `body` (which starts and fully drains a streaming query) with the
    * global-watermark correctness heuristic disabled, restoring the prior
    * setting after. Chaining both stateful stages in one query trips the
    * pattern check ("stateful operator below a watermark"), but the flagged
    * hazard — a stateful stage emitting rows that are LATE against the
    * downstream watermark — cannot occur here: each stage re-stamps its
    * shards with the CURRENT microbatch's ingest time, which is always ahead
    * of the min-policy global watermark (derived from earlier batches of the
    * same clocks), so no row is ever dropped as late.
    */
  def withChainedStatefulAllowed[T](spark: org.apache.spark.sql.SparkSession)
      (body: => T): T = chainedStatefulLock.synchronized {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The override mutates the SESSION conf, so it is visible to any other
    * streaming query started on the same session while `body` runs — callers
    * must start only their own chained query inside `body` (all in-repo
    * callers do). The JVM-wide lock serializes overlapping invocations so
    * the save/restore pair cannot race and leave the correctness check
    * permanently disabled. (Scoping via `newSession` is not viable here:
    * the flag is read from the conf of the session the DATASETS were built
    * against — e.g. a spec's `MemoryStream` — not the one starting the
    * query.)
    */
  private val chainedStatefulLock = new Object

  /** The merge exchange as a second stateful stage, chained after
    * [[expandSegmentRemoveStream]]: removed tiles flatMap into the SAME
    * parity-pruned merge shards as [[graft.ops.Halo.mergeAndTrim]] (each
    * clipped to its receiver's core), each receiver buffers until its
    * (static) expected contribution count is reached, then paints its core
    * and emits. With both stages in one append-mode query the WHOLE
    * image2labels chain runs incrementally. Pending shards a checkpoint
    * holds in the full-extent shapes of earlier versions assemble by the
    * same rule ([[graft.ops.Halo.assembleMerged]]).
    */
  def mergeStream(removed: Dataset[Tile], overlaps: Array[Int],
                  tombstoneTtlMs: Long = DefaultTombstoneTtlMs): Dataset[Tile] = {
    val spark = removed.sparkSession
    import spark.implicits._
    val dims = overlaps.length
    val dirs = Halo.directions(dims)
    val ov = overlaps.clone()
    collectNeighborhoods(
      removed.flatMap(t => Halo.mergeShardsOf(t, ov)),
      tombstoneTtlMs)(
      // contributions this receiver will get: itself plus every in-grid
      // sender whose parity rule ships toward it
      (loc, grid) => 1 + dirs.count { d =>
        val sender = Array.tabulate(dims)(a => loc(a) + d(a))
        Halo.inGrid(loc, d, grid) && Halo.receiverWillMerge(sender, d.map(-_))
      },
      (lin, shards) => Halo.assembleMerged(lin, shards, ov))
  }

  def expandSegmentRemoveStream(
      tiles: Dataset[Tile],
      overlaps: Array[Int],
      segFn: SegmentationFn,
      threshold: Double,
      tombstoneTtlMs: Long = DefaultTombstoneTtlMs): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val dirs = Halo.directions(overlaps.length)
    val ov = overlaps.clone()
    collectNeighborhoods(
      tiles.flatMap(t => Halo.shardsOf(t, ov, (_, _) => true)),
      tombstoneTtlMs)(
      (loc, grid) => 1 + dirs.count(d => Halo.inGrid(loc, d, grid)),
      (lin, shards) => {
        val expanded = Halo.assembleExpanded(lin, None, shards, ov)
        val (labels, classes) = segFn.segment(expanded)
        val segmented = expanded.copy(data = labels, classes = classes)
        Kernels.removeOverlapped(segmented, ov, threshold)
      })
  }

  /** The stateful receiver both stages share: buffer each receiver's
    * shards, deduped on the sender's relative direction `rd`, until
    * `expected(loc, grid)` have arrived; then emit `complete(lin, shards)`
    * once and keep a tombstone for `tombstoneTtlMs`.
    */
  private def collectNeighborhoods(shards: Dataset[Halo.Shard],
      tombstoneTtlMs: Long)(
      expected: (Array[Int], Array[Int]) => Int,
      complete: (Long, Array[Halo.Shard]) => Tile): Dataset[Tile] = {
    val spark = shards.sparkSession
    import spark.implicits._
    withIngestWatermark(shards)
      .groupByKey(_._1.destLin)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (lin: Long, rows: Iterator[(Halo.Shard, java.sql.Timestamp)],
         state: GroupState[ShardState]) => {
          val it = rows.map(_._1)
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (done, have) = state.getOption.getOrElse((false, Nil))
            if (done) {
              // Spark clears the timeout on every invocation: re-arm it so a
              // redelivered neighborhood extends the tombstone's life
              state.setTimeoutTimestamp(deadline(state, tombstoneTtlMs))
              Iterator.empty
            } else {
              val merged = (have ++ it)
                .groupBy(_.rd.toSeq).map(_._2.head).toList // at-least-once dedup
              if (merged.size >= expected(merged.head.destLoc, merged.head.grid)) {
                // tombstone: emit exactly once (within the TTL window)
                state.update((true, Nil))
                state.setTimeoutTimestamp(deadline(state, tombstoneTtlMs))
                Iterator.single(complete(lin, merged.toArray))
              } else {
                // pending buffers survive 10x the tombstone TTL (re-armed on
                // every shard): abandoned post-expiry partial redeliveries
                // must not hold pixel state forever
                state.update((false, merged))
                state.setTimeoutTimestamp(
                  deadline(state, tombstoneTtlMs * PendingTtlFactor))
                Iterator.empty
              }
            }
          }
        })
  }
}
