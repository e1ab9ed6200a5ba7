package graft.sources.zarr

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

import graft.sources.{StoreIO, ZarrLayout}

/** Offset = how many discovery entries the source has logged. Batch
  * (start, end] replays the chunk sets of entries start+1..end.
  */
final case class ZarrSourceOffset(seq: Long) extends Offset {
  override def json: String = seq.toString
}

/** Micro-batch streaming source over a GROWING zarr store: each trigger
  * lists the store, and chunk objects not seen before become the next
  * micro-batch — the streaming twin of the zarr sink's append contract
  * (writers add whole chunk objects; committed chunks are immutable).
  * Together they form an end-to-end incremental tile feed: a producer
  * appends chunk regions per commit, a downstream streaming query picks
  * each region up exactly once.
  *
  * Determinism over retries is carried by a per-batch DISCOVERY LOG under
  * the query checkpoint (`zarr-chunk-log/<seq>`, one chunk loc per line,
  * staged + renamed so a crash never leaves a readable partial entry): a
  * restarted query replays exactly the chunk sets it logged, never the
  * store's current listing, so chunks landing during downtime batch up
  * AFTER the replayed prefix. `commit` needs no action: the log is the
  * durable state, and entries stay replayable until the checkpoint is
  * retired with the query.
  *
  * `maxChunksPerTrigger` (source option) caps each batch's chunk count —
  * the backfill throttle: pointing the source at a store with a million
  * existing chunks ingests in bounded slices instead of one giant batch.
  * At scale the per-trigger cost is one store LISTING (same as the batch
  * planner; the object count, not the data volume) plus reads of only the
  * fresh chunks.
  *
  * SHARDED stores stream at shard granularity, under the WRITE-ONCE-SHARD
  * contract: producers append whole shard objects and never rewrite one
  * (the `writeSharded`/pack-at-commit producers in this library do exactly
  * that — each shard is assembled once from all of its inner chunks). A
  * discovered shard object is served as its inner chunks (absent inners
  * read as nothing, same as the batch scan); an in-place rewrite that adds
  * inners to an ALREADY-SERVED shard is outside the contract and will not
  * be re-served, which is why the unit of discovery is the unit of
  * append-only-ness. `maxChunksPerTrigger` caps discovered SHARDS here —
  * the per-trigger read volume it bounds is shard-sized either way.
  */
final class ZarrMicroBatchStream(dir: String, layout: ZarrLayout,
    box: ZarrLayout.Bounds, required: StructType, checkpointLocation: String,
    maxChunksPerTrigger: Int) extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  // the layout is immutable for the store's life — growth adds objects,
  // never re-shapes — so the table's one copy serves every trigger
  private val conf = StoreIO.hadoopConf
  private val logDir = new Path(checkpointLocation, "zarr-chunk-log").toString

  /** Chunk sets by discovery entry, index = seq - 1; rebuilt on restart. */
  private val entries =
    scala.collection.mutable.ArrayBuffer.empty[Array[Array[Int]]]
  private val seen = scala.collection.mutable.HashSet.empty[String]

  StoreIO.mkdirs(conf, logDir)
  replayLog()

  private def keyOf(loc: Array[Int]): String = loc.mkString(",")

  private def replayLog(): Unit =
    StoreIO.list(conf, logDir)
      .flatMap(f => f.getPath.getName.toLongOption.map(_ -> f.getPath))
      .sortBy(_._1)
      .foreach { case (seq, p) =>
        // a gap would silently drop a logged batch's chunks on replay
        require(seq == entries.length + 1L,
          s"zarr source log $logDir is not contiguous: expected entry " +
            s"${entries.length + 1}, found $seq")
        val locs = new String(StoreIO.readAllBytes(conf, p.toString),
          StandardCharsets.UTF_8)
          .split("\n").iterator.filter(_.nonEmpty)
          .map(_.split(",").map(_.toInt)).toArray
        entries += locs
        locs.foreach(l => seen += keyOf(l))
      }

  /** Discovery-time pruning, with the batch planner's semantics: a listed
    * object enters the log only if it can serve a chunk surviving the
    * pushed grid bounds — for a shard object, if ANY covered inner does.
    */
  private def objectSurvives(obj: Array[Int]): Boolean =
    layout.tilesOf(obj).exists(box.survives)

  override def initialOffset(): Offset = ZarrSourceOffset(0)

  /** Fresh surviving objects, in the stable discovery order (the listing
    * order is filesystem-dependent; sorting keeps the capped prefix — and
    * so the whole log — deterministic across hosts).
    */
  private def listFresh(): Seq[Array[Int]] =
    layout.listChunkLocs(dir)
      .filter(l => objectSurvives(l) && !seen.contains(keyOf(l)))
      .sortBy(keyOf)

  /** `Trigger.AvailableNow` snapshot: the objects present at query start;
    * later arrivals are left for the next run. Null outside AvailableNow.
    */
  @volatile private var prepared: Seq[Array[Int]] = null

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    prepared = listFresh()
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset = advance()

  /** Admission control: the slice size is governed by the source's own
    * `maxChunksPerTrigger` option (the caller-facing knob), so the passed
    * ReadLimit — always allAvailable from getDefaultReadLimit — is not
    * consulted.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = advance()

  private def advance(): Offset = synchronized {
    val fresh =
      if (prepared != null) prepared.filterNot(l => seen.contains(keyOf(l)))
      else listFresh()
    val batch =
      if (maxChunksPerTrigger > 0) fresh.take(maxChunksPerTrigger) else fresh
    if (batch.nonEmpty) {
      val seq = entries.length + 1L
      val body = batch.map(keyOf).mkString("\n").getBytes(StandardCharsets.UTF_8)
      val tmp = new Path(logDir, s"$seq.tmp")
      StoreIO.write(conf, tmp.toString, body)
      StoreIO.moveInto(conf, tmp, new Path(logDir), seq.toString)
      entries += batch.toArray
      batch.foreach(l => seen += keyOf(l))
    }
    ZarrSourceOffset(entries.length.toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[ZarrSourceOffset].seq
    val e0 = end.asInstanceOf[ZarrSourceOffset].seq
    val objects = (s0 + 1 to e0).flatMap(i => entries((i - 1).toInt))
    // the log holds object locs; partitions are their surviving tiles (a
    // shard's inner chunks; expansion is pure, so replay stays
    // deterministic)
    objects.flatMap(layout.tilesOf).filter(box.survives)
      .map(loc => ZarrInputPartition(loc): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ZarrReaderFactory(dir, layout, required.fieldNames,
      StoreIO.broadcastConf(SparkSession.active),
      vectorized = false)

  override def deserializeOffset(json: String): Offset =
    ZarrSourceOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
