package graft.sources.zarr

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{StoreIO, Zarr3IO, ZarrIO, ZarrLayout}
import graft.sources.ZarrLayout.Bounds

/** DataSource V2 for zarr stores (v2, v3 and sharded v3):
  * `spark.read.format("zarr").load(dir)`. Every store-layout fact (keys,
  * listing, tile extents, pushed-bounds test, shard-index entries) comes
  * from the store's [[ZarrLayout]], built once per table.
  *
  * Schema for a d-dimensional store: grid coordinates `g0..g{d-1}`, in-chunk
  * coordinates `p0..p{d-1}`, and `value` — all BIGINT. Two pushdowns make it
  * scale-shaped ([[ZarrIO]]'s docstring scenario: a 100 TB store on object
  * storage, a query wanting one region):
  *
  *  - **Filter pushdown** (`SupportsPushDownFilters`): comparisons on the
  *    `g*` columns become chunk-box bounds — pruned chunks are never listed
  *    as partitions, so their files are never opened. Consumed filters are
  *    reported back as fully handled (no residual row filter).
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): when `value`
  *    is not projected, the reader emits coordinate rows from shape math
  *    alone and SKIPS the payload read + decompress entirely — a
  *    `count(*)` over a region performs zero chunk I/O.
  *
  * Cited layout semantics: reference `relabeling.py` reads zarr arrays via
  * dask; this source re-expresses the same store as a pruned relational
  * scan.
  */
class ZarrTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "zarr"

  private def path(options: util.Map[String, String]): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "zarr source requires a path")
    p
  }

  // Spark builds one provider per load/save and asks it for the schema,
  // then the table: both come from this one table, so the store metadata
  // is read once per query
  private var table: ZarrTable = _

  private def tableFor(options: util.Map[String, String]): ZarrTable = {
    val p = path(options)
    if (table == null || table.dir != p)
      table =
        if (ZarrLayout.exists(p)) new ZarrTable(p, ZarrLayout.of(p))
        else {
          // a write to a fresh store: dims come from the mandatory option
          val sh = options.get("shape")
          require(sh != null,
            s"no store at $p and no 'shape' option — nothing to infer from")
          new ZarrTable(p, None, sh.split(",").length)
        }
    table
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = tableFor(properties)
}

object ZarrTableProvider {

  def schemaFor(dims: Int): StructType = StructType(
    (0 until dims).map(a => StructField(s"g$a", LongType, nullable = false)) ++
      (0 until dims).map(a => StructField(s"p$a", LongType, nullable = false)) :+
      StructField("value", LongType, nullable = false))

  /** Payload reads performed by readers in this JVM — lets the column-
    * pruning spec assert that a coordinates-only scan opens no chunk file
    * (meaningful in local mode, where executors share the JVM).
    */
  val payloadReads = new java.util.concurrent.atomic.AtomicLong(0)
}

/** `dir` is public so plan-walking code (e.g. the scope resolution behind
  * [[graft.plans.HilbertBoxCover]], via `Bridge.fileScanLeafInfo`) can
  * treat a zarr relation as a file-store leaf with a root path — a query
  * mixing a path-scoped parquet layout with a zarr scan must see the zarr
  * root as a FOREIGN store and decline, not overlook it.
  *
  * `store` is the layout of the store at `dir`, or None before a write to a
  * fresh directory, whose `dims` come from the write's `shape` option.
  */
final class ZarrTable(val dir: String, store: Option[ZarrLayout], dims: Int)
    extends Table with SupportsRead with SupportsWrite {
  def this(dir: String, layout: ZarrLayout) =
    this(dir, Some(layout), layout.dims)
  override def name(): String = s"zarr:$dir"
  override def schema(): StructType = ZarrTableProvider.schemaFor(dims)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(dir, store.getOrElse(ZarrLayout.of(dir)),
      options.getBoolean("vectorized", true),
      options.getInt("maxChunksPerTrigger", 0),
      options.getBoolean("assumeComplete", false))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ZarrWriteBuilder(dir, info, store)
}

final class ZarrScanBuilder(dir: String, layout: ZarrLayout,
    vectorized: Boolean,
    maxChunksPerTrigger: Int = 0,
    assumeComplete: Boolean = false) extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  /** Limit pushdown: a LIMIT n scan plans only enough chunks to cover n
    * rows (cells-per-chunk is metadata) — `df.limit(10)` on a 100 TB
    * store opens at most one chunk file. Partial: Spark still applies the
    * exact limit on top; the scan just stops planning partitions early.
    * On a SHARDED store presence lives in the per-shard indexes, so the
    * planner walks shards in listing order reading each index (one tiny
    * ranged read, cached) and plans only PRESENT inner chunks until their
    * exact cells cover the limit — cost bounded by the limit, not the
    * store.
    */
  private var limit: Int = -1
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed: Boolean = true

  private val dims = layout.dims
  // chunk-box bounds per grid axis, tightened by pushed filters
  private val box = Bounds.all(layout.grid)
  private val lo = box.lo
  private val hi = box.hi
  private val allowed = box.allowed
  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = ZarrTableProvider.schemaFor(dims)

  private def axisOf(att: String): Option[Int] = GAxis.unapply(att, dims)
  private def asLong(v: Any): Option[Long] = GAxis.long(v)

  /** Tighten bounds for one comparison; true when fully consumed.
    * Strict bounds use saturating +-1: at the Long extremes the predicate
    * is unsatisfiable and the box empties rather than wrapping around
    * (x + 1 overflowing to Long.MinValue would DROP the filter's effect
    * while still reporting it consumed — every row would come back).
    */
  private def consume(f: Filter): Boolean = f match {
    case EqualTo(att, v) => (axisOf(att), asLong(v)) match {
      case (Some(a), Some(x)) =>
        lo(a) = math.max(lo(a), x); hi(a) = math.min(hi(a), x); true
      case _ => false
    }
    case GreaterThan(att, v) => (axisOf(att), asLong(v)) match {
      case (Some(a), Some(x)) =>
        if (x == Long.MaxValue) { lo(a) = 1; hi(a) = 0 } // empty box
        else lo(a) = math.max(lo(a), x + 1)
        true
      case _ => false
    }
    case GreaterThanOrEqual(att, v) => (axisOf(att), asLong(v)) match {
      case (Some(a), Some(x)) => lo(a) = math.max(lo(a), x); true
      case _ => false
    }
    case LessThan(att, v) => (axisOf(att), asLong(v)) match {
      case (Some(a), Some(x)) =>
        if (x == Long.MinValue) { lo(a) = 1; hi(a) = 0 } // empty box
        else hi(a) = math.min(hi(a), x - 1)
        true
      case _ => false
    }
    case LessThanOrEqual(att, v) => (axisOf(att), asLong(v)) match {
      case (Some(a), Some(x)) => hi(a) = math.min(hi(a), x); true
      case _ => false
    }
    case In(att, values) => axisOf(att) match {
      case Some(a) =>
        val vs = values.flatMap(asLong)
        if (vs.length != values.length) false
        else {
          val set = vs.toSet
          allowed(a) = if (allowed(a) == null) set else allowed(a).intersect(set)
          true
        }
      case _ => false
    }
    case And(l, r) =>
      // consume both or neither (bounds only tighten, so a half-consumed
      // And would still be sound — but returning it as residual is simpler)
      val okL = consume(l); val okR = consume(r); okL && okR
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition(consume)
    accepted = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ------------------------------------------------- aggregate pushdown
  //
  // count/min/max over coordinates are pure CHUNK-LIST math: count(*) is
  // the sum of (edge-clipped) tile volumes of the surviving chunk box,
  // min/max of a grid coordinate come from the surviving locations, and
  // min/max of an in-chunk coordinate from the clipped tile shapes. A
  // `SELECT count(*)` over a 100 TB store — pruned or not — therefore
  // never opens a chunk file, never emits a row, and runs as one
  // metadata-only task. `value` aggregates need payload and are refused
  // (Spark falls back to the normal scan). Complete pushdown only: Spark
  // invokes it exactly when every filter was consumed by pushFilters, so
  // the chunk box IS the full predicate.
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}

  private var pushedAggSpecs: Seq[ZarrAgg] = null

  private def aggSpec(f: AggregateFunc): Option[ZarrAgg] = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
            if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    def pAxis(n: String): Option[Int] = n match {
      case _ if n.length > 1 && n.head == 'p' && n.tail.forall(_.isDigit) &&
        n.tail.toInt < dims => Some(n.tail.toInt)
      case _ => None
    }
    f match {
      case _: CountStar => Some(ZarrAgg.CountAll)
      // count of any of this source's columns: all are non-nullable, so
      // count(col) == count(*); distinct counts are not chunk-list math
      case c: Count if !c.isDistinct =>
        colOf(c.column).filter(n =>
          GAxis.unapply(n, dims).isDefined || pAxis(n).isDefined ||
            n == "value").map(_ => ZarrAgg.CountAll)
      case m: Min => colOf(m.column).flatMap { n =>
        GAxis.unapply(n, dims).map(a => ZarrAgg.MinG(a): ZarrAgg)
          .orElse(pAxis(n).map(a => ZarrAgg.MinP(a): ZarrAgg))
      } // min(value) needs payload -> None -> no pushdown
      case m: Max => colOf(m.column).flatMap { n =>
        GAxis.unapply(n, dims).map(a => ZarrAgg.MaxG(a): ZarrAgg)
          .orElse(pAxis(n).map(a => ZarrAgg.MaxP(a): ZarrAgg))
      }
      case _ => None
    }
  }

  private var pushedGroupBy: Seq[Int] = null

  /** Grouping is pushable when every group key is a grid column (distinct):
    * chunks sharing the keyed coordinates aggregate in plan-time metadata
    * math, any SUBSET of the grid axes included — `groupBy(g0).count()`
    * over a 100 TB store is still zero-I/O. In-chunk coordinates vary
    * within a chunk, so grouping on them falls back to the row scan.
    */
  private def groupAxes(aggregation: Aggregation): Option[Seq[Int]] = {
    val names = aggregation.groupByExpressions().toSeq.map {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    if (names.exists(_.isEmpty)) None
    else {
      val axes = names.map(n => GAxis.unapply(n.get, dims))
      if (axes.exists(_.isEmpty)) None
      else {
        val as = axes.map(_.get)
        if (as.distinct.length == as.length) Some(as) else None
      }
    }
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    groupAxes(aggregation).isDefined &&
      aggregation.aggregateExpressions().forall(aggSpec(_).isDefined)

  override def pushAggregation(aggregation: Aggregation): Boolean =
    if (!supportCompletePushDown(aggregation)) false
    else {
      pushedGroupBy = groupAxes(aggregation).get
      pushedAggSpecs =
        aggregation.aggregateExpressions().toSeq.map(aggSpec(_).get)
      true
    }

  override def build(): Scan =
    if (pushedAggSpecs != null)
      new ZarrAggScan(dir, layout, box.snapshot, pushedGroupBy, pushedAggSpecs,
        assumeComplete)
    else
      new ZarrScan(dir, layout, box.snapshot, required, vectorized, limit,
        maxChunksPerTrigger, assumeComplete)
}

/** The chunk-list aggregates the source can answer without payload I/O. */
private[zarr] sealed trait ZarrAgg extends Serializable
private[zarr] object ZarrAgg {
  case object CountAll extends ZarrAgg
  final case class MinG(a: Int) extends ZarrAgg
  final case class MaxG(a: Int) extends ZarrAgg
  final case class MinP(a: Int) extends ZarrAgg
  final case class MaxP(a: Int) extends ZarrAgg
}

/** Per-group running state of the pushed coordinate aggregates: cell
  * count, per-axis min/max surviving grid coordinate, and per-axis max
  * in-chunk coordinate (min is always 0 for a non-empty group). One such
  * partial per group per shard is what the distributed index scan moves —
  * bytes per group, never per chunk.
  */
private[zarr] final case class AggPartial(cells: Long, minLoc: Array[Long],
    maxLoc: Array[Long], maxP: Array[Long]) {
  def merge(o: AggPartial): AggPartial = AggPartial(
    cells + o.cells,
    Array.tabulate(minLoc.length)(a => math.min(minLoc(a), o.minLoc(a))),
    Array.tabulate(maxLoc.length)(a => math.max(maxLoc(a), o.maxLoc(a))),
    Array.tabulate(maxP.length)(a => math.max(maxP(a), o.maxP(a))))
}

/** Completely-pushed aggregate scan: the result rows are folded from the
  * present surviving tiles' extents alone, and the one task just emits
  * them. On an UNSHARDED store the fold runs at PLAN time over the (pruned)
  * listing — the same listing the row scan performs to plan partitions. On
  * a SHARDED store inner-chunk presence lives in the per-shard binary
  * indexes: up to [[DriverShards]] shards are folded on the driver, more by
  * one distributed metadata job over the shard listing, where each task
  * ranged-reads its shards' indexes (16 B per inner slot, cached), folds
  * them into per-group [[AggPartial]]s, and only the combined group rows
  * reach the driver. A coordinate-only `count()` over a 100 TB store thus
  * reads indexes at most, never chunk payloads, and never funnels
  * per-chunk metadata through the driver. An empty surviving box yields
  * count 0 and null extrema, matching the semantics of aggregating zero
  * rows.
  */
final class ZarrAggScan(dir: String, layout: ZarrLayout, box: Bounds,
    groupBy: Seq[Int], aggs: Seq[ZarrAgg], assumeComplete: Boolean = false)
    extends Scan with Batch with Serializable {

  override def readSchema(): StructType = StructType(
    groupBy.map(a => StructField(s"g$a", LongType, nullable = false)) ++
      aggs.zipWithIndex.map {
        case (ZarrAgg.CountAll, i) =>
          StructField(s"agg$i", LongType, nullable = false)
        case (_, i) => StructField(s"agg$i", LongType, nullable = true)
      })

  override def toBatch: Batch = this

  override def description(): String =
    s"ZarrAggScan groupBy=[${groupBy.map(a => s"g$a").mkString(", ")}] " +
      s"pushed=[${aggs.mkString(", ")}] bounds=" +
      box.lo.indices.map(a => s"g$a in [${box.lo(a)}, ${box.hi(a)}]").mkString(", ")

  /** Driver-side shard threshold: at or below it the indexes are read on
    * the driver (each read is one tiny ranged GET, cached) instead of
    * paying a job launch — the right trade for interactive queries over
    * small stores; above it the reads distribute.
    */
  private val DriverShards = 16

  /** Per-group partials from the present surviving tiles of the given
    * objects — runs on executors (distributed job) or on the driver, same
    * code either way.
    */
  private def partialsOf(objs: Iterator[Seq[Int]],
      conf: org.apache.hadoop.conf.Configuration,
      gb: Array[Int]): Iterator[(Seq[Long], AggPartial)] = {
    val acc = scala.collection.mutable.HashMap.empty[Seq[Long], AggPartial]
    objs.foreach { o =>
      val obj = o.toArray
      val kept = layout.tilesOf(obj).filter(box.survives)
      if (kept.nonEmpty) {
        val at = layout.locator(conf, dir, obj)
        kept.foreach { loc =>
          if (at(loc).isDefined) {
            val last = layout.tileShape(loc).map(_ - 1L)
            val p = AggPartial(layout.cells(loc), loc.map(_.toLong),
              loc.map(_.toLong), last)
            acc.updateWith(gb.map(loc(_).toLong).toSeq) {
              case Some(prev) => Some(prev.merge(p))
              case None => Some(p)
            }
          }
        }
      }
    }
    acc.iterator
  }

  /** The result rows; computed once — planInputPartitions can be invoked
    * several times while planning, and the sharded path may run a job.
    */
  private lazy val resultRows: Seq[Array[Any]] = {
    def fromPartial(p: Option[AggPartial]): Seq[Any] = aggs.map {
      case ZarrAgg.CountAll => p.map(_.cells).getOrElse(0L): Any
      case ZarrAgg.MinG(a) => p.map(_.minLoc(a): Any).orNull
      case ZarrAgg.MaxG(a) => p.map(_.maxLoc(a): Any).orNull
      case ZarrAgg.MinP(_) => p.map(_ => 0L: Any).orNull
      case ZarrAgg.MaxP(a) => p.map(_.maxP(a): Any).orNull
    }
    val objs = layout.objectsIn(dir, box, assumeComplete).map(_.toSeq)
    val gb = groupBy.toArray
    val partials =
      if (layout.shard.isEmpty || objs.size <= DriverShards)
        partialsOf(objs.iterator, StoreIO.hadoopConf, gb).toMap
      else {
        val spark = SparkSession.active
        val sconf = StoreIO.broadcastConf(spark)
        spark.sparkContext
          .parallelize(objs, math.max(1, math.min(objs.size,
            spark.sparkContext.defaultParallelism)))
          .mapPartitions(it => partialsOf(it, sconf.value.value, gb))
          .reduceByKey(_.merge(_))
          .collect().toMap
      }
    if (groupBy.isEmpty)
      Seq(fromPartial(partials.values.reduceOption(_.merge(_))).toArray)
    else partials.toSeq.map { case (key, p) =>
      (key.map(x => x: Any) ++ fromPartial(Some(p))).toArray
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    Array(ZarrAggResultPartition(resultRows))

  override def createReaderFactory(): PartitionReaderFactory =
    ZarrAggReaderFactory()
}

final case class ZarrAggResultPartition(rows: Seq[Array[Any]]) extends InputPartition

final case class ZarrAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[ZarrAggResultPartition].rows
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var cur: Array[Any] = null
      override def next(): Boolean = it.hasNext && { cur = it.next(); true }
      override def get(): InternalRow = new GenericInternalRow(cur.clone())
      override def close(): Unit = ()
    }
  }
}

final class ZarrScan(dir: String, layout: ZarrLayout, box: Bounds,
    required: StructType, vectorized: Boolean, limit: Int = -1,
    maxChunksPerTrigger: Int = 0, assumeComplete: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  /** Streaming read of a growing store ([[ZarrMicroBatchStream]]). Pushed
    * grid bounds carry over to discovery. Unsharded stores stream at chunk
    * granularity; sharded stores at SHARD granularity under the
    * write-once-shard contract documented on the stream class.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZarrMicroBatchStream(dir, layout, box, required, checkpointLocation,
      maxChunksPerTrigger)

  /** Storage-partitioned read: the store is clustered by grid coordinates
    * (each chunk file holds exactly one (g0..gd-1) key — the write path's
    * clustered distribution guarantees it), so the scan reports
    * KeyGroupedPartitioning over the g columns whenever they all survive
    * column pruning. With `spark.sql.sources.v2.bucketing.enabled`, a
    * groupBy on the grid key (the per-tile aggregate every pipeline stage
    * starts with) and storage-partitioned joins between two stores run
    * WITHOUT an exchange — at 100 TB that deletes the biggest shuffle in
    * the tile workload.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val gCols = (0 until layout.dims).map(a => s"g$a")
    if (gCols.forall(required.fieldNames.contains))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        gCols.map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c):
          org.apache.spark.sql.connector.expressions.Expression).toArray,
        planInputPartitions().length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  /** Dynamic pruning: at execution time Spark can derive IN/= filters on
    * the grid columns from the other side of a join (the DSv2 analogue of
    * dynamic partition pruning) and hand them here — chunks outside the
    * runtime set are dropped before any partition is planned.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only the grid columns that SURVIVED column pruning: Spark resolves
    // these against the pruned output and would fail on a projected-out one
    (0 until layout.dims).map(a => s"g$a")
      .filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  private val lo = box.lo
  private val hi = box.hi
  private val allowed = box.allowed

  override def filter(filters: Array[Filter]): Unit = {
    filters.foreach {
      case EqualTo(att, v) => GAxis.unapply(att, layout.dims).foreach { a =>
        GAxis.long(v).foreach { x =>
          lo(a) = math.max(lo(a), x); hi(a) = math.min(hi(a), x)
        }
      }
      case In(att, values) => GAxis.unapply(att, layout.dims).foreach { a =>
        val vs = values.flatMap(GAxis.long)
        if (vs.length == values.length) {
          val set = vs.toSet
          allowed(a) = if (allowed(a) == null) set else allowed(a).intersect(set)
        }
      }
      case _ => () // unsupported runtime filters are simply not pruned on
    }
    planned = null // bounds changed: the cached partition plan is stale
  }

  override def readSchema(): StructType = required

  /** Post-pruning size estimate: cells in the surviving chunk box × row
    * width. Exact on row count for full chunks (edge chunks overestimate
    * slightly, which is the safe direction). Lets Catalyst auto-broadcast
    * a heavily pruned scan in joins — pruning changes not just I/O but the
    * JOIN STRATEGY downstream.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val cells: Long = lo.indices.map { a =>
      val inBox =
        if (allowed(a) == null) math.max(0L, hi(a) - lo(a) + 1)
        else allowed(a).count(v => v >= lo(a) && v <= hi(a)).toLong
      inBox * layout.meta.chunks(a)
    }.product
    private val rowBytes = 8L * required.size
    override def sizeInBytes = java.util.OptionalLong.of(
      math.max(1L, cells * rowBytes))
    override def numRows = java.util.OptionalLong.of(cells)
  }

  override def description(): String =
    s"ZarrScan ${layout.dims}d bounds=" +
      lo.indices.map { a =>
        val setPart =
          if (allowed(a) == null) ""
          else s" and in {${allowed(a).toSeq.sorted.mkString(",")}}"
        s"g$a in [${lo(a)}, ${hi(a)}]$setPart"
      }.mkString(", ") +
      s" columns=${required.fieldNames.mkString(",")}"

  override def toBatch: Batch = this

  /** The partition plan is cached: Spark may call [[outputPartitioning]]
    * and [[planInputPartitions]] several times while planning, and each
    * uncached call re-lists the whole store (object-store listing RTTs).
    * Runtime filters invalidate it — [[filter]] resets to null.
    */
  @volatile private var planned: Array[InputPartition] = null

  override def planInputPartitions(): Array[InputPartition] = {
    val cached = planned
    if (cached != null) return cached
    val fresh = doPlanPartitions()
    planned = fresh
    fresh
  }

  /** Partitions are the surviving tiles of the candidate objects (for a
    * shard, its inner chunks: readers skip index-absent inners, so
    * presence stays executor-side). Under a pushed LIMIT the planner walks
    * the objects in listing order and plans only PRESENT surviving tiles
    * until their exact cells cover the limit (Spark applies the exact limit
    * on top): an unsharded listing holds only objects that exist, and a
    * shard's inners are checked against its index (one cached ranged
    * read) — a planned prefix of the nominal grid could under-deliver.
    */
  private def doPlanPartitions(): Array[InputPartition] = {
    val objs = layout.objectsIn(dir, box, assumeComplete)
    val tiles =
      if (limit < 0) objs.flatMap(layout.tilesOf).filter(box.survives)
      else {
        val conf = StoreIO.hadoopConf
        val out = Seq.newBuilder[Array[Int]]
        var covered = 0L
        val it = objs.iterator
        while (covered < limit && it.hasNext) {
          val obj = it.next()
          val kept = layout.tilesOf(obj).filter(box.survives)
          if (kept.nonEmpty) {
            val at = layout.locator(conf, dir, obj)
            kept.foreach { loc =>
              if (covered < limit && at(loc).isDefined) {
                covered += layout.cells(loc)
                out += loc
              }
            }
          }
        }
        out.result()
      }
    tiles.map(loc => ZarrInputPartition(loc): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ZarrReaderFactory(dir, layout, required.fieldNames,
      StoreIO.broadcastConf(SparkSession.active), vectorized)
}

/** Shared axis/literal matching for static and runtime filter pushdown. */
private[zarr] object GAxis {
  private val GCol = "g([0-9]+)".r
  def unapply(att: String, dims: Int): Option[Int] = att match {
    case GCol(a) if a.toInt < dims => Some(a.toInt)
    case _ => None
  }
  def long(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }
}

/** One chunk, one partition — and the chunk's grid location IS the
  * partition key ([[HasPartitionKey]]), which is what lets Spark treat the
  * store as storage-partitioned: grouped by (g0..gd-1) on disk.
  */
final case class ZarrInputPartition(loc: Array[Int]) extends InputPartition
    with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(loc.map(_.toLong: Any))
}

final case class ZarrReaderFactory(dir: String, layout: ZarrLayout,
    columns: Array[String],
    sconf: Broadcast[SerializableConfiguration],
    vectorized: Boolean = true) extends PartitionReaderFactory {

  /** Shared per-partition setup for both read paths: chunk location, the
    * (edge-clipped) tile shape, and the decoded payload — or null when
    * `value` was pruned away, in which case no chunk payload is read at
    * all.
    *
    * Sharded store: the partition is an INNER chunk; its shard's index
    * (per-JVM cached) says whether it exists and where its bytes live, and
    * the payload comes from one ranged read — an absent inner chunk
    * returns a zero-extent tile, so both readers emit no rows for it
    * (matching the unsharded layout, where a missing chunk file is simply
    * never planned). A corrupt index entry fails whether or not `value`
    * is projected.
    */
  private def openChunk(partition: InputPartition): (Array[Int], Array[Int], Array[Long]) = {
    val loc = partition.asInstanceOf[ZarrInputPartition].loc
    layout.locator(sconf.value.value, dir, layout.objectOf(loc))(loc) match {
      case None => (loc, Array.fill(layout.dims)(0), null) // absent inner chunk: no rows
      case Some(_) if !columns.contains("value") => (loc, layout.tileShape(loc), null)
      case Some(ref) =>
        ZarrTableProvider.payloadReads.incrementAndGet()
        val tileShape = layout.tileShape(loc)
        try (loc, tileShape,
          ZarrIO.decodeChunk(ref.read(sconf.value.value, dir), layout.meta, loc, tileShape))
        catch {
          case e: java.io.FileNotFoundException =>
            // only an enumerated (assumeComplete) plan can reach a missing
            // chunk — fail loudly instead of silently dropping the
            // region's rows
            throw new java.io.IOException(
              s"zarr chunk '$ref' (grid ${loc.mkString(",")}) in $dir " +
                "is absent but was planned: the store was declared " +
                "complete (assumeComplete=true) or mutated concurrently", e)
          case e: Exception =>
            // surface the CHUNK, not a codec stack frame: at 100 TB a
            // single corrupt object must be identifiable from the task
            // failure alone
            throw new java.io.IOException(
              s"zarr chunk '$ref' (grid ${loc.mkString(",")}) in $dir " +
                s"failed to decode: ${e.getMessage}", e)
        }
    }
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized

  /** Columnar read path: fills reused [[OnHeapColumnVector]]s in 4K-row
    * batches instead of allocating a [[GenericInternalRow]] (+ boxed Longs)
    * per cell. Grid coordinates are a constant fill, the payload is a
    * single `putLongs` array copy (chunk cells are already in row-major
    * order), and in-chunk coordinates come from a stride/modulus fill —
    * the scan-bound 100 TB workload reads straight into vectors and hands
    * Spark a [[ColumnarBatch]], so the per-row iterator overhead that
    * dominated the row path disappears.
    */
  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    val (loc, tileShape, data) = openChunk(partition)
    val dims = layout.dims
    val total = tileShape.product
    val batchSize = math.min(4096, math.max(total, 1))
    val vectors = columns.map(_ => new OnHeapColumnVector(batchSize, LongType))
    val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
    // per-axis strides: p_a(flat) = (flat / stride(a)) % tileShape(a)
    val strides = new Array[Long](dims)
    if (dims > 0) {
      strides(dims - 1) = 1L
      var a = dims - 2
      while (a >= 0) { strides(a) = strides(a + 1) * tileShape(a + 1); a -= 1 }
    }
    // per-column batch fillers resolved once: (vector, startFlat, n)
    val fill: Array[(OnHeapColumnVector, Int, Int) => Unit] = columns.map {
      case c if c.startsWith("g") =>
        val const = loc(c.drop(1).toInt).toLong
        (v: OnHeapColumnVector, _: Int, n: Int) => v.putLongs(0, n, const)
      case c if c.startsWith("p") =>
        val a = c.drop(1).toInt
        val stride = strides(a); val size = tileShape(a)
        (v: OnHeapColumnVector, start: Int, n: Int) => {
          var i = 0
          while (i < n) { v.putLong(i, ((start + i) / stride) % size); i += 1 }
        }
      case "value" =>
        (v: OnHeapColumnVector, start: Int, n: Int) =>
          v.putLongs(0, n, data, start)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }

    new PartitionReader[ColumnarBatch] {
      private var start = 0

      override def next(): Boolean = {
        if (start >= total) false
        else {
          val n = math.min(batchSize, total - start)
          var c = 0
          while (c < vectors.length) {
            vectors(c).reset()
            fill(c)(vectors(c), start, n)
            c += 1
          }
          batch.setNumRows(n)
          start += n
          true
        }
      }

      override def get(): ColumnarBatch = batch
      override def close(): Unit = batch.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (loc, tileShape, data) = openChunk(partition)
    val dims = layout.dims
    val total = tileShape.product
    // per-column emitters resolved once, not per row
    val emit: Array[(Array[Int], Int) => Long] = columns.map {
      case c if c.startsWith("g") =>
        val a = c.drop(1).toInt; (_: Array[Int], _: Int) => loc(a).toLong
      case c if c.startsWith("p") =>
        val a = c.drop(1).toInt; (p: Array[Int], _: Int) => p(a).toLong
      case "value" => (_: Array[Int], flat: Int) => data(flat)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }

    new PartitionReader[InternalRow] {
      private var flat = -1
      private val p = new Array[Int](dims)

      override def next(): Boolean = {
        flat += 1
        if (flat >= total) false
        else {
          var rem = flat
          var a = dims - 1
          while (a >= 0) { p(a) = rem % tileShape(a); rem /= tileShape(a); a -= 1 }
          true
        }
      }

      override def get(): InternalRow =
        new GenericInternalRow(
          emit.map(f => f(p, flat): Any))

      override def close(): Unit = ()
    }
  }
}

// ---------------------------------------------------------------- write path

/** `df.write.format("zarr").option("shape", "72,48").option("chunks",
  * "12,12").option("dtype", "<u2").option("compressor", "zlib")
  * .mode("overwrite").save(dir)` — rows are (g*, p*, value); cells not
  * present take the fill value (0).
  *
  * Scale + durability shape:
  *  - `RequiresDistributionAndOrdering` clusters rows on the grid
  *    coordinates AND sorts within each task, so every chunk file is
  *    produced whole by exactly one task and the writer streams: it holds
  *    ONE chunk buffer at a time, flushing when the grid key advances —
  *    memory is O(chunk), not O(chunks-per-task).
  *  - Writers stage into `dir/.staging-<uuid>/`; the previous store is
  *    untouched until driver-side commit, which swaps the staged files in
  *    (clearing the old store first under overwrite) and writes `.zarray`
  *    LAST — a failed or aborted write leaves the old store fully intact,
  *    and readers never observe a store without metadata.
  */
final class ZarrWriteBuilder(dir: String, info: LogicalWriteInfo,
    store: Option[ZarrLayout]) extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val o = info.options
    val storeExists = store.isDefined
    // layout options are mandatory for a fresh store; a write into an
    // EXISTING store may omit them and inherit the store's own metadata.
    // lazy: forced only when inheritance or append validation actually
    // needs it, so an OVERWRITE with full layout options can replace a
    // SHARDED store, which is exactly what the sharded error message
    // below advertises.
    lazy val existing: Option[ZarrIO.Meta] =
      store.map { old =>
        // the DSv2 writer emits one object per chunk; layout inheritance
        // or append into a SHARDED store would corrupt it (chunk keys are
        // shard keys there). Rewrite sharded stores via
        // Zarr3IO.writeSharded, or overwrite with explicit layout options.
        require(old.shard.isEmpty,
          s"zarr write to $dir: the existing store is sharded " +
            "(sharding_indexed); appending or inheriting its layout is " +
            "unsupported — use mode(\"overwrite\") with explicit " +
            "shape/chunks/dtype/compressor (and optionally 'shards') " +
            "options to replace it")
        old.meta
      }
    def inherited(name: String, fromMeta: ZarrIO.Meta => String): String =
      Option(o.get(name)).orElse(existing.map(fromMeta)).getOrElse(
        throw new IllegalArgumentException(
          s"zarr write to $dir needs the '$name' option " +
            "(no existing store metadata to inherit it from)"))
    val shape = inherited("shape", _.shape.mkString(","))
      .split(",").map(_.trim.toLong)
    val chunks = inherited("chunks", _.chunks.mkString(","))
      .split(",").map(_.trim.toInt)
    // format selection: "2" (default, .zarray + dot keys) or "3"
    // (zarr.json + c/ keys + bytes[+gzip] codec chain). An existing store
    // pins its own format — mixing layouts in one dir is always an error.
    val storeV3 = store.exists(_.v3)
    val v3 = Option(o.get("zarrFormat")).map(_.trim)
      .orElse(if (storeExists) Some(if (storeV3) "3" else "2") else None)
      .getOrElse("2") match {
        case "3" => true
        case "2" => false
        case other => throw new IllegalArgumentException(
          s"zarrFormat must be '2' or '3', got '$other'")
      }
    if (storeExists && v3 != storeV3)
      throw new IllegalArgumentException(
        s"zarr write to $dir requests format ${if (v3) 3 else 2} but the " +
          s"existing store is format ${if (storeV3) 3 else 2}")
    // 'shards' = shard shape (sharding_indexed): writers still stage one
    // object per INNER chunk; the commit packs them into shard objects
    val shardsOpt = Option(o.get("shards")).map(_.split(",").map(_.trim.toInt))
    require(shardsOpt.isEmpty || v3,
      "the 'shards' option (sharding_indexed layout) needs zarrFormat=3")
    require(shardsOpt.isEmpty || doTruncate || !storeExists,
      s"sharded zarr write to $dir needs mode(\"overwrite\"): appending " +
        "would rewrite committed shard objects in place")
    val layout = if (v3) {
      val dataType = Option(o.get("dtype"))
        .orElse(existing.map(m => Zarr3IO.v3NameOf(m.dtype)))
        .getOrElse("int64")
      require(Zarr3IO.isV3Name(dataType),
        s"zarr v3 write needs a v3 data_type (uint8/uint16/int32/int64), " +
          s"got '$dataType'")
      val gz = Option(o.get("compressor"))
        .orElse(existing.map(_.compressor)).getOrElse("gzip") match {
          case "gzip" => true
          case "" | "none" => false
          case other => throw new IllegalArgumentException(
            s"zarr v3 supports compressor 'gzip' or '' (none), got '$other'")
        }
      val m3 = shardsOpt match {
        case Some(shard) =>
          require(shard.length == chunks.length && shard.indices.forall(a =>
            shard(a) > 0 && shard(a) % chunks(a) == 0),
            s"shard shape ${shard.mkString(",")} must be a positive " +
              s"multiple of the chunk shape ${chunks.mkString(",")} on " +
              "every axis")
          Zarr3IO.Meta3(shape, shard, dataType, gz, 0L, "/",
            Some(Zarr3IO.Shard3(chunks.clone(), indexAtEnd = true,
              indexCrc = true)))
        case None => Zarr3IO.Meta3(shape, chunks, dataType, gz, 0L, "/")
      }
      m3.layout
    } else ZarrLayout(ZarrIO.Meta(shape, chunks,
      Option(o.get("dtype")).orElse(existing.map(_.dtype)).getOrElse("<i8"),
      Option(o.get("compressor")).orElse(existing.map(_.compressor))
        .getOrElse("zlib"), 0L, "."), v3 = false)
    val meta = layout.meta
    // append-mode into a non-empty store: stale chunks from a prior write
    // survive commit, so they must decode identically under the NEW
    // metadata — reject any layout/codec mismatch up front
    if (!doTruncate) existing.foreach { old =>
      require(java.util.Arrays.equals(old.shape, meta.shape) &&
        java.util.Arrays.equals(old.chunks, meta.chunks) &&
        old.dtype == meta.dtype && old.compressor == meta.compressor &&
        old.fillValue == meta.fillValue && old.separator == meta.separator,
        s"append-mode zarr write to $dir changes the store layout " +
          s"(existing: shape=${old.shape.mkString(",")} " +
          s"chunks=${old.chunks.mkString(",")} dtype=${old.dtype} " +
          s"compressor=${old.compressor}; " +
          s"write: shape=${meta.shape.mkString(",")} " +
          s"chunks=${meta.chunks.mkString(",")} dtype=${meta.dtype} " +
          s"compressor=${meta.compressor}) — prior chunks would decode as " +
          "garbage; use mode(\"overwrite\") to replace the store")
    }
    new ZarrWrite(dir, layout, info.schema(), doTruncate, info.queryId())
  }
}

final class ZarrWrite(dir: String, layout: ZarrLayout, schema: StructType,
    doTruncate: Boolean, queryId: String = "")
    extends Write with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  override def requiredDistribution(): Distribution =
    Distributions.clustered(
      (0 until layout.dims).map(a =>
        Expressions.identity(s"g$a"): org.apache.spark.sql.connector.expressions.Expression).toArray)

  override def requiredOrdering(): Array[SortOrder] =
    (0 until layout.dims).map(a =>
      Expressions.sort(Expressions.identity(s"g$a"),
        SortDirection.ASCENDING): SortOrder).toArray

  override def toBatch: BatchWrite = {
    StoreIO.mkdirs(StoreIO.hadoopConf, dir)
    val staging = ".staging-" + java.util.UUID.randomUUID().toString
    new ZarrBatchWrite(dir, staging, layout, schema, doTruncate)
  }

  /** Native micro-batch sink (`df.writeStream.format("zarr")`) — the DSv2
    * streaming face of the same append contract the foreachBatch gate
    * documents: each epoch appends whole chunk objects, micro-batches own
    * DISJOINT chunk regions (zarr's own independent-writer model;
    * reference relabeling.py:319-322), and a redelivered epoch restages
    * and re-moves byte-identical chunk files — idempotent, hence
    * effectively exactly-once. Cross-epoch writes to the SAME chunk are a
    * contract violation and resolve last-writer-wins, exactly as two
    * concurrent batch writers would. Epoch staging dirs are DETERMINISTIC
    * (`.staging-epoch-<id>`), so a re-executed epoch overwrites its own
    * partial staging instead of leaking orphans. Metadata is written
    * LAST on every epoch commit (idempotent byte-identical rewrite after
    * the first), so a crash mid-commit never leaves a store whose
    * metadata advertises chunks that are missing.
    */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(layout.shard.isEmpty,
      "the streaming zarr sink cannot write the sharded layout: shard " +
        "objects pack at COMMIT from all their inner chunks, but a stream " +
        "appends chunks across epochs — write sharded stores with the " +
        "batch writer's 'shards' option, or stream unsharded and rewrite")
    require(!doTruncate,
      "the streaming zarr sink is append-only (each epoch adds chunk " +
        "objects); use the batch writer with mode(\"overwrite\") to " +
        "replace a store")
    StoreIO.mkdirs(StoreIO.hadoopConf, dir)
    new ZarrStreamingWrite(dir, layout, schema, queryId)
  }
}

final class ZarrStreamingWrite(dir: String, layout: ZarrLayout,
    schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  // staging is deterministic per (query, epoch) — the queryId is stable
  // across restarts (it lives in the checkpoint), so a re-executed epoch
  // overwrites its own partial staging, while TWO concurrent streaming
  // writers on one store (legal under zarr's independent-writer model if
  // their chunk regions are disjoint) can never collide on epoch numbers
  private def stagingFor(epochId: Long) = s".staging-epoch-$queryId-$epochId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    ZarrStreamingWriterFactory(dir, layout, schema.fieldNames,
      StoreIO.broadcastConf(SparkSession.active), queryId)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val conf = StoreIO.hadoopConf
    val root = new Path(dir)
    val stage = new Path(dir, stagingFor(epochId))
    def move(p: Path, isFile: Boolean, rel: String): Unit =
      if (!isFile)
        StoreIO.list(conf, p.toString).foreach { c =>
          val name = c.getPath.getName
          move(c.getPath, c.isFile, if (rel.isEmpty) name else rel + "/" + name)
        }
      else StoreIO.moveInto(conf, p, root, rel) // replace = redelivery-safe
    move(stage, isFile = false, "")
    StoreIO.deleteRecursive(conf, stage.toString)
    layout.writeMeta(dir)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    StoreIO.deleteRecursive(StoreIO.hadoopConf,
      new Path(dir, stagingFor(epochId)).toString) // store untouched
}

/** Per-epoch delegation onto the batch writer: identical row -> chunk
  * encoding, staged under the epoch's deterministic directory.
  */
final case class ZarrStreamingWriterFactory(dir: String, layout: ZarrLayout,
    columns: Array[String], sconf: Broadcast[SerializableConfiguration], queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    ZarrWriterFactory(
      new Path(dir, s".staging-epoch-$queryId-$epochId").toString,
      layout, columns, sconf).createWriter(partitionId, taskId)
}

final class ZarrBatchWrite(dir: String, staging: String, layout: ZarrLayout,
    schema: StructType, doTruncate: Boolean) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    ZarrWriterFactory(new Path(dir, staging).toString, layout.unsharded,
      schema.fieldNames, StoreIO.broadcastConf(SparkSession.active))

  private def packStaging = staging + "-pack"

  /** Swap the staged files in: clear the old store (overwrite mode) only
    * now that every task has succeeded, then move chunks, then metadata
    * LAST. The pre-commit store is never touched by a failing write.
    *
    * Sharded layout (`shards` option): the staged objects are INNER
    * chunks, so commit first runs a distributed PACK job — one task per
    * shard reads its staged (already element-encoded) inner chunks and
    * concatenates them into the shard object plus binary index — into a
    * second staging dir, and the swap moves the packed shards instead.
    * Packing moves only encoded bytes (no decode/re-encode), and the pack
    * job's parallelism is the shard count, so a 100 TB write pays one
    * extra pass over the COMPRESSED data in exchange for the
    * object-per-shard layout that object stores need. The store is still
    * untouched until every pack task has succeeded.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = StoreIO.hadoopConf
    val root = new Path(dir)
    val stage = new Path(dir, staging)
    val packed = layout.shard.map { sh =>
      val pack = new Path(dir, packStaging)
      packShards(sh, stage, pack)
      pack
    }
    if (doTruncate)
      StoreIO.list(conf, dir)
        .filterNot(f => f.getPath.getName == staging ||
          f.getPath.getName == packStaging)
        .foreach(f => StoreIO.deleteRecursive(conf, f.getPath.toString))
    def move(p: Path, isFile: Boolean, rel: String): Unit =
      if (!isFile)
        StoreIO.list(conf, p.toString).foreach { c =>
          val name = c.getPath.getName
          move(c.getPath, c.isFile, if (rel.isEmpty) name else rel + "/" + name)
        }
      else StoreIO.moveInto(conf, p, root, rel)
    move(packed.getOrElse(stage), isFile = false, "")
    StoreIO.deleteRecursive(conf, stage.toString)
    packed.foreach(p => StoreIO.deleteRecursive(conf, p.toString))
    layout.writeMeta(dir)
    if (packed.isDefined)
      graft.sources.ShardIndexCache.invalidateUnder(dir) // same-JVM rewrite loops
  }

  /** One pack task per shard: gather the shard's staged inner-chunk
    * objects (raw bytes — they are already in the store's element codec)
    * and write the assembled shard object into `packDir`. Runs as a Spark
    * job from the driver-side commit; shard count bounds the parallelism.
    */
  private def packShards(sh: ZarrLayout.Sharding, stage: Path, packDir: Path): Unit = {
    val spark = SparkSession.active
    val sconf = StoreIO.broadcastConf(spark)
    val stageStr = stage.toString
    val packStr = packDir.toString
    val shards = layout
    val staged = layout.unsharded
    val groups = staged.listChunkLocs(stageStr)
      .groupBy(loc => shards.objectOf(loc).toVector)
      .iterator.map { case (obj, locs) => (obj.toArray, locs.toArray) }.toSeq
    if (groups.nonEmpty)
      spark.sparkContext
        .parallelize(groups, math.min(groups.size,
          math.max(1, spark.sparkContext.defaultParallelism)))
        .foreach { case (obj, locs) =>
          val enc = new Array[Array[Byte]](sh.slots)
          locs.foreach { loc =>
            enc(sh.slotOf(loc)) =
              StoreIO.readAllBytes(sconf.value.value, staged.path(stageStr, loc))
          }
          StoreIO.write(sconf.value.value, shards.path(packStr, obj), sh.pack(enc))
        }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    StoreIO.deleteRecursive(StoreIO.hadoopConf,
      new Path(dir, staging).toString) // old store untouched
    StoreIO.deleteRecursive(StoreIO.hadoopConf,
      new Path(dir, packStaging).toString)
  }
}

final case class ZarrChunksWritten(n: Int) extends WriterCommitMessage

/** Writes one object per chunk under `stageDir`, keyed by `layout` (always
  * unsharded: a sharded write stages inner chunks and packs at commit).
  */
final case class ZarrWriterFactory(stageDir: String, layout: ZarrLayout,
    columns: Array[String],
    sconf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val dims = layout.dims
    val grid = layout.grid
    val gIdx = (0 until dims).map(a => columns.indexOf(s"g$a")).toArray
    val pIdx = (0 until dims).map(a => columns.indexOf(s"p$a")).toArray
    val vIdx = columns.indexOf("value")
    require(gIdx.forall(_ >= 0) && pIdx.forall(_ >= 0) && vIdx >= 0,
      s"zarr write needs g0..g${dims - 1}, p0..p${dims - 1}, value; " +
        s"got ${columns.mkString(",")}")

    new DataWriter[InternalRow] {
      // rows arrive sorted on the grid key (requiredOrdering), so exactly
      // one chunk is open at a time: flush on key change, O(chunk) memory
      private var curLoc: Array[Int] = null
      private var curShape: Array[Int] = null
      private var curData: Array[Long] = null
      private var written = 0
      // clustering sentinel: a REVISITED chunk key means the engine did
      // not honor requiredDistribution/Ordering (or a caller bypassed it)
      // — the revisit would silently overwrite the earlier flush with a
      // partial chunk, so fail loudly instead. Bounded by chunks-per-task.
      private val flushed = new java.util.HashSet[String]()
      // scratch for the per-row grid key: the writer sees every CELL, so
      // the hot loop must not allocate per row
      private val gBuf = new Array[Int](dims)

      private def flush(): Unit = if (curLoc != null) {
        val key = layout.key(curLoc)
        if (!flushed.add(key)) throw new IllegalStateException(
          s"zarr writer revisited chunk ${curLoc.mkString(",")}: input " +
            "rows are not clustered by grid key — the write requires " +
            "the engine-enforced distribution (one chunk, one task, " +
            "contiguous rows)")
        StoreIO.write(sconf.value.value, new Path(stageDir, key).toString,
          ZarrIO.encodeChunk(curData, layout.meta, curShape))
        written += 1
        curLoc = null; curShape = null; curData = null
      }

      override def write(row: InternalRow): Unit = {
        var same = curLoc != null
        var a = 0
        while (a < dims) {
          val g = row.getLong(gIdx(a)).toInt
          if (g < 0 || g >= grid(a)) throw new IllegalArgumentException(
            s"grid coordinate g$a=$g outside [0, ${grid(a)})")
          gBuf(a) = g
          if (same && g != curLoc(a)) same = false
          a += 1
        }
        if (!same) {
          flush()
          curLoc = gBuf.clone()
          curShape = layout.tileShape(curLoc)
          curData = new Array[Long](curShape.product)
        }
        var flat = 0
        a = 0
        while (a < dims) {
          val pv = row.getLong(pIdx(a)).toInt
          if (pv < 0 || pv >= curShape(a)) throw new IllegalArgumentException(
            s"in-chunk coordinate p$a=$pv outside [0, ${curShape(a)}) " +
              s"for chunk ${curLoc.mkString(",")}")
          flat = flat * curShape(a) + pv
          a += 1
        }
        curData(flat) = row.getLong(vIdx)
      }

      override def commit(): WriterCommitMessage = {
        flush()
        ZarrChunksWritten(written)
      }

      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }
}
