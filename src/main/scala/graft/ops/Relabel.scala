package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.LongAccumulator
import graft.core.{CCL, Kernels}
import graft.geojson.Annotate
import graft.tiles.{GridSpec, Tile}

/** The user-supplied segmentation function (the reference's central
  * extension point, `relabeling.py:14-47`): an arbitrary per-tile
  * image -> labels kernel, optionally also producing per-object class
  * channels. Runs as plain JVM code inside `Dataset.map` on executors.
  */
trait SegmentationFn extends Serializable {
  /** Return (labels, classes). `labels` must use 0 for background and values
    * representable in int32 (they are offset into disjoint int64 ranges
    * downstream). `classes` empty when the function predicts no classes.
    */
  def segment(tile: Tile): (Array[Long], Array[Array[Long]])
}

/** Built-in connectivity-1 connected-component labeling, the Spark-side
  * stand-in for the reference tests' `skimage.measure.label`
  * (`tests/fixtures.py:12-28`).
  */
final case class CCLSegmentation(returnsClasses: Boolean = false) extends SegmentationFn {
  def segment(tile: Tile): (Array[Long], Array[Array[Long]]) = {
    val labels = CCL.label(tile.data, tile.shape)
    val classes =
      if (returnsClasses) Array(labels.map(v => if (v != 0L) 1L else 0L))
      else Array.empty[Array[Long]]
    (labels, classes)
  }
}

/** Pass-through segmentation for inputs that already carry labels — the
  * `labels2geojson` ingest shape (`relabeling.py:245-276`, where the image
  * is labeled upstream). Composing it with the streaming front half
  * re-expresses O8's prepare -> remove incrementally.
  */
final case class IdentitySegmentation() extends SegmentationFn {
  def segment(tile: Tile): (Array[Long], Array[Array[Long]]) =
    (tile.data, tile.classes)
}

/** Public operator surface (O1-O10, SURVEY.md §2), re-expressed over the tile
  * table. Everything is a lazy `Dataset` transformation; an action
  * (`collect`, `write`, `count`) is the `.compute()` boundary.
  *
  * The composites ([[image2labels]], [[image2geojson]] and
  * [[labels2geojson]] without `preOverlapped`) chain their phases as maps
  * on one `RDD[Tile]` lineage and build one Dataset at the end. Each
  * calls the same per-tile functions as the single phases, but plans
  * once: composing the phases as Datasets paid the planner per step. On a
  * warm 4-vCPU session, one typed `Dataset.map` over `Tile` cost ≈13 ms of
  * driver analysis, a `Dataset.rdd` ≈35 ms of planning and a
  * `createDataset(rdd)` ≈10 ms, so building `image2labels` on a zarr read
  * took 67–74 ms before any job ran; as one lineage it takes 27–34 ms
  * (medians of 50 builds). Like [[prepareInput]] (and every phase
  * with a halo exchange), a composite reads its input through
  * `Dataset.rdd` when it is called: an exchange in the input's own plan
  * runs then, under adaptive execution, not at the output's action.
  * Sinks stay Dataset actions, so [[graft.Caching.releaseAfterAction]]
  * still sees the query-execution event it releases on.
  *
  * O1 keeps a tile that is already in its output partition where it is
  * and ships only its margins ([[Halo]]), so O1's reduce stage reads its
  * input partition again: a zarr read or a persisted table costs little
  * to re-read, but persist an input whose own computation is expensive,
  * or whose user code would not give the same tiles in the same order
  * twice, as [[sortLabelIndices]] advises for its own input. An input
  * with an unsorted shuffle in its lineage ships every tile and is read
  * once.
  */
object Relabel {

  private[ops] def validateOverlaps(overlaps: Array[Int], chunk: Array[Int]): Unit =
    overlaps.indices.foreach { a =>
      require(overlaps(a) >= 0 && overlaps(a) <= chunk(a),
        s"overlap ${overlaps(a)} on axis $a exceeds the chunk size " +
          s"${chunk(a)} — a halo cannot be wider than its source chunk")
    }

  /** O1 `prepare_input` (`relabeling.py:166-192`): zero-pad ragged high-edge
    * tiles to the chunk size (pad is tile-local — no shuffle), then
    * halo-expand every tile by `overlaps` from its neighbors (one shuffle).
    * The output has `min(chunks in the grid, spark.sql.shuffle.partitions)`
    * partitions, each a contiguous range of chunks ([[Halo]]). When the
    * input already has that many partitions, the tiles that sit in their
    * output partition ship their margins only, and the reduce stage reads
    * the input partition a second time to paste their cores: persist an
    * input that is expensive to recompute.
    *
    * Input tiles must be chunk-aligned: tile (i,j) holds image block
    * [i*cs, (i+1)*cs) x [j*cs, (j+1)*cs) clipped to the image.
    */
  def prepareInput(tiles: Dataset[Tile], spec: GridSpec, overlaps: Array[Int]): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    spark.createDataset(expanded(tiles, spec, overlaps))
  }

  /** [[prepareInput]] as the first step of a composite's tile RDD. */
  private def expanded(tiles: Dataset[Tile], spec: GridSpec,
                       overlaps: Array[Int]): RDD[Tile] = {
    val chunk = spec.chunk
    validateOverlaps(overlaps, chunk)
    Halo.expand(tiles.rdd.map(Kernels.padTo(_, chunk)), overlaps,
      Halo.partitions(tiles.sparkSession, spec.gridShape.foldLeft(1L)(_ * _)))
  }

  /** O2 `segment_overlapped_input` (`relabeling.py:14-47`): embarrassingly
    * parallel user kernel per halo-expanded tile.
    */
  def segmentOverlappedInput(tiles: Dataset[Tile], segFn: SegmentationFn): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.map(segmentTile(_, segFn))
  }

  /** O2 on one tile: `segFn`'s labels and classes, checked to cover it. */
  private def segmentTile(t: Tile, segFn: SegmentationFn): Tile = {
    val (labels, classes) = segFn.segment(t)
    require(labels.length == t.numel,
      s"segmentation function returned ${labels.length} values for a " +
        s"${t.shape.mkString("x")} tile (${t.numel} pixels) at ${t.loc.mkString(",")}")
    classes.zipWithIndex.foreach { case (ch, i) =>
      require(ch.length == t.numel,
        s"classes channel $i has ${ch.length} values, expected ${t.numel}")
    }
    t.copy(data = labels, classes = classes)
  }

  /** O2 with aligned auxiliary tile tables (the reference's dask-array
    * `segmentation_fn_kwargs`, `relabeling.py:28-36`): an equi-join on the
    * chunk location, then the two-argument kernel.
    */
  def segmentWithAux(tiles: Dataset[Tile], aux: Dataset[Tile],
                     fn: (Tile, Tile) => (Array[Long], Array[Array[Long]])): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles
      .groupByKey(_.linearIndex)
      .cogroup(aux.groupByKey(_.linearIndex)) { (lin, ts, as) =>
        val auxTiles = as.toArray
        require(auxTiles.nonEmpty || !ts.hasNext,
          s"aligned aux table has no tile at linear chunk index $lin — " +
            "aux must cover the same grid as the image (the reference zips " +
            "aligned dask arrays chunk-wise, relabeling.py:28-36)")
        ts.map { t =>
          val (labels, classes) = fn(t, auxTiles.head)
          t.copy(data = labels, classes = classes)
        }
      }
  }

  /** O3 `remove_overlapped_labels` (`relabeling.py:50-76`): chunk-local —
    * no shuffle. Default threshold 0.5 as in the reference signature.
    */
  def removeOverlappedLabels(tiles: Dataset[Tile], overlaps: Array[Int],
                             threshold: Double = 0.5): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.map(t => Kernels.removeOverlapped(t, overlaps, threshold))
  }

  /** Overlap-sufficiency diagnostic over prepared (halo-expanded, possibly
    * segmented) tiles: one row per (tile, axis, label) whose pixels touch
    * both opposite margin faces of that tile — objects larger than the
    * overlap, which O3's parity rule will split SILENTLY (the reference's
    * undetected correctness constraint, SURVEY §4.1). Run it on the stage
    * feeding [[removeOverlappedLabels]] when validating an overlap setting:
    * any row means `overlaps` is too small for the objects present. Tile-
    * local (no shuffle); at 100 TB this is a free rider on the segmented
    * stage, aggregable to a per-dataset violation count.
    */
  def overlapSufficiency(tiles: Dataset[Tile], overlaps: Array[Int])
      : Dataset[(Long, Int, Long)] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.flatMap { t =>
      Kernels.marginSpanViolations(t, overlaps).iterator
        .map { case (axis, label) => (t.linearIndex, axis, label) }
    }
  }

  /** O4 `merge_overlapped_tiles` (`relabeling.py:79-99`): one neighbor
    * exchange + parity paint, on each tile's core only (the halo trim the
    * reference ends with keeps nothing else). Output tiles are core-sized, in
    * as many partitions as the input, capped by
    * `spark.sql.shuffle.partitions` ([[Halo.mergeAndTrim]]).
    */
  def mergeOverlappedTiles(tiles: Dataset[Tile], overlaps: Array[Int]): Dataset[Tile] =
    Halo.mergeAndTrim(tiles, overlaps)

  /** Session conf key: label-cardinality cap for [[sortLabelIndices]]'s
    * broadcast rank table. The driver materializes at most cap+1 labels (a
    * capped probe, never the unbounded label space), and a space that
    * exceeds the cap auto-switches to [[sortLabelIndicesDistributed]] —
    * same output contract, no driver round-trip — in the AQE spirit of
    * deciding the physical strategy from the observed size (the
    * `componentsDriverMaxEdges` precedent). Default 4M labels: the rank
    * table is the probe's sorted primitive `Array[Long]`, 8 B per label
    * on the heap and in the broadcast (measured at 1M and 4M chunk-offset
    * labels: 8.0 B/label, against 88.4 B/label on the heap and 28 B/label
    * Java-serialized for the boxed `HashMap[Long, Long]` it replaced).
    * That is 32 MB at the cap, plus at most two more arrays of that size
    * while the driver merges partition probes, and one broadcast copy per
    * executor JVM, which fits default driver heaps; the reference's own
    * collect (`relabeling.py:331`) has no such guard, so a 100× label
    * space OOMs there and silently switches strategy here.
    */
  val SortBroadcastCapKey = "graft.relabel.sortBroadcastMaxLabels"

  /** O10 `sort_label_indices` (`relabeling.py:312-346`): global distinct of
    * the label space (eager, like the reference's `da.unique(...).compute()`
    * at `relabeling.py:331`) broadcast back as the sorted label array, in
    * which a label's rank is its index. The probe (one job: a per-partition
    * sorted distinct, merged by `treeAggregate`) and the remap read the
    * input through one physical plan, so the remap reuses the shuffle
    * output the probe already wrote (the halo exchanges of an
    * `image2labels` input run once, not twice). Persist the input first if
    * it is expensive to recompute. Label spaces above
    * [[SortBroadcastCapKey]] never reach the driver: the call degrades to
    * the distributed variant.
    */
  def sortLabelIndices(tiles: Dataset[Tile]): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val cap = spark.conf.get(SortBroadcastCapKey, "4000000").toLong
    require(cap > 0, s"$SortBroadcastCapKey must be positive, got $cap")
    val probeN = math.min(cap, Int.MaxValue - 1L).toInt + 1
    val pinned = tiles.rdd
    // one job: each partition's distinct labels as a sorted primitive
    // array, capped at cap+1, merged under the same cap, so at most cap+1
    // labels ever reach the driver
    val probe = pinned.mapPartitions(tiles => Iterator.single(Kernels.distinctLabels(tiles, probeN)))
      .treeAggregate(Array.emptyLongArray)(
        Kernels.mergeDistinct(_, _, probeN), Kernels.mergeDistinct(_, _, probeN))
    if (probe.length >= probeN)
      // over the cap: the probe saw cap+1 distinct labels, so the full
      // collect would be the driver OOM this guard exists to prevent
      return sortLabelIndicesDistributed(spark.createDataset(pinned))
    val bc = spark.sparkContext.broadcast(probe)
    spark.createDataset(pinned.map(t => Kernels.sortRemap(t, bc.value)))
  }

  /** O10 without the driver round-trip: the reference (and
    * [[sortLabelIndices]]) collects the distinct label set to the driver —
    * fine for millions of labels, fatal for billions. This variant keeps
    * everything distributed: global distinct -> range-partitioned sort with
    * `zipWithIndex` (two passes, no single-partition sort) -> per-tile
    * (label, rank) pairs via an equi-join on the tile's own distinct labels
    * -> cogroup remap over the tile's sorted labels. More shuffles than the
    * broadcast path; choose by label-space size. Like the broadcast variant, it runs jobs at call time (range
    * sampling + zipWithIndex) and reads the input through one physical
    * plan; persist the input first if it is expensive to recompute.
    */
  def sortLabelIndicesDistributed(tiles: Dataset[Tile]): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val pinned = tiles.rdd
    // read three times below (rank build, join probe, implicit in sort
    // sampling); tiny (O(distinct labels per tile)). Persist EAGERLY here —
    // the sortBy sampling and zipWithIndex jobs below run at call time, and
    // they must populate (then reuse) the cache, not each recompute the
    // label scan. releaseAfterAction's own persist() is then a no-op;
    // its listener still releases after the remapped result's action.
    val tileLabels = spark.createDataset(pinned.flatMap(t =>
      t.data.distinct.iterator.map(l => (t.linearIndex, l))))
      .toDF("lin", "label")
      .persist()
    val ranks = tileLabels.select("label").distinct().as[Long]
      .rdd.sortBy(identity).zipWithIndex().toDF("label", "rank")
    val perTile = tileLabels.join(ranks, "label")
      .select(col("lin"), col("label"), col("rank"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (lin, it) =>
        (lin, it.map { case (_, l, r) => (l, r) }.toArray)
      }
    graft.Caching.releaseAfterAction(spark.createDataset(pinned)
      .groupByKey(_.linearIndex)
      .cogroup(perTile.groupByKey(_._1)) { (_, ts, rs) =>
        val pairs = rs.flatMap(_._2).toArray.sortBy(_._1)
        val labels = pairs.map(_._1)
        val ranks = pairs.map(_._2)
        // remap every tile in the group (duplicated locations are remapped,
        // not dropped)
        ts.map(t => Kernels.sortRemap(t, labels, ranks))
      }, tileLabels)
  }

  /** Un-pad: crop high-edge tiles back to the original image extent
    * (`relabeling.py:237-240`); tile-local. Shared by every image2labels
    * variant so the crop rule cannot diverge between ingest paths.
    */
  def cropToImage(tiles: Dataset[Tile], spec: GridSpec): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.map(t => Kernels.cropTo(t, spec.tileShape(t.loc)))
  }

  /** O7 `image2labels` (`relabeling.py:195-242`): the flagship composition,
    * `cropToImage(mergeOverlappedTiles(removeOverlappedLabels(
    * segmentOverlappedInput(prepareInput(...)))))` planned as one Dataset.
    * Exactly two shuffles end-to-end (the two halo exchanges), like the
    * reference's two neighbor-communication stages.
    *
    * `overlapViolations`, when given, counts the objects whose pixels span
    * both opposite margin faces of a tile — objects LARGER than the
    * overlap, which O3's parity rule will split silently (the reference's
    * undetected correctness constraint, SURVEY §4.1; [[overlapSufficiency]]
    * is the standalone row-per-violation form). It rides the segmented
    * stage for free — no extra pass, no shuffle — and fills when the
    * returned Dataset's ACTION runs (standard Spark accumulator
    * semantics: read it after the write/collect, treat it as at-least-once
    * under task retries — a diagnostic trigger, not an exact metric; any
    * value > 0 means `overlaps` is too small for the objects present).
    */
  def image2labels(tiles: Dataset[Tile], spec: GridSpec, segFn: SegmentationFn,
                   overlaps: Array[Int], threshold: Double = 0.05,
                   overlapViolations: Option[LongAccumulator] = None): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val segmented = expanded(tiles, spec, overlaps).map(segmentTile(_, segFn))
    val audited = overlapViolations.fold(segmented) { acc =>
      segmented.map { t =>
        val v = Kernels.marginSpanViolations(t, overlaps).length
        if (v > 0) acc.add(v.toLong)
        t
      }
    }
    val removed = audited.map(Kernels.removeOverlapped(_, overlaps, threshold))
    // O4 keeps O1's placement: `removed` already has its capped partition count
    val merged = Halo.mergeAndTrim(removed, overlaps, removed.getNumPartitions)
    spark.createDataset(merged.map(t => Kernels.cropTo(t, spec.tileShape(t.loc))))
  }

  /** O8 `labels2geojson` (`relabeling.py:245-276`): (optional prepare) ->
    * remove -> annotate. Default threshold 0.5 (`relabeling.py:246`), vs
    * 0.05 for image2labels. Without `preOverlapped` it is a composite,
    * planned as one Dataset; with it, two Dataset maps over `tiles`.
    */
  def labels2geojson(tiles: Dataset[Tile], spec: GridSpec, overlaps: Array[Int],
                     threshold: Double = 0.5,
                     objectClasses: Option[Map[Long, String]] = None,
                     preOverlapped: Boolean = false)
      : Dataset[Annotate.TileAnnotation] = {
    if (preOverlapped)
      Annotate.annotateLabeledTiles(removeOverlappedLabels(tiles, overlaps, threshold),
        overlaps, objectClasses)
    else annotated(tiles.sparkSession, expanded(tiles, spec, overlaps), overlaps, threshold,
      objectClasses)
  }

  /** O3 -> O5 over prepared tiles, as the geojson composites' one Dataset. */
  private def annotated(spark: SparkSession, prepared: RDD[Tile], overlaps: Array[Int],
                        threshold: Double, objectClasses: Option[Map[Long, String]])
      : Dataset[Annotate.TileAnnotation] = {
    import spark.implicits._
    spark.createDataset(prepared
      .map(Kernels.removeOverlapped(_, overlaps, threshold))
      .map(Annotate.annotateLabeled(_, overlaps, objectClasses)))
  }

  /** O9 `image2geojson` (`relabeling.py:279-309`): prepare -> segment ->
    * labels2geojson(pre_overlapped = true), planned as one Dataset.
    */
  def image2geojson(tiles: Dataset[Tile], spec: GridSpec, segFn: SegmentationFn,
                    overlaps: Array[Int], threshold: Double = 0.5,
                    objectClasses: Option[Map[Long, String]] = None)
      : Dataset[Annotate.TileAnnotation] =
    annotated(tiles.sparkSession, expanded(tiles, spec, overlaps).map(segmentTile(_, segFn)),
      overlaps, threshold, objectClasses)
}
