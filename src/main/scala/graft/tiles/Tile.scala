package graft.tiles

import graft.core.Nd

/** One row of the tile table — the Spark-native representation of one chunk
  * of a chunked N-d label/image array (SURVEY.md §1.4).
  *
  * The reference's ambient `block_info` metadata (`chunkops.py:19-20`) is
  * materialized as explicit columns: `loc` = chunk-location, `grid` =
  * num-chunks. `shape` is this tile's spatial extent INCLUDING any halo
  * (border chunks have one-sided halos, `relabeling.py:185-190`).
  *
  * `data` is the row-major flattened pixel payload (int64 — the superset of
  * every dtype the reference uses). The halo shards carry it as
  * width-tagged bytes instead, as narrow as the values allow
  * ([[graft.ops.Halo.Shard]]). `classes` is the optional per-object
  * class channels (the reference's leading classes axis,
  * `relabeling.py:22-27`); empty array = no classes.
  */
final case class Tile(
    loc: Array[Int],
    grid: Array[Int],
    shape: Array[Int],
    data: Array[Long],
    classes: Array[Array[Long]]
) {
  def dims: Int = loc.length
  def numel: Int = Nd.size(shape)
  def hasClasses: Boolean = classes != null && classes.nonEmpty
  def linearIndex: Long = graft.core.Regions.linearIndex(loc, grid)
}

object Tile {
  def apply(loc: Array[Int], grid: Array[Int], shape: Array[Int],
            data: Array[Long]): Tile =
    Tile(loc, grid, shape, data, Array.empty[Array[Long]])
}

/** Image-level metadata: the global spatial shape and the target chunk size.
  * Carried on the driver (it is a handful of ints), not per-row.
  */
final case class GridSpec(imageShape: Array[Long], chunk: Array[Int]) {
  def dims: Int = chunk.length

  /** Grid shape after high-side padding to a chunk multiple
    * (`relabeling.py:169-172`).
    */
  def gridShape: Array[Int] =
    Array.tabulate(dims)(a => ((imageShape(a) + chunk(a) - 1) / chunk(a)).toInt)

  /** Exact extent of the tile at `loc`: the chunk, clipped at the image's
    * high edge.
    */
  def tileShape(loc: Array[Int]): Array[Int] = Array.tabulate(dims) { a =>
    math.min(chunk(a).toLong, imageShape(a) - loc(a).toLong * chunk(a)).toInt
  }

  /** Padded global shape (a multiple of `chunk` on every axis). */
  def paddedShape: Array[Long] =
    Array.tabulate(dims)(a => gridShape(a).toLong * chunk(a))

  /** Overlapped extent of the tile at `loc` per axis: chunk + one `overlap`
    * per side that has a neighbor (`boundary=None` rule,
    * `relabeling.py:185-190`).
    */
  def overlappedShape(loc: Array[Int], overlaps: Array[Int]): Array[Int] =
    graft.core.Regions.haloShape(loc, gridShape, overlaps, chunk)
}
