package graft.sources

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.tiles.{GridSpec, Tile}

/** Tile-table persistence — the Spark-native counterpart of the reference's
  * array sources/sinks (npz fixtures, zarr intermediates suggested at
  * `relabeling.py:319-322`).
  *
  * Layout: one parquet row per tile with the SURVEY §1.4 schema. Writes are
  * hash-distributed by linear chunk index so a subsequent read starts
  * pre-spread across the grid; at 100 TB the natural refinement is
  * `partitionBy` on a coarse grid prefix (e.g. `gy div 16`) for partition
  * pruning of spatial sub-queries — exposed via `coarsePartitions`.
  */
object TileIO {

  /** Write a tile table. With `coarsePartitions > 0`, adds a
    * `pgrid` directory column (linear index div coarsePartitions) so
    * spatial range reads prune whole directories.
    */
  def write(tiles: Dataset[Tile], path: String, coarsePartitions: Int = 0,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = tiles.sparkSession
    import spark.implicits._
    if (coarsePartitions > 0) {
      tiles.map(t => (t.linearIndex / coarsePartitions, t))
        .toDF("pgrid", "tile")
        .select(col("pgrid"), col("tile.*"))
        .write.mode(mode).partitionBy("pgrid").parquet(path)
    } else {
      tiles.write.mode(mode).parquet(path)
    }
  }

  /** Read a tile table written by [[write]]. */
  def read(spark: SparkSession, path: String): Dataset[Tile] = {
    import spark.implicits._
    val df = spark.read.parquet(path)
    df.select("loc", "grid", "shape", "data", "classes").as[Tile]
  }

  /** Read only the tiles intersecting a spatial box (grid-coordinate
    * ranges, inclusive). Bounds are Column predicates on `loc` elements —
    * codegen-evaluated, no typed deserialization of rejected rows. When the
    * table was written with `coarsePartitions` and the writer's `grid` is
    * supplied, a `pgrid` range predicate prunes whole directories (the
    * row-major linear index of any box is bounded by the corner indices).
    */
  def readBox(spark: SparkSession, path: String,
              lo: Array[Int], hi: Array[Int],
              grid: Option[Array[Int]] = None,
              coarsePartitions: Int = 0): Dataset[Tile] = {
    import spark.implicits._
    var df = spark.read.parquet(path)
    if (coarsePartitions > 0 && grid.isDefined &&
        df.columns.contains("pgrid")) {
      val g = grid.get
      val linLo = graft.core.Regions.linearIndex(lo, g)
      val linHi = graft.core.Regions.linearIndex(hi, g)
      df = df.filter(col("pgrid") >= linLo / coarsePartitions &&
        col("pgrid") <= linHi / coarsePartitions)
    }
    lo.indices.foreach { a =>
      df = df.filter(col("loc")(a) >= lo(a) && col("loc")(a) <= hi(a))
    }
    df.select("loc", "grid", "shape", "data", "classes").as[Tile]
  }

  /** Ingest a dense global image (one row per pixel: coords + value) into a
    * chunk-aligned tile table — the bulk-load path from a pixel-level
    * source. One shuffle, keyed by chunk.
    */
  def fromPixels(pixels: Dataset[(Array[Int], Long)], spec: GridSpec): Dataset[Tile] = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val grid = spec.gridShape
    val chunk = spec.chunk
    val dims = spec.dims
    pixels
      .groupByKey { case (coords, _) =>
        var lin = 0L
        var a = 0
        while (a < dims) { lin = lin * grid(a) + coords(a) / chunk(a); a += 1 }
        lin
      }
      .mapGroups { (lin, it) =>
        // decode chunk location from the linear index
        val loc = new Array[Int](dims)
        var rest = lin
        var a = dims - 1
        while (a >= 0) { loc(a) = (rest % grid(a)).toInt; rest /= grid(a); a -= 1 }
        val shape = spec.tileShape(loc)
        val data = new Array[Long](shape.product)
        val strides = graft.core.Nd.strides(shape)
        it.foreach { case (coords, v) =>
          var flat = 0
          var a = 0
          while (a < dims) {
            flat += (coords(a) - loc(a) * chunk(a)) * strides(a); a += 1
          }
          data(flat) = v
        }
        Tile(loc, grid.clone(), shape, data)
      }
  }
}
