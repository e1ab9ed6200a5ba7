package graft.tools

import org.apache.spark.sql.functions._

/** Throughput shape for the spatial joins at synthetic scale: N million
  * points against N*0.1 million polygons over a domain sized to keep cell
  * occupancy constant — the configuration a 100 TB geo table normalizes
  * to. Reports wall seconds, candidate pairs, contained pairs, and
  * shuffle bytes for the binned point-in-polygon join, plus the radius
  * join's 3x3 stencil at matched density.
  *
  * `sbt "Test/runMain graft.tools.SpatialScale 4"` -> 4M points / 0.4M polys.
  */
object SpatialScale {

  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toInt else 4
    val nPts = m * 1000000L
    val nPolys = nPts / 10
    // domain scales with sqrt(n): constant density, constant per-cell work
    val domain = math.max(1024L,
      math.round(math.sqrt(nPts.toDouble)) * 8)
    val spark = Probes.localSession()
    spark.sparkContext.setLogLevel("WARN")
    val shuffleBytes = new TaskMetricSum(spark.sparkContext,
      _.shuffleWriteMetrics.bytesWritten)
    spark.range(0).count() // warm the session

    def timed(name: String)(rows: => Long): Unit = {
      shuffleBytes.reset()
      val t0 = System.nanoTime()
      val n = rows
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[spatialscale] $name%-12s $sec%8.2f s  rows=$n%-12d " +
        f"shuffleMB=${shuffleBytes.get() / 1e6}%.1f")
    }

    val C = 64
    spark.range(nPolys).createOrReplaceTempView("pk")
    spark.range(nPts).createOrReplaceTempView("lk")
    spark.sql(s"""
      SELECT id AS poly_id,
             64 + (id * 37) % $domain AS cx, 64 + (id * 91) % $domain AS cy,
             1 + (id * 13) % 50 AS r1, 1 + (id * 29) % 50 AS r2,
             1 + (id * 53) % 50 AS r3, 1 + (id * 71) % 50 AS r4
      FROM pk""").createOrReplaceTempView("polys")
    spark.sql(s"""
      SELECT id AS pt_id, 64 + (id * 7) % $domain AS px,
             64 + (id * 11 + 5) % $domain AS py
      FROM lk""").createOrReplaceTempView("pts")

    val cells = domain / C + 3
    timed("pip_join") {
      spark.sql(s"""
        WITH pc AS (
          SELECT poly_id, cx, cy, r1, r2, r3, r4,
                 explode(flatten(transform(
                   sequence((cx - r3) div $C, (cx + r1) div $C),
                   xc -> transform(sequence((cy - r4) div $C, (cy + r2) div $C),
                                   yc -> xc * $cells + yc)))) AS cell
          FROM polys)
        SELECT count(*) FROM pts JOIN pc
          ON (px div $C) * $cells + (py div $C) = pc.cell
        WHERE ${graft.rel.SpatialOps.INSIDE}""").collect()(0).getLong(0)
    }

    val R = 16
    timed("radius_join") {
      spark.sql(s"""
        WITH probe AS (
          SELECT pt_id, px, py,
                 explode(flatten(transform(sequence(-1, 1),
                   dx -> transform(sequence(-1, 1),
                     dy -> (px div $R + dx) * ${4 * cells} +
                           (py div $R + dy))))) AS cell
          FROM pts),
        sites AS (SELECT poly_id AS site_id, cx AS sx, cy AS sy FROM polys)
        SELECT count(*) FROM probe JOIN sites
          ON (sx div $R) * ${4 * cells} + (sy div $R) = probe.cell
        WHERE (px - sx) * (px - sx) + (py - sy) * (py - sy) <= ${R * R}""")
        .collect()(0).getLong(0)
    }

    spark.stop()
  }
}
