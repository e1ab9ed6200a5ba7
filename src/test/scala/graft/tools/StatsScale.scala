package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Throughput smoke for the round-8 product-analytics shapes at synthetic
  * scale (no disk dependency): the daily lifecycle ledger, order-blocked
  * basket pair mining, the Markov transition build, and the RFM collapse,
  * each over tens of millions of generated events on local[32] —
  * wall seconds, output rows, and shuffle bytes behind the "would this
  * hold at 100 TB" claims in COVERAGE.md.
  *
  * `sbt "Test/runMain graft.tools.StatsScale 2"` -> 20M events / 200k users.
  */
object StatsScale {

  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toInt else 2
    val nEvents = m * 10000000L
    val nUsers = m * 100000L
    val spark = Probes.localSession()
    spark.sparkContext.setLogLevel("WARN")
    val shuffleBytes = new TaskMetricSum(spark.sparkContext,
      _.shuffleWriteMetrics.bytesWritten)

    def timed(name: String)(rows: => Long): Unit = {
      shuffleBytes.reset()
      val t0 = System.nanoTime()
      val n = rows
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[statsscale] $name%-12s $sec%8.2f s  rows=$n%-12d " +
        f"shuffleMB=${shuffleBytes.get() / 1e6}%.1f")
    }

    // 30 days of events: skewed per-user activity, 5 types, micro values
    val ev = spark.range(nEvents).select(
      expr(s"(id * 2654435761) % $nUsers").as("user_id"),
      expr("(id * 40503) % 2592000 * 1000000").as("us"),
      expr("element_at(array('view','click','purchase','signup','error'), " +
        "CAST(id % 5 + 1 AS INT))").as("event_type"),
      expr("(id * 131) % 200000000").as("qv"))

    // 1. daily lifecycle ledger: distinct user-day + lag/lead + churn post
    timed("lifecycle") {
      val wk = Window.partitionBy("user_id").orderBy("day")
      val uw = ev.select(col("user_id"), expr("us div 86400000000").as("day"))
        .distinct()
      val base = uw
        .withColumn("prevw", lag("day", 1).over(wk))
        .withColumn("nextw", lead("day", 1).over(wk))
      base.select(col("day"),
          when(col("prevw").isNull, "new")
            .when(col("prevw") === col("day") - 1, "retained")
            .otherwise("resurrected").as("state"))
        .unionByName(base
          .filter(col("nextw").isNull || col("nextw") > col("day") + 1)
          .select((col("day") + 1).as("day"), lit("churned").as("state")))
        .groupBy("day", "state").agg(count(lit(1)).as("n"))
        .count()
    }

    // 2. basket mining: ~6 items per order, pair join blocked on order key
    timed("basket") {
      val li = spark.range(nEvents / 2).select(
        expr("id div 6").as("ok"),
        expr("(id * 2246822519) % 200000").as("pk"))
        .distinct()
      li.as("a").join(li.as("b"), expr("a.ok = b.ok AND a.pk < b.pk"))
        .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= 3)
        .count()
    }

    // 3. Markov transition matrix: one user-partitioned lag + count
    timed("transitions") {
      val w = Window.partitionBy("user_id").orderBy("us")
      ev.withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy("prev", "event_type").agg(count(lit(1)).as("n"))
        .count()
    }

    // 4. RFM collapse: one user-keyed aggregate + broadcast watermark fold
    timed("rfm") {
      val users = ev.groupBy("user_id")
        .agg(max("us").as("r_us"), count(lit(1)).as("f"), sum("qv").as("m"))
      val tmax = ev.groupBy().agg(max("us").as("tmax"))
      users.crossJoin(broadcast(tmax))
        .select(
          when(col("tmax") - col("r_us") < 21600000000L, "hot")
            .when(col("tmax") - col("r_us") < 86400000000L, "warm")
            .otherwise("cold").as("r_band"),
          when(col("f") >= 120, "high").when(col("f") >= 90, "mid")
            .otherwise("low").as("f_band"))
        .groupBy("r_band", "f_band").agg(count(lit(1)).as("n"))
        .count()
    }

    spark.stop()
  }
}
