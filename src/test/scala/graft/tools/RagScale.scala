package graft.tools

import org.apache.spark.sql.functions._

/** Throughput smoke for the round-8 training-set-prep operators at
  * synthetic scale (no disk dependency): fixed-stride chunking, salted
  * ring negative sampling, and per-user sequence construction, each over
  * millions of generated rows on local[32], reporting wall seconds, output
  * rows, and shuffle bytes — the numbers behind the "would this shape hold
  * at 100 TB" claims in COVERAGE.md.
  *
  * `sbt "Test/runMain graft.tools.RagScale 2"` -> 2M docs / 20M events.
  */
object RagScale {

  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toInt else 2
    val nDocs = m * 1000000L
    val nEvents = nDocs * 10
    val spark = Probes.localSession()
    spark.sparkContext.setLogLevel("WARN")
    val shuffleBytes = new TaskMetricSum(spark.sparkContext,
      _.shuffleWriteMetrics.bytesWritten)

    def timed(name: String)(rows: => Long): Unit = {
      shuffleBytes.reset()
      val t0 = System.nanoTime()
      val n = rows
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[ragscale] $name%-14s $sec%8.2f s  rows=$n%-12d " +
        f"shuffleMB=${shuffleBytes.get() / 1e6}%.1f")
    }

    // ~120 synthetic tokens per doc (deterministic), 64 sources
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat(lit("s"), (col("id") % 64).cast("string")).as("source"),
        expr("""concat_ws(' ', transform(sequence(1, 120),
                 i -> concat('t', CAST((id * 31 + i * 7) % 50000 AS STRING))))""")
          .as("text"))

    timed("chunk") {
      docs.withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, CAST((size(w) - 1) DIV 48 AS INT)),
             i -> md5(concat_ws(' ', slice(w, i * 48 + 1, 64))))""")))
        .count()
    }

    timed("negatives") {
      import org.apache.spark.sql.expressions.Window
      val ring = docs
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("r"))
        .withColumn("salt", substring(col("r"), 1, 2)) // 256 sub-rings/source
      val w = Window.partitionBy("source", "salt")
        .orderBy(col("r"), col("doc_id"))
      ring.select(col("doc_id") +:
          (1 to 4).map(i => lead(col("doc_id"), i).over(w).as(s"n$i")): _*)
        .select(col("doc_id"),
          posexplode(array((1 to 4).map(i => col(s"n$i")): _*)))
        .filter(col("col").isNotNull)
        .count()
    }

    timed("user_seq") {
      spark.range(nEvents)
        .select((col("id") % (nDocs / 10)).as("user_id"),
          (col("id") * 37 % 1000000007L).as("us"), col("id").as("event_id"),
          concat(lit("e"), (col("id") % 7).cast("string")).as("event_type"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          concat_ws(",", expr(
            """transform(
                 slice(array_sort(collect_list(struct(us, event_id, event_type))), 1, 32),
                 e -> e.event_type)""")).as("seq"))
        .count()
    }

    spark.stop()
  }
}
