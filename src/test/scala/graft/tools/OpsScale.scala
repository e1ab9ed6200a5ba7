package graft.tools

import org.apache.spark.sql.functions._

/** Throughput smoke for the beyond-reference relational operators at
  * synthetic scale (no disk dependency): as-of join, binned range join,
  * and the KMV sketch, each over tens of millions of generated rows on
  * local[32], reporting wall seconds, output rows, and shuffle bytes.
  *
  * `sbt "Test/runMain graft.tools.OpsScale 20"` -> 20M events, 2M states.
  */
object OpsScale {

  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toInt else 20
    val nEvents = m * 1000000L
    val nStates = nEvents / 10
    val nUsers = 100000L
    val spark = Probes.localSession()
    spark.sparkContext.setLogLevel("WARN")
    val shuffleBytes = new TaskMetricSum(spark.sparkContext,
      _.shuffleWriteMetrics.bytesWritten)

    // deterministic pseudo-random events: user via multiplicative hash,
    // time scattered over ~nEvents ticks
    val events = spark.range(nEvents).select(
      (col("id") * 2654435761L % nUsers).as("user_id"),
      (col("id") * 1103515245L % nEvents).as("t"),
      (col("id") % 1000).as("v"))
    val states = spark.range(nStates).select(
      (col("id") * 97003L % nUsers).as("user_id"),
      (col("id") * 48271L % nEvents).as("s_t"),
      (col("id") % 7).as("s_v"))
      .groupBy("user_id", "s_t").agg(max("s_v").as("s_v"))

    def probeN(name: String, work: Long)(f: => Long): Unit = {
      shuffleBytes.reset()
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"$name","sec":$sec%.1f,"rows":$rows,""" +
        f""""shuffleMB":${shuffleBytes.get() / 1e6}%.0f,""" +
        f""""rowsPerSec":${(work / sec).toLong}}""")
    }
    def probe(name: String)(f: => Long): Unit = probeN(name, nEvents)(f)

    probe("asof_join") {
      graft.plans.AsOf.join(events, states, Seq("user_id"), "t", "s_t").count()
    }
    probe("range_join") {
      val iv = states.select(col("user_id"), col("s_t").as("lo"),
        (col("s_t") + 50L).as("hi"))
      graft.ops.RangeJoin.pointInInterval(
        events, iv, Seq("user_id"), "t", "lo", "hi", binWidth = 64L).count()
    }
    probe("kmv_sketch") {
      events.select((col("user_id") % 64).as("g"),
          md5(concat(col("v").cast("string"), col("user_id").cast("string"))).as("h"))
        .groupBy("g")
        .agg(graft.functions.KMinStrings(col("h"), 64).as("kmin"))
        .count()
    }
    // real PNG encode+decode+features per image, all executor-side — the
    // multimodal column path; rowsPerSec here is images/second
    val nImages = m * 5000L
    probeN("png_codec", nImages) {
      import spark.implicits._
      spark.range(nImages).as[Long].mapPartitions(_.map { i =>
        val dec = graft.mm.ImageCodec.decode(graft.mm.ImageCodec.synthPng(i))
        graft.mm.ImageCodec.lumaHist(dec).sum
      }).filter(_ > 0).count()
    }
    // PQ encode at vector scale: 8 subspaces x 16 broadcast centroids,
    // aggregate argmin — rowsPerSec is vectors/second through the codebook
    val nVecs = m * 50000L
    probeN("pq_encode", nVecs) {
      import graft.functions.VectorFunctions.long_dot
      val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), " +
          "j -> CAST((id * 31 + j * 17) % 4001 - 2000 AS BIGINT))").as("qv"))
      val subs = vecs
        .select(col("vec_id"), explode(expr("sequence(0, 7)")).as("m"), col("qv"))
        .select(col("vec_id"), col("m"), expr("slice(qv, m * 8 + 1, 8)").as("sv"))
      val cents = subs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("m"), col("sv").as("cv"))
      subs.join(broadcast(cents), Seq("m"))
        .select(col("vec_id"), col("m"), col("cid"),
          (long_dot(col("sv"), col("sv"))
            - lit(2) * long_dot(col("sv"), col("cv"))
            + long_dot(col("cv"), col("cv"))).as("dist"))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("dist"), col("cid"))).as("mn"))
        .count()
    }
    // real WAV encode+decode per clip (javax.sound.sampled), executor-side —
    // rowsPerSec is clips/second (~500 frames each)
    val nClips = m * 5000L
    probeN("wav_codec", nClips) {
      import spark.implicits._
      spark.range(nClips).as[Long].mapPartitions(_.map { i =>
        graft.mm.AudioCodec.decode(graft.mm.AudioCodec.synthWav(i)).data.length.toLong
      }).filter(_ > 0).count()
    }
    // corpus-wide sentence dedup (the dd_paragraph shape): explode fixed
    // windows, one hash-partitioned window on the sentence key, reassemble —
    // rowsPerSec is documents/second (6 sentences each)
    val nDocs = m * 100000L
    probeN("paragraph_dedup", nDocs) {
      import org.apache.spark.sql.expressions.Window
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        expr("""transform(sequence(0, 5),
                 s -> concat_ws(' ', transform(sequence(0, 9),
                      j -> concat('w', (id * 7 + s * 13 + j) % 1000))))""").as("ss"))
      val sents = docs.select(col("doc_id"), posexplode(col("ss")))
      val w = Window.partitionBy("col").orderBy("doc_id", "pos")
      sents.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("kept"))
        .count()
    }
    // the same encode as ONE fused codegen expression (PqEncodeWord) —
    // no explode, no shuffle, one packed long per vector
    probeN("pq_encode_native", nVecs) {
      import graft.functions.VectorFunctions.pq_encode_word
      val flat = new Array[Long](8 * 16 * 8)
      for (c <- 0 until 16; m <- 0 until 8; j <- 0 until 8)
        flat((m * 16 + c) * 8 + j) = (c.toLong * 31 + (m * 8 + j) * 17) % 4001 - 2000
      spark.range(nVecs).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "j -> CAST((id * 31 + j * 17) % 4001 - 2000 AS BIGINT))").as("qv"))
        .select(pq_encode_word(col("qv"), lit(flat)).as("w"))
        .filter(col("w") >= 0).count()
    }
    // token counting A/B: the composable split+filter array path vs the
    // fused single-pass WsTokenCount expression over the same synthetic
    // ~40-token documents
    val nTcDocs = nEvents / 10
    val docs = spark.range(nTcDocs).select(expr(
      """concat_ws(' ', transform(sequence(0, CAST(20 + id % 40 AS INT)),
         j -> concat('w', CAST((id * 31 + j * 7) % 997 AS STRING))))""")
      .as("text"))
    probeN("tokcount_split", nTcDocs) {
      docs.select(expr(
        "CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT)")
        .as("n")).agg(sum("n")).collect()(0).getLong(0)
    }
    probeN("tokcount_native", nTcDocs) {
      docs.select(graft.functions.WsTokenCount(col("text")).as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
    }
    spark.stop()
  }
}
