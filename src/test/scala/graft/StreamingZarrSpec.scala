package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.rel.RelabelRel
import graft.sources.zarr.ZarrTableProvider
import graft.streaming.StreamingOps

/** The streaming zarr sink: batch/stream agreement, per-batch commit
  * atomicity under mid-stream failure, and redelivery idempotence.
  */
class StreamingZarrSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  // the store holds one cell per (tile, pixel): duplicate pixelsRaw rows
  // carry identical labels and collapse in the writer, mirroring the
  // oracle's DISTINCT pix CTE
  private def pixelAgg = RelabelRel.pixelsRaw(spark, sf)
    .select("gy", "gx", "py", "px", "label").distinct()
    .groupBy("gy", "gx")
    .agg(count(lit(1)).as("n_px"), sum("label").as("sum_label"))
    .collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3))).toMap

  test("streamed micro-batch appends reproduce the batch write") {
    val got = StreamingOps.zarrStreamWrite(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == pixelAgg)
  }

  test("the native DSv2 streaming sink reproduces the batch write") {
    val got = StreamingOps.zarrStreamWriteNative(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == pixelAgg)
  }

  test("native sink: adversarial row order round-trips (engine re-clusters)") {
    // rows deliberately interleaved across chunks and shuffled to one
    // partition: the sink's requiredDistribution/Ordering must re-cluster
    // them (the writer's revisit sentinel fails loudly if not)
    val store = TempDirs.create("graft_stzarrn_adv")
    val ckpt = TempDirs.create("graft_stzarrn_adv_ckpt")
    val stage = TempDirs.create("graft_stzarrn_adv_stage")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    val px = RelabelRel.pixelsRaw(spark, sf)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
      // adversarial: order by IN-CHUNK coordinates, so consecutive rows
      // hop between chunks as often as possible
      .orderBy("p0", "p1", "g1", "g0")
      .coalesce(1)
    px.write.mode("overwrite").parquet(stage)
    val stream = spark.readStream.schema(px.schema).parquet(stage)
    val q = stream.writeStream.format("zarr")
      .option("shape", s"$gyL,$gxL")
      .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
      .option("dtype", "<u2").option("compressor", "zlib")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start(store)
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.read.format("zarr").load(store)
      .filter(col("value") =!= 0)
      .groupBy(col("g0").as("gy"), col("g1").as("gx"))
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == pixelAgg)
  }

  test("native sink resumes from the checkpoint across query incarnations") {
    // incarnation 1 ingests grid rows 0-1, stops; rows 2+ land while the
    // query is DOWN; incarnation 2 on the SAME checkpoint must append
    // exactly the new regions — the offset log carries the boundary, and
    // the store ends byte-equivalent to one continuous run
    val store = TempDirs.create("graft_stzarrn_resume")
    val ckpt = TempDirs.create("graft_stzarrn_resume_ckpt")
    val stage = TempDirs.create("graft_stzarrn_resume_stage")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    val px = RelabelRel.pixelsRaw(spark, sf)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
    px.filter(col("g0") <= 1).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(px.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream.format("zarr")
        .option("shape", s"$gyL,$gxL")
        .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
        .option("dtype", "<u2").option("compressor", "zlib")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start(store)
      try q.processAllAvailable()
      finally q.stop()
    }
    runOnce()
    val mid = spark.read.format("zarr").load(store)
      .filter(col("value") =!= 0)
      .select(col("g0")).distinct().collect().map(_.getLong(0)).toSet
    assert(mid == Set(0L, 1L), s"incarnation 1 wrote rows $mid")
    px.filter(col("g0") >= 2).coalesce(1)
      .write.mode("append").parquet(stage)
    runOnce()
    val got = spark.read.format("zarr").load(store)
      .filter(col("value") =!= 0)
      .groupBy(col("g0").as("gy"), col("g1").as("gx"))
      .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == pixelAgg,
      "resumed incarnation must append exactly the missed regions")
  }

  test("incremental tile feed: native sink produces, streaming source consumes") {
    // the contract both ends document: a producer appends whole chunk
    // objects per epoch, a LIVE downstream streaming query discovers each
    // region exactly once — including regions that land AFTER the
    // consumer's first drain
    val store = TempDirs.create("graft_feed_store")
    val pCkpt = TempDirs.create("graft_feed_pckpt")
    val stage = TempDirs.create("graft_feed_stage")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    val px = RelabelRel.pixelsRaw(spark, sf)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
    def produce(): Unit = {
      val q = spark.readStream.schema(px.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .writeStream.format("zarr")
        .option("shape", s"$gyL,$gxL")
        .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
        .option("dtype", "<u2").option("compressor", "zlib")
        .option("checkpointLocation", pCkpt)
        .outputMode("append")
        .start(store)
      try q.processAllAvailable()
      finally q.stop()
    }
    // producer round 1: grid rows 0-1
    px.filter(col("g0") <= 1).coalesce(1)
      .write.mode("overwrite").parquet(stage)
    produce()
    // consumer starts and drains what exists so far
    val qn = "feed_sink"
    val consumer = graft.streaming.StateSizing.startSized(spark)(
      spark.readStream.format("zarr")
        .option("maxChunksPerTrigger", "2").load(store)
        .filter(col("value") =!= 0)
        .groupBy(col("g0").as("gy"), col("g1").as("gx"))
        .agg(count(lit(1)).as("n_px"), sum("value").as("sum_label"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(qn).start())
    try {
      consumer.processAllAvailable()
      val mid = spark.table(qn).select("gy").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(mid == Set(0L, 1L), s"consumer saw rows $mid before round 2")
      // producer round 2 appends the remaining rows WHILE the consumer
      // is live; the consumer's next drain must pick up exactly those
      px.filter(col("g0") >= 2).coalesce(1)
        .write.mode("append").parquet(stage)
      produce()
      consumer.processAllAvailable()
      val got = spark.table(qn)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(got == pixelAgg, "live consumer must converge to the batch agg")
    } finally consumer.stop()
  }

  test("native sink: a redelivered epoch commit is byte-identical idempotent") {
    // drive the StreamingWrite API directly: stage + commit epoch 7, then
    // redeliver it (restage + recommit) — the store's chunk objects and
    // metadata must be byte-identical after both commits
    import graft.sources.zarr.{ZarrStreamingWrite, ZarrStreamingWriterFactory}
    import graft.sources.{StoreIO, ZarrIO, ZarrLayout}
    import org.apache.spark.sql.catalyst.InternalRow
    val store = TempDirs.create("graft_stzarrn_redeliver")
    StoreIO.mkdirs(StoreIO.hadoopConf, store)
    val layout = ZarrLayout(
      ZarrIO.Meta(Array(4L, 4L), Array(2, 2), "<i8", "zlib", 0L, "."), v3 = false)
    val cols = Array("g0", "g1", "p0", "p1", "value")
    val sw = new ZarrStreamingWrite(store, layout,
      org.apache.spark.sql.types.StructType.fromDDL(
        "g0 BIGINT, g1 BIGINT, p0 BIGINT, p1 BIGINT, value BIGINT"),
      "q-redeliver")
    val factory = ZarrStreamingWriterFactory(store, layout, cols,
      StoreIO.broadcastConf(spark), "q-redeliver")
    def stageAndCommit(): Unit = {
      val w = factory.createWriter(0, 0L, 7L)
      for (p0 <- 0 until 2; p1 <- 0 until 2)
        w.write(InternalRow(0L, 1L, p0.toLong, p1.toLong,
          (p0 * 2 + p1 + 10).toLong))
      val msg = w.commit()
      sw.commit(7L, Array(msg))
    }
    stageAndCommit()
    def snapshot(): Map[String, Seq[Byte]] =
      StoreIO.list(StoreIO.hadoopConf, store).filter(_.isFile).map { f =>
        f.getPath.getName -> StoreIO.readAllBytes(StoreIO.hadoopConf,
          f.getPath.toString).toSeq
      }.toMap
    val first = snapshot()
    assert(first.keySet == Set("0.1", ".zarray"), s"store holds ${first.keySet}")
    stageAndCommit() // redelivery
    assert(snapshot() == first,
      "redelivered epoch must leave every byte of the store unchanged")
  }

  test("native sink rejects the sharded layout and truncation") {
    val store = TempDirs.create("graft_stzarrn_rej")
    val ckpt = TempDirs.create("graft_stzarrn_rej_ckpt")
    val stage = TempDirs.create("graft_stzarrn_rej_stage")
    val px = RelabelRel.pixelsRaw(spark, sf)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
    px.write.mode("overwrite").parquet(stage)
    val stream = spark.readStream.schema(px.schema).parquet(stage)
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    val e = intercept[Exception] {
      val q = stream.writeStream.format("zarr")
        .option("shape", s"$gyL,$gxL")
        .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
        .option("shards", s"${2 * RelabelRel.L},${2 * RelabelRel.L}")
        .option("dtype", "uint16").option("compressor", "gzip")
        .option("zarrFormat", "3")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start(store)
      try q.processAllAvailable() finally q.stop()
    }
    def rootMsg(t: Throwable): String = {
      var c = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(" | "); c = c.getCause }
      sb.toString
    }
    assert(rootMsg(e).contains("sharded") || rootMsg(e).contains("shard"),
      s"unexpected error: ${rootMsg(e)}")
  }

  test("a failed append leaves the prior committed batches readable") {
    val store = TempDirs.create("graft_stzarr_abort")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    def opts(df: org.apache.spark.sql.DataFrame) = df.write.format("zarr")
      .option("shape", s"$gyL,$gxL")
      .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
      .option("dtype", "<u2").option("compressor", "zlib")
    val px = RelabelRel.pixelsRaw(spark, sf)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
    // batch 1: grid rows 0..1 commit cleanly
    opts(px.filter(col("g0") <= 1)).mode("append").save(store)
    val before = spark.read.format("zarr").load(store)
      .filter(col("value") =!= 0).count()
    assert(before > 0)
    // batch 2: a poisoned row (in-chunk coordinate out of range) fails the
    // task -> the write aborts, dropping its staging dir only
    val poisoned = px.filter(col("g0") >= 2)
      .unionByName(spark.range(1).selectExpr("2L AS g0", "0L AS g1",
        s"${RelabelRel.L}L AS p0", "0L AS p1", "1L AS value"))
    intercept[Exception] { opts(poisoned).mode("append").save(store) }
    // the store is still readable and holds exactly the committed regions
    val after = spark.read.format("zarr").load(store)
    assert(after.filter(col("value") =!= 0).count() == before)
    assert(after.agg(max("g0")).collect()(0).getLong(0) == 1L)
    // no staging residue survives the abort
    assert(!new java.io.File(store).listFiles()
      .exists(_.getName.startsWith(".staging")))
  }

  test("redelivering a batch is idempotent") {
    val store = TempDirs.create("graft_stzarr_redeliver")
    val gyL = RelabelRel.GY.toLong * RelabelRel.L
    val gxL = RelabelRel.GX.toLong * RelabelRel.L
    val px = RelabelRel.pixelsRaw(spark, sf)
      .selectExpr("gy AS g0", "gx AS g1", "py AS p0", "px AS p1",
        "label AS value")
      .filter(col("g0") === 0)
    def deliver(): Unit = px.write.format("zarr")
      .option("shape", s"$gyL,$gxL")
      .option("chunks", s"${RelabelRel.L},${RelabelRel.L}")
      .option("dtype", "<u2").option("compressor", "zlib")
      .mode("append").save(store)
    deliver()
    val first = spark.read.format("zarr").load(store)
      .filter(col("value") =!= 0)
      .agg(count(lit(1)), sum("value")).collect()(0).toSeq
    deliver() // same region again, as a crashed-and-retried trigger would
    val second = spark.read.format("zarr").load(store)
      .filter(col("value") =!= 0)
      .agg(count(lit(1)), sum("value")).collect()(0).toSeq
    assert(first == second)
  }
}
