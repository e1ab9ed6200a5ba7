package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Dataset
import graft.geojson.Annotate
import graft.ops.{CCLSegmentation, Relabel}
import graft.tiles.GridSpec

/** O5/O6 tests against `ann_2d.npz` (converted to canonical JSON in test
  * resources, `ann_2d.json`).
  *
  * Parity tests (the four "... matches ann_2d"): contour tracing must
  * reproduce OpenCV point order bit-for-bit; compositions `labels2geojson` /
  * `image2geojson` must land on the same annotations from core-sized and
  * raw inputs respectively. They read the reference's npz corpus through
  * [[Goldens]].
  *
  * Sink tests (zip, annotation dir, Hadoop scheme): `zipAnnotations` and
  * `writeAnnotationDir` must write one `{loc}.geojson` per non-null row
  * with its body. Their input is `ann_2d.json` itself as a
  * `Dataset[TileAnnotation]`, so they need no corpus.
  */
class AnnotateGoldenSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val mapper = new ObjectMapper()
  private val ov = Array(2, 2)
  private val spec = GridSpec(Array(16L, 12L), Array(4, 4))

  private lazy val golden: Map[String, String] = {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource("/ann_2d.json").toURI)))
    val node = mapper.readTree(raw)
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map { e =>
      e.getKey -> (if (e.getValue.isNull) null else e.getValue.toString)
    }.toMap
  }

  /** `ann_2d.json` as the sink tests' input: one row per tile, `null` for
    * the empty tiles, spread over several partitions so the executor-side
    * writers and the zip sink's deflate run over several tasks.
    */
  private def goldenAnnotations: Dataset[Annotate.TileAnnotation] = {
    import spark.implicits._
    val rows = golden.toSeq.sortBy(_._1).map { case (k, v) => Annotate.TileAnnotation(k, v) }
    assert(rows.count(_.geojson != null) == 9 && rows.count(_.geojson == null) == 3,
      "ann_2d.json must hold 9 annotated and 3 empty tiles")
    spark.createDataset(spark.sparkContext.parallelize(rows, 4))
  }

  private def assertMatchesGolden(got: Seq[Annotate.TileAnnotation]): Unit = {
    assert(got.map(_.locKey).toSet == golden.keySet)
    for (a <- got) {
      val want = golden(a.locKey)
      if (want == null)
        assert(a.geojson == null, s"tile ${a.locKey}: expected empty, got ${a.geojson}")
      else {
        assert(a.geojson != null, s"tile ${a.locKey}: expected features, got null")
        assert(mapper.readTree(a.geojson) == mapper.readTree(want),
          s"tile ${a.locKey}:\ngot  ${a.geojson}\nwant $want")
      }
    }
  }

  test("annotate_labeled_tiles matches ann_2d") {
    val in = Goldens.tiles(spark, "rem_2d", Goldens.grid2d)
    val got = Annotate.annotateLabeledTiles(in, ov).collect().toSeq
    assertMatchesGolden(got)
  }

  test("annotate with classes channel matches ann_2d") {
    val in = Goldens.tiles(spark, "rem_2d", Goldens.grid2d, withClasses = true)
    val got = Annotate.annotateLabeledTiles(in, ov, Some(Map(1L -> "cell")))
      .collect().toSeq
    assertMatchesGolden(got)
  }

  test("labels2geojson from core tiles matches ann_2d") {
    val in = Goldens.tiles(spark, "trim_2d", Goldens.grid2d)
    val got = Relabel.labels2geojson(in, spec, ov, threshold = 0.25)
      .collect().toSeq
    assertMatchesGolden(got)
  }

  test("image2geojson end-to-end matches ann_2d") {
    val in = Goldens.tiles(spark, "input_2d", Goldens.grid2d)
    val got = Relabel.image2geojson(in, spec, CCLSegmentation(), ov,
      threshold = 0.25).collect().toSeq
    assertMatchesGolden(got)
  }

  test("zip sink writes one member per non-empty tile") {
    val ann = goldenAnnotations
    val out = java.nio.file.Paths.get(TempDirs.create("graft-zip"))
      .resolve("annotations.zip")
    Annotate.zipAnnotations(ann, out)
    val zf = new java.util.zip.ZipFile(out.toFile)
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSet
      val expected = golden.collect { case (k, v) if v != null => s"$k.geojson" }.toSet
      assert(names == expected)
      // round-trip one member
      val e = zf.getEntry(expected.head)
      val body = new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
      assert(mapper.readTree(body) ==
        mapper.readTree(golden(expected.head.stripSuffix(".geojson"))))
    } finally zf.close()
  }

  test("zip sink: one job, members equal to a default-level ZipOutputStream, empty input is a valid archive") {
    import scala.jdk.CollectionConverters._
    val ann = goldenAnnotations
    val dir = java.nio.file.Paths.get(TempDirs.create("graft-zipraw"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try {
      org.apache.spark.ListenerDrain.drain(sc)
      jobs.set(0)
      Annotate.zipAnnotations(ann, dir.resolve("a.zip"))
      org.apache.spark.ListenerDrain.drain(sc)
      assert(jobs.get == 1, s"zipAnnotations ran ${jobs.get} jobs")
    } finally sc.removeSparkListener(counter)

    // the same bodies, in the same order, through ZipOutputStream at its
    // default level (no setLevel call)
    val bodies = ann.collect().filter(_.geojson != null)
      .map(a => s"${a.locKey}.geojson" -> a.geojson.getBytes("UTF-8"))
    val ref = dir.resolve("ref.zip")
    val zos = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(ref))
    try bodies.foreach { case (name, body) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name)); zos.write(body); zos.closeEntry()
    } finally zos.close()

    def members(p: java.nio.file.Path): Seq[(String, Long, Long, Seq[Byte])] = {
      val zf = new java.util.zip.ZipFile(p.toFile)
      try zf.entries().asScala.map { e =>
        (e.getName, e.getCrc, e.getCompressedSize,
          zf.getInputStream(e).readAllBytes().toSeq)
      }.toSeq
      finally zf.close()
    }
    val got = members(dir.resolve("a.zip"))
    assert(got.map(_._1) == bodies.map(_._1).toSeq, "member names or their order differ")
    assert(got == members(ref), "name, CRC, compressed size or body differs from ZipOutputStream")
    assert(got.map(_._4) == bodies.map(_._2.toSeq).toSeq)

    // no member: the archive is the 22-byte end-of-central-directory record
    import spark.implicits._
    val empty = dir.resolve("empty.zip")
    Annotate.zipAnnotations(spark.emptyDataset[Annotate.TileAnnotation], empty)
    assert(java.nio.file.Files.size(empty) == 22L)
    assert(members(empty).isEmpty)
  }

  test("annotation dir sink writes through a non-default Hadoop scheme") {
    // the 100 TB deployment's sink target is HDFS/an object store, not a
    // POSIX mount: drive the executor-side writer through the test-only
    // `cfs:` Hadoop filesystem (the exact code path an `s3a://` URI takes
    // — scheme resolution on the driver, per-file creates from executors
    // via the serialized Hadoop conf) and golden-check what landed
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", "graft.CountingFileSystem")
    val backing = java.nio.file.Paths.get(TempDirs.create("graft-anncfs"))
    val ann = goldenAnnotations
    val n = Annotate.writeAnnotationDir(ann, "cfs:" + backing.toAbsolutePath)
    val files = backing.toFile.listFiles()
      .map(_.getName).filterNot(_.endsWith(".crc")).toSet
    val expected = golden.collect { case (k, v) if v != null => s"$k.geojson" }.toSet
    assert(n == expected.size && files == expected,
      s"cfs sink wrote $files, expected $expected")
    for (f <- files) {
      val body = new String(
        java.nio.file.Files.readAllBytes(backing.resolve(f)), "UTF-8")
      assert(mapper.readTree(body) ==
        mapper.readTree(golden(f.stripSuffix(".geojson"))))
    }
  }

  test("zip sink writes through a non-default Hadoop scheme; empty is a no-op row count") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", "graft.CountingFileSystem")
    val backing = java.nio.file.Paths.get(TempDirs.create("graft-zipcfs"))
    val ann = goldenAnnotations
    Annotate.zipAnnotations(ann, "cfs:" + backing.resolve("a.zip"))
    val zf = new java.util.zip.ZipFile(backing.resolve("a.zip").toFile)
    try {
      import scala.jdk.CollectionConverters._
      val names = zf.entries().asScala.map(_.getName).toSet
      val expected = golden.collect { case (k, v) if v != null => s"$k.geojson" }.toSet
      assert(names == expected, "cfs zip members must match the golden set")
    } finally zf.close()
    // and the dir sink on an EMPTY dataset: directory created, 0 written
    import spark.implicits._
    val empty = spark.emptyDataset[Annotate.TileAnnotation]
    val emptyDir = backing.resolve("empty")
    assert(Annotate.writeAnnotationDir(empty,
      "cfs:" + emptyDir.toAbsolutePath) == 0L)
    assert(java.nio.file.Files.isDirectory(emptyDir) &&
      emptyDir.toFile.listFiles().isEmpty)
  }

  test("executor-side annotation dir matches the zip members") {
    val ann = goldenAnnotations
    val dir = java.nio.file.Paths.get(TempDirs.create("graft-anndir"))
    val n = Annotate.writeAnnotationDir(ann, dir)
    // hidden `.crc` siblings are local-ChecksumFileSystem metadata
    val files = dir.toFile.listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    val expected = golden.collect { case (k, v) if v != null => s"$k.geojson" }.toSet
    assert(n == expected.size && files == expected)
    for (f <- files) {
      val body = new String(java.nio.file.Files.readAllBytes(dir.resolve(f)), "UTF-8")
      assert(mapper.readTree(body) ==
        mapper.readTree(golden(f.stripSuffix(".geojson"))))
    }
  }
}
