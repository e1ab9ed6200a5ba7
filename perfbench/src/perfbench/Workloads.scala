package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.CCL
import graft.geojson.Annotate
import graft.ops.{Relabel, SegmentationFn}
import graft.sources.ZarrIO
import graft.tiles.Tile

/** The benchmark's segmentation: threshold, then connectivity-1 labeling.
  * With `withClasses` it also returns the mask as one class channel.
  */
final case class ThresholdCCL(withClasses: Boolean) extends SegmentationFn {
  def segment(tile: Tile): (Array[Long], Array[Array[Long]]) = {
    val mask = Gen.mask(tile.data)
    (CCL.label(mask, tile.shape), if (withClasses) Array(mask) else Array.empty[Array[Long]])
  }
}

/** What set-up learned from the first output: its digest, after that output
  * was checked against whole-image labeling of the same pixels.
  */
final case class Golden(digest: Long, objects: Int)

object Workload {
  /** Parity threshold of O3. Every chunk's share of a straddling box is at
    * least 1/(voxels of the largest box) > this value, so O3 decides every
    * box by the parity rule alone, and each box gets exactly one owner. At
    * the defaults (0.05 for image2labels, 0.5 for image2geojson) a box
    * with a small share in the owning chunk is dropped by every chunk.
    */
  val ParityThreshold = 1e-4
}

/** One workload: an input made from a seed, the end-to-end call a user
  * makes on it, and the same call split into one Spark action per phase.
  */
abstract class Workload(val spark: SparkSession, val g: Geometry, seed: Long, work: Path) {
  import spark.implicits._

  val seg: SegmentationFn
  /** The input image; kept for the whole-image checks. */
  var img: Array[Long] = _

  /** Generate the input and hand it to the engine. Part of set-up. */
  def prepare(): Unit
  /** Remove the previous call's output, so a call that writes nothing fails. */
  def clear(): Unit = ()
  /** Called once set-up is over, before the first measured call. */
  def measuring(): Unit = ()
  /** The timed end-to-end call. */
  def call(): Unit
  /** Digest of the last call's output (not timed). */
  def outputDigest(): Long
  /** Run the first call and check it against whole-image labeling. */
  def check(): Either[String, Golden]
  /** The call as one action per phase, inside `tr`'s spans; returns the
    * output digest. With `count`, also adds the per-layer counts to `out`.
    */
  def traced(tr: Tracer, count: Boolean, out: mutable.Map[String, Double]): Long

  protected def persisted[T](ds: Dataset[T]): Dataset[T] = { ds.persist(); ds.count(); ds }

  /** Whole-image labels of the input: the same segmentation on one tile. */
  def wholeLabels(): Array[Long] =
    seg.segment(Tile(new Array[Int](g.dims), Array.fill(g.dims)(1), g.shape, img))._1

  protected def sufficiencyViolations(input: Dataset[Tile]): Long =
    Relabel.overlapSufficiency(
      Relabel.segmentOverlappedInput(Relabel.prepareInput(input, g.spec, g.overlap), seg),
      g.overlap).count()

  /** Isomorphism with whole-image labeling, and zero overlap violations. */
  protected def checkLabels(out: Seq[Tile], input: Dataset[Tile]): Either[String, Int] = {
    val v = sufficiencyViolations(input)
    if (v != 0) Left(s"overlapSufficiency reports $v violations")
    else Verify.isomorphic(Verify.assemble(out, g), wholeLabels())
  }

  /** O1 to O3 as separate persisted actions. */
  protected def front(tr: Tracer, input: Dataset[Tile]): Seq[Dataset[Tile]] = {
    val o1 = tr.span("halo.o1")(persisted(Relabel.prepareInput(input, g.spec, g.overlap)))
    val o2 = tr.span("core.o2")(persisted(Relabel.segmentOverlappedInput(o1, seg)))
    val o3 = tr.span("core.o3")(persisted(Relabel.removeOverlappedLabels(o2, g.overlap, Workload.ParityThreshold)))
    Seq(o1, o2, o3)
  }

  /** O4 and the crop as separate persisted actions. */
  protected def back(tr: Tracer, removed: Dataset[Tile]): Seq[Dataset[Tile]] = {
    val o4 = tr.span("halo.o4")(persisted(Relabel.mergeOverlappedTiles(removed, g.overlap)))
    Seq(o4, tr.span("core.crop")(persisted(Relabel.cropToImage(o4, g.spec))))
  }

  private def objects(ds: Dataset[Tile]): Double =
    ds.map(t => t.data.distinct.count(_ != 0L).toLong).reduce(_ + _).toDouble

  /** Objects found by O2 and kept by O3's parity rule (from [[front]]'s
    * outputs), and the halo payloads: what O1 and O4 must move, from tile
    * shapes at 8 B a value. `o4Channels` is 0 where O4 does not run.
    */
  protected def coreCounts(out: mutable.Map[String, Double], front: Seq[Dataset[Tile]],
                           o4Channels: Int): Unit = {
    val seg = objects(front(1))
    val kept = objects(front(2))
    out("core.objects_segmented") = seg
    out("core.objects_kept") = kept
    out("core.keep_ratio") = if (seg > 0) kept / seg else 0.0
    out("halo.o1.payload_mb") = Payload.o1(g)
    out("halo.o4.payload_mb") = Payload.o4(g) * o4Channels
  }

  protected def withAll[T](ds: Seq[Dataset[_]])(f: => T): T =
    try f finally ds.foreach(_.unpersist(true))

  protected def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  /** Stored bytes of a store directory, without checksum side files. */
  protected def storeMb(p: Path): Double = {
    var n = 0L
    Files.walk(p).filter(f => Files.isRegularFile(f) && !f.toString.endsWith(".crc"))
      .forEach(f => n += Files.size(f))
    n / 1e6
  }
}

/** Bytes a halo exchange must move, modelled from the tile shapes. */
object Payload {
  private def dirs(dims: Int): Seq[Array[Int]] =
    Gen.locations(Array.fill(dims)(3)).map(_.map(_ - 1)).filter(_.exists(_ != 0))

  private def each(g: Geometry)(f: (Array[Int], Array[Int]) => Long): Double =
    Gen.locations(g.grid).map(loc => f(loc, g.spec.overlappedShape(loc, g.overlap))).sum * 8 / 1e6

  /** O1: every halo-expanded tile, core and margins. */
  def o1(g: Geometry): Double = each(g)((_, s) => s.map(_.toLong).product)

  /** O4: every overlapped tile plus each margin whose receiver merges it
    * under the parity rule (some shifted axis lands on an odd coordinate).
    */
  def o4(g: Geometry): Double = each(g) { (loc, s) =>
    val margins = dirs(g.dims).filter { d =>
      val dest = loc.indices.map(a => loc(a) + d(a))
      dest.indices.forall(a => dest(a) >= 0 && dest(a) < g.grid(a)) &&
        d.indices.exists(a => d(a) != 0 && dest(a) % 2 != 0)
    }
    s.map(_.toLong).product + margins.map(d =>
      d.indices.map(a => if (d(a) != 0) g.overlap(a).toLong else s(a).toLong).product).sum
  }
}

/** `labels3d_zarr`: zarr read, `sortLabelIndices` of 3-D `image2labels`
  * with a classes channel, zarr write.
  */
class Labels3dZarr(spark: SparkSession, g: Geometry, seed: Long, work: Path)
    extends Workload(spark, g, seed, work) {
  import spark.implicits._
  val seg = ThresholdCCL(withClasses = true)
  private val inStore = work.resolve("input.zarr")
  private val outStore = work.resolve("labels.zarr")

  def prepare(): Unit = {
    delete(inStore)
    img = Gen.image(seed, g)
    ZarrIO.write(spark.createDataset(Gen.tiles(img, g)), g.spec, inStore.toString, dtype = "|u1")
  }

  private def read(p: Path): Dataset[Tile] = ZarrIO.read(spark, p.toString)

  override def clear(): Unit = delete(outStore)

  protected def labels(in: Dataset[Tile]): Dataset[Tile] =
    Relabel.sortLabelIndices(Relabel.image2labels(in, g.spec, seg, g.overlap, Workload.ParityThreshold))

  def call(): Unit = ZarrIO.write(labels(read(inStore)), g.spec, outStore.toString)

  def outputDigest(): Long = Verify.digest(read(outStore))

  def check(): Either[String, Golden] = {
    clear()
    call()
    val out = read(outStore).collect().toSeq
    checkLabels(out, read(inStore)).flatMap { k =>
      val max = out.map(t => if (t.data.isEmpty) 0L else t.data.max).max
      if (max != k) Left(s"labels are not dense: max label $max for $k objects")
      else Right(Golden(Verify.digest(out), k))
    }
  }

  def traced(tr: Tracer, count: Boolean, out: mutable.Map[String, Double]): Long = {
    var in: Dataset[Tile] = null
    var f, b: Seq[Dataset[Tile]] = Nil
    var o10: Dataset[Tile] = null
    tr.call("labels3d_zarr") {
      in = tr.span("sources.read")(persisted(read(inStore)))
      f = front(tr, in)
      b = back(tr, f.last)
      o10 = tr.span("relabel.o10")(persisted(Relabel.sortLabelIndices(b.last)))
      tr.span("sources.write")(ZarrIO.write(o10, g.spec, outStore.toString))
    }
    withAll(in +: (f ++ b) :+ o10) {
      if (count) {
        // labels plus the one classes channel travel through O4
        coreCounts(out, f, o4Channels = 2)
        out("relabel.o10.labels") = o10.map(t => if (t.data.isEmpty) 0L else t.data.max)
          .reduce((x, y) => math.max(x, y)).toDouble
        out("sources.read.mb") = storeMb(inStore)
        out("sources.write.mb") = storeMb(outStore)
      }
      outputDigest()
    }
  }
}

/** `geojson2d`: `image2geojson`, then `zipAnnotations` into one archive. */
final class Geojson2d(spark: SparkSession, g: Geometry, seed: Long, work: Path)
    extends Workload(spark, g, seed, work) {
  import spark.implicits._
  val seg = ThresholdCCL(withClasses = false)
  private var input: Dataset[Tile] = _
  private val zip = work.resolve("annotations.zip")

  def prepare(): Unit = {
    if (input != null) input.unpersist(true)
    img = Gen.image(seed, g)
    input = persisted(spark.createDataset(Gen.tiles(img, g)))
  }

  override def clear(): Unit = Files.deleteIfExists(zip)

  def call(): Unit =
    Annotate.zipAnnotations(
      Relabel.image2geojson(input, g.spec, seg, g.overlap, Workload.ParityThreshold), zip)

  def outputDigest(): Long = Verify.zipDigest(zip)

  def check(): Either[String, Golden] = {
    clear()
    call()
    val features = Verify.zipFeatures(zip)
    val k = wholeLabels().max
    val v = sufficiencyViolations(input)
    if (v != 0) Left(s"overlapSufficiency reports $v violations")
    else if (features != k) Left(s"$features features for $k objects")
    else Right(Golden(outputDigest(), k.toInt))
  }

  def traced(tr: Tracer, count: Boolean, out: mutable.Map[String, Double]): Long = {
    var f: Seq[Dataset[Tile]] = Nil
    var o5: Dataset[Annotate.TileAnnotation] = null
    tr.call("geojson2d") {
      f = front(tr, input)
      o5 = tr.span("geojson.o5")(persisted(Annotate.annotateLabeledTiles(f.last, g.overlap)))
      tr.span("geojson.o6")(Annotate.zipAnnotations(o5, zip))
    }
    withAll(f :+ o5) {
      if (count) {
        coreCounts(out, f, o4Channels = 0)
        out("geojson.features") = Verify.zipFeatures(zip).toDouble
        val zf = new java.util.zip.ZipFile(zip.toFile)
        try out("geojson.json_mb") = zf.stream().mapToLong(_.getSize).sum() / 1e6
        finally zf.close()
        out("geojson.zip_mb") = Files.size(zip) / 1e6
      }
      outputDigest()
    }
  }
}

object Workloads {
  val Names = Seq("labels3d_zarr", "geojson2d")

  /** Full-size geometry, or a small one for the self-tests. */
  def geometry(name: String, small: Boolean): Geometry = (name, small) match {
    case ("labels3d_zarr", false) => Geometry(Array(32, 256, 256), Array(16, 128, 128), Array(8, 16, 16), 0.75)
    case ("labels3d_zarr", true)  => Geometry(Array(16, 128, 128), Array(8, 64, 64), Array(8, 16, 16), 0.75)
    case ("geojson2d", false)     => Geometry(Array(768, 768), Array(256, 256), Array(16, 16), 1.0)
    case ("geojson2d", true)      => Geometry(Array(256, 256), Array(64, 64), Array(16, 16), 1.0)
    case _ => throw new IllegalArgumentException(
      s"unknown workload '$name'; expected one of ${Names.mkString(", ")}")
  }

  def make(name: String, spark: SparkSession, seed: Long, work: Path, small: Boolean): Workload = {
    val g = geometry(name, small)
    Files.createDirectories(work)
    name match {
      case "labels3d_zarr" => new Labels3dZarr(spark, g, seed, work)
      case "geojson2d"     => new Geojson2d(spark, g, seed, work)
    }
  }
}
