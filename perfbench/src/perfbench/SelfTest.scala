package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.tiles.Tile

/** The benchmark's own tests, on small images. Prints one line per test and
  * exits non-zero if any fails.
  *
  * Usage: SelfTest --work <dir> --benchmark-json <path to BENCHMARK.json>
  */
object SelfTest {

  private val om = new ObjectMapper()

  /** `labels3d_zarr` whose calls after set-up change one output label. */
  final class FlipOne(spark: SparkSession, g: Geometry, seed: Long, work: Path)
      extends Labels3dZarr(spark, g, seed, work) {
    import spark.implicits._
    // set-up's calls (warm-up and the checked one) stay correct
    private var corrupt = false
    override def measuring(): Unit = corrupt = true
    override protected def labels(in: Dataset[Tile]): Dataset[Tile] =
      if (!corrupt) super.labels(in)
      else super.labels(in).map { t =>
        if (t.loc.exists(_ != 0)) t
        else {
          val data = t.data.clone()
          val i = data.indexWhere(_ != 0L)
          data(i) += 1
          t.copy(data = data)
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(m("work")).toAbsolutePath
    val bench = om.readTree(Files.readAllBytes(Paths.get(m("benchmark-json"))))
    val spark = Main.session(work)
    var failures = 0
    def test(name: String)(body: => Unit): Unit = {
      val ok = try { body; true } catch {
        case NonFatal(e) => println(s"FAIL - $name: $e"); false
        case e: AssertionError => println(s"FAIL - $name: ${e.getMessage}"); false
      }
      if (ok) println(s"ok - $name") else failures += 1
    }
    def run(wl: Workload, name: String, trace: Boolean): JsonNode =
      om.readTree(Main.run(spark, Options(name, 7, 1, trace, work), 0.0, wl))
    def small(name: String, seed: Long) =
      Workloads.make(name, spark, seed, work.resolve(s"$name-$seed"), small = true)

    try {
      test("the same seed gives the same input and output digests") {
        val g = Workloads.geometry("labels3d_zarr", small = true)
        assert(Gen.image(3, g).sameElements(Gen.image(3, g)), "same seed, different image")
        assert(!Gen.image(3, g).sameElements(Gen.image(4, g)), "different seeds, same image")
        val digests = Seq(3L, 3L, 4L).map { seed =>
          val wl = small("labels3d_zarr", seed)
          wl.prepare()
          wl.check().fold(e => throw new AssertionError(e), _.digest)
        }
        assert(digests(0) == digests(1), "same seed, different output digest")
        assert(digests(0) != digests(2), "different seeds, same output digest")
      }

      test("the whole-image check catches one relabelled pixel") {
        val wl = small("labels3d_zarr", 3)
        wl.prepare()
        val whole = wl.wholeLabels()
        assert(Verify.isomorphic(whole.clone(), whole).isRight)
        val flipped = whole.clone()
        val i = flipped.indexWhere(_ != 0L)
        flipped(i) = whole.max + 1
        assert(Verify.isomorphic(flipped, whole).isLeft, "a split object passed")
        flipped(i) = 0L
        assert(Verify.isomorphic(flipped, whole).isLeft, "a lost pixel passed")
      }

      test("the tail is the 75th percentile and sees slow calls the median does not") {
        val calls = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.2, 1.3, 3.0)
        assert(Metrics.median(calls) == 1.0)
        assert(Metrics.tail(calls) == (1.2, 2), s"tail ${Metrics.tail(calls)}")
        assert(Metrics.tail(Seq(2.0)) == (2.0, 0))
      }

      test("flipping one output label is caught by every call") {
        val g = Workloads.geometry("labels3d_zarr", small = true)
        val r = run(new FlipOne(spark, g, 7, work.resolve("flip")), "labels3d_zarr", trace = false)
        assert(!r.get("correct").asBoolean, "a corrupted output was reported correct")
        assert(r.get("failed").asLong == r.get("attempted").asLong,
          s"${r.get("failed")} of ${r.get("attempted")} corrupted calls failed")
        assert(r.get("metrics").get("verified_frac").get("value").asDouble == 0.0)
      }

      for ((section, table) <- Seq("end_to_end" -> Metrics.EndToEnd, "per_layer" -> Metrics.PerLayer))
        test(s"BENCHMARK.json $section lists the reported metrics and units") {
          val listed = bench.get(section).elements().asScala
            .map(n => n.get("name").asText -> n.get("unit").asText).toSeq
          assert(listed == table, s"BENCHMARK.json: $listed\nreported: $table")
        }

      // phases that only one workload runs
      val ran = Map("relabel.o10.s" -> "labels3d_zarr", "sources.read.s" -> "labels3d_zarr",
        "geojson.o6.s" -> "geojson2d")
      for (name <- Workloads.Names; trace <- Seq(false, true))
        test(s"$name --trace ${if (trace) 1 else 0} emits every metric with its unit") {
          val r = run(small(name, 7), name, trace)
          assert(r.get("correct").asBoolean && r.get("failed").asLong == 0, s"run failed: $r")
          val table = if (trace) Metrics.PerLayer else Metrics.EndToEnd
          val got = r.get("metrics").fields().asScala
            .map(e => e.getKey -> e.getValue.get("unit").asText).toSeq
          assert(got == table, s"emitted $got")
          val value = (k: String) => r.get("metrics").get(k).get("value").asDouble
          if (trace) {
            assert(value("halo.o1.s") > 0 && value("core.o2.s") > 0, "a common phase was not timed")
            ran.foreach { case (phase, wl) =>
              assert((value(phase) > 0) == (wl == name), s"$phase on $name reads ${value(phase)}")
            }
            assert(value("core.keep_ratio") > 0 && value("core.keep_ratio") < 1)
          } else
            table.foreach { case (k, _) => assert(value(k) > 0, s"$k reads ${value(k)}") }
        }
    } finally spark.stop()
    if (failures > 0) {
      println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
  }
}
