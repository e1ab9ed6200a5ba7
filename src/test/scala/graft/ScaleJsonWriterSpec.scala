package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ShuffleScale

/** CI pins for the SCALE.json writer's round-16 contract: the machine
  * artifact must never lose flagship evidence (max-certified-size row wins
  * per family), a partial run must refuse to fabricate a fresh artifact,
  * and the serialization must stay locale-proof valid JSON — each of these
  * was a real defect or near-miss adjudicated in rounds 15-16, so each is
  * pinned by a test rather than by prose.
  */
class ScaleJsonWriterSpec extends AnyFunSuite {

  private def tmpRoot(): Path = {
    val d = Paths.get(TempDirs.create("scalejson_spec"))
    d
  }

  private def row(sizes: Seq[Long], top: Double): String =
    s"""{"sizes": [${sizes.mkString(", ")}], "secs": [1.000, 2.000, 4.000], """ +
      s""""rows": [${sizes.mkString(", ")}], """ +
      s""""top_leg_exponent": ${ShuffleScale.jd(top, "%.3f")}, """ +
      s""""exponent_3pt": 1.000, "calib_start": 2.000, "calib_end": 2.000, """ +
      s""""load_start": 1.00, "load_end": 1.00, "unix": 1, "plan_assert": "x"}"""

  private def full(sizes: Seq[Long], top: Double = 1.0): Map[String, String] =
    Map("lsh" -> row(sizes, top), "ivf" -> row(sizes, top),
      "halo" -> row(sizes, top))

  test("a full write round-trips as valid JSON with all three families") {
    val root = tmpRoot()
    ShuffleScale.writeScaleJson(full(Seq(1L, 4L, 16L)), root)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("SCALE.json").toFile)
    assert(node.get("families").size() == 3)
    assert(node.get("families").get("lsh").get("sizes").get(2).asLong() == 16L)
  }

  test("a smaller validation run cannot displace the max-certified row") {
    val root = tmpRoot()
    ShuffleScale.writeScaleJson(full(Seq(200000L, 800000L, 3200000L)), root)
    // the r15 failure mode: a 50k-base validation pass overwrote the
    // flagship rows; the merge must now keep the banked larger-size row
    ShuffleScale.writeScaleJson(Map("lsh" -> row(Seq(5L, 20L, 80L), 0.1)), root)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("SCALE.json").toFile)
    assert(node.get("families").get("lsh").get("sizes").get(2).asLong()
      == 3200000L, "validation run displaced the flagship lsh row")
    assert(node.get("families").size() == 3, "merge dropped a family")
  }

  test("a larger run displaces the banked row; absent families survive") {
    val root = tmpRoot()
    ShuffleScale.writeScaleJson(full(Seq(1L, 4L, 16L)), root)
    ShuffleScale.writeScaleJson(Map("lsh" -> row(Seq(10L, 40L, 160L), 0.9)),
      root)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("SCALE.json").toFile)
    assert(node.get("families").get("lsh").get("sizes").get(2).asLong() == 160L)
    assert(node.get("families").get("ivf").get("sizes").get(2).asLong() == 16L)
  }

  test("an equal-size re-run cannot silently displace the banked row") {
    val root = tmpRoot()
    ShuffleScale.writeScaleJson(full(Seq(200000L, 800000L, 3200000L),
      top = 1.179), root)
    // the r16 hole (verdict #2 / ADVICE): fresh-wins at EQUAL max size let
    // a same-size re-run — the exact shape of a contaminated re-measure —
    // displace certified flagship evidence with no force flag
    ShuffleScale.writeScaleJson(
      Map("lsh" -> row(Seq(200000L, 800000L, 3200000L), 0.892)), root,
      force = false)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("SCALE.json").toFile)
    assert(node.get("families").get("lsh").get("top_leg_exponent")
      .asDouble() == 1.179, "equal-size re-run displaced the banked row")
  }

  test("GRAFT_SCALE_FORCE displaces at equal (and smaller) size") {
    val root = tmpRoot()
    ShuffleScale.writeScaleJson(full(Seq(200000L, 800000L, 3200000L),
      top = 1.179), root)
    ShuffleScale.writeScaleJson(
      Map("lsh" -> row(Seq(200000L, 800000L, 3200000L), 0.892)), root,
      force = true)
    ShuffleScale.writeScaleJson(
      Map("ivf" -> row(Seq(5L, 20L, 80L), 0.5)), root, force = true)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("SCALE.json").toFile)
    assert(node.get("families").get("lsh").get("top_leg_exponent")
      .asDouble() == 0.892, "forced equal-size displacement did not land")
    assert(node.get("families").get("ivf").get("sizes").get(2).asLong()
      == 80L, "forced smaller-size displacement did not land")
  }

  test("heap_gib renders locale-proof and reads back the real max heap") {
    // the field is evidence (r16: 18.9 -> 26.4 s on heap geometry alone),
    // so pin that it is a '.'-decimal JSON number near the JVM's actual
    // -Xmx rather than an env-var echo
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val s = ShuffleScale.heapGib()
      assert(s.matches("""\d+\.\d"""), s"heap_gib not a plain decimal: $s")
      val gib = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
      assert(math.abs(s.toDouble - gib) < 0.06, s"heap_gib $s vs JVM $gib")
    } finally Locale.setDefault(prev)
  }

  test("a partial run with no banked artifact refuses to write") {
    val root = tmpRoot()
    intercept[IllegalArgumentException] {
      ShuffleScale.writeScaleJson(Map("lsh" -> row(Seq(1L, 4L, 16L), 1.0)),
        root)
    }
    assert(!Files.exists(root.resolve("SCALE.json")),
      "partial artifact written despite the guard")
  }

  test("number formatting stays '.'-decimal valid JSON under a comma locale") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY) // %.3f would render 1,234 here
    try {
      assert(ShuffleScale.jd(1.234, "%.3f") == "1.234")
      val root = tmpRoot()
      ShuffleScale.writeScaleJson(full(Seq(1L, 4L, 16L), top = 1.027), root)
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(root.resolve("SCALE.json").toFile)
      assert(node.get("families").get("ivf").get("top_leg_exponent")
        .asDouble() == 1.027)
    } finally Locale.setDefault(prev)
  }
}
