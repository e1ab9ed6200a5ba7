package graft

import java.nio.file.{Files, Path, Paths}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** CI pin for `tools/compare_bench.py`'s exit-code contract (round 17):
  * the tool is the cross-round adjudication protocol as code, so its three
  * verdict classes — 0 HELD / 1 REGRESSION / 2 NOT-ADJUDICABLE — must not
  * drift under edits any more than the SCALE.json writer may
  * (ScaleJsonWriterSpec's rationale). Each case builds minimal synthetic
  * artifacts with exactly one decisive feature; the docstring's
  * self-check against the real committed artifacts stays the
  * integration-level evidence.
  */
class CompareBenchSpec extends AnyFunSuite {

  private val python: Option[String] =
    Seq("python3", "python").find { p =>
      try Process(Seq(p, "--version")).!(ProcessLogger(_ => ())) == 0
      catch { case _: Exception => false }
    }

  private val tool = graft.tools.ShuffleScale.repoRoot()
    .resolve("tools/compare_bench.py")

  /** A minimal quiet-window artifact; override per case. */
  private def artifact(queries: Map[String, Double],
      loadMax: Double = 9.0, loadStart: Double = 0.5,
      calibStart: Double = 4.0, calibEnd: Double = 4.0,
      flagged: Seq[String] = Nil): String = {
    val qs = queries.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val fl = flagged.map("\"" + _ + "\"").mkString(",")
    s"""{"queries":{$qs},"load_max":$loadMax,"load_start":$loadStart,""" +
      s""""calib_s":$calibStart,"calib_start_s":$calibStart,""" +
      s""""calib_end_s":$calibEnd,"episode_load_threshold":12.0,""" +
      s""""flagged":[$fl],"failed":[],"value":${queries.values.sum}}"""
  }

  private def write(dir: Path, name: String, body: String): String = {
    val p = dir.resolve(name)
    Files.write(p, body.getBytes("UTF-8"))
    p.toString
  }

  private def run(files: String*): Int = {
    Process(Seq(python.get, tool.toString) ++ files).!(
      ProcessLogger(_ => (), _ => ()))
  }

  private def withDir(f: Path => Unit): Unit = {
    val d = Paths.get(TempDirs.create("comparebench_spec"))
    f(d)
  }

  private val base = Map("q_big" -> 3.0, "q_small" -> 0.4, "q_mid" -> 1.2)

  test("identical quiet runs adjudicate HELD (exit 0)") {
    assume(python.nonEmpty, "no python interpreter on PATH")
    withDir { d =>
      val b = write(d, "base.json", artifact(base))
      val c = write(d, "cand.json", artifact(base))
      assert(run(b, c) == 0)
    }
  }

  test("a multi-second gate beyond 1.5x and 0.75s is a REGRESSION (exit 1)") {
    assume(python.nonEmpty, "no python interpreter on PATH")
    withDir { d =>
      val b = write(d, "base.json", artifact(base))
      val c = write(d, "cand.json",
        artifact(base + ("q_big" -> 6.0))) // 2.0x, delta 3.0s
      assert(run(b, c) == 1)
    }
  }

  test("sub-second ratio spikes and sub-delta drifts stay inside the band") {
    assume(python.nonEmpty, "no python interpreter on PATH")
    withDir { d =>
      val b = write(d, "base.json", artifact(base))
      // q_small 3x (sub-second: measured clean-to-clean spreads reach
      // 3.8x); q_mid 1.58x but delta 0.7 < 0.75 (one scheduler-floor
      // quantum) — neither may qualify
      val c = write(d, "cand.json",
        artifact(base + ("q_small" -> 1.2) + ("q_mid" -> 1.9)))
      assert(run(b, c) == 0)
    }
  }

  test("a contaminated primary candidate is NOT-ADJUDICABLE (exit 2)") {
    assume(python.nonEmpty, "no python interpreter on PATH")
    withDir { d =>
      val b = write(d, "base.json", artifact(base))
      val c = write(d, "cand.json",
        artifact(base, calibStart = 4.0, calibEnd = 9.0)) // drift 2.25x
      assert(run(b, c) == 2)
      val c2 = write(d, "cand2.json",
        artifact(base, flagged = Seq("q_big"))) // gate-level episode flag
      assert(run(b, c2) == 2)
    }
  }

  test("launch-unverified (load_start only) still adjudicates (exit 0)") {
    assume(python.nonEmpty, "no python interpreter on PATH")
    withDir { d =>
      val b = write(d, "base.json", artifact(base, loadStart = 9.45))
      val c = write(d, "cand.json", artifact(base))
      assert(run(b, c) == 0)
    }
  }

  test("a contaminated EXTRA run joins the min-of-N and can refute") {
    assume(python.nonEmpty, "no python interpreter on PATH")
    withDir { d =>
      val b = write(d, "base.json", artifact(base))
      val c = write(d, "cand.json", artifact(base + ("q_big" -> 6.0)))
      // the extra run is episode-flagged, but its q_big=3.1 is an upper
      // bound on quiet-achievable time -> refutes the apparent regression
      val e = write(d, "extra.json",
        artifact(base + ("q_big" -> 3.1), loadMax = 30.0,
          flagged = Seq("q_mid")))
      assert(run(b, c, e) == 0)
    }
  }
}
