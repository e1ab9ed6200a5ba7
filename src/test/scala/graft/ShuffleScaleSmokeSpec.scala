package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ShuffleScale

/** Minimal-size smoke over the ShuffleScale probe's production wiring —
  * one staged run per shuffle-heavy family (5 k docs / 5 k vectors / 8x8
  * tiles, no timing assertions) through the SAME stage/build/assert
  * methods the evidence runs use, so the probe's plumbing and its
  * plan-shape `require`s cannot rot between evidence rounds: if
  * `TextOps.candFromMins`, `VectorOps.annIvfCore`, or
  * `Relabel.image2labels` stop planning the asserted shapes, the suite
  * goes red the same day, not at the next quiet-window scale run.
  */
class ShuffleScaleSmokeSpec extends AnyFunSuite {

  test("lsh smoke: band join plans a hash equi-join and keeps the twins") {
    val spark = SparkTest.session
    val dir = TempDirs.create("smoke_lsh")
    val n = 5000L
    ShuffleScale.lshStage(spark, n, dir)
    val cand = ShuffleScale.lshCand(spark, dir)
    ShuffleScale.assertLshPlan(cand.queryExecution.executedPlan.toString)
    // recall on the PLANTED twin subset only (lshStage plants twin_id =
    // doc_id + n*10 for every doc_id % 5 == 0): a bare total-count floor
    // would also be satisfied by background band collisions between
    // unrelated docs, so twin planting or minhash recall could break while
    // the old assertion still passed (r15 ADVICE)
    val twinHits = cand.filter(
      org.apache.spark.sql.functions.expr(
        s"id_b = id_a + ${n * 10} AND id_a % 5 = 0")).count()
    assert(twinHits >= n / 5 * 9 / 10,
      s"twin recall collapsed: $twinHits of ${n / 5} planted twins recalled")
  }

  test("ivf smoke: cell-probe join is a broadcast hash join, no cartesian") {
    val spark = SparkTest.session
    val dir = TempDirs.create("smoke_ivf")
    ShuffleScale.ivfStage(spark, 5000L, dir)
    val q = ShuffleScale.ivfQuery(spark, dir, 5000L)
    ShuffleScale.assertIvfPlan(q.queryExecution.executedPlan.toString)
    assert(q.count() > 1500, "query stratum collapsed")
  }

  test("halo smoke: the 8x8 pipeline plans exactly 2 exchanges") {
    val spark = SparkTest.session
    val dir = TempDirs.create("smoke_halo")
    ShuffleScale.haloStage(spark, 8, dir)
    val p = ShuffleScale.haloPipeline(spark, dir, 8)
    ShuffleScale.assertHaloPlan(p)
    assert(p.count() == 64L, "pipeline lost tiles")
    val b = ShuffleScale.haloBytes(spark, dir, 8)
    info(b.line)
    assert(b.o1 > 0 && b.o4 > 0 && b.atHome <= 64, b.line)
    assert(b.o1Margin < b.expanded && b.o4Margin < b.expanded, b.line)
  }
}
