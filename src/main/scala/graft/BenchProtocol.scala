package graft

import org.apache.spark.sql.SparkSession

/** THE single code path for everything the benchmark protocol depends on:
  * the session shape, the co-tenant load probe, and the fixed-shape
  * calibration micro-run. [[Bench]] (the per-round artifact) and the
  * test-scope re-time probe `graft.tools.TimeQueries` both build on this
  * object, so a re-time runs the artifact's plans (with
  * [[plans.DotProductFusion]] installed) under the artifact's session.
  */
object BenchProtocol {

  /** cpus env parsed ONCE, with an `availableProcessors` fallback:
    * `local[*]` is a valid master string but not a number, and a
    * NumberFormatException after a full run would discard the artifact.
    */
  def cpusEnv(): (String, Int) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim
    val n = scala.util.Try(cpus.toInt).toOption
      .getOrElse(Runtime.getRuntime.availableProcessors)
    (cpus, n)
  }

  /** The bench-shaped session: local[cpus], shuffle partitions = cores,
    * AQE on (runtime coalescing + skew-join splitting — the local stand-in
    * for the 1000-executor plan), UTC (the rel/Q timestamp contract is
    * UTC-conditional, so timings exercise the same plans Verify gates),
    * no UI, and the [[plans.DotProductFusion]] rule installed (gates are
    * timed with the plans the artifact measures).
    */
  def session(cpus: String, cpusN: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpusN.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    graft.plans.DotProductFusion.ensureInstalled(spark)
    spark
  }

  /** 1-minute /proc/loadavg, -1 when unreadable. */
  def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Host calibration constant: a FIXED CPU+shuffle micro-run (48 M-row
    * arithmetic map, 3 M-group hash aggregate across one exchange, global
    * roll-up). Cross-round comparisons divide per-gate seconds by the two
    * artifacts' calib ratio instead of arguing host speed by hand — the
    * shape must therefore NEVER change across rounds (it is the ruler).
    * On the round-11 reference host class calib_s ≈ low seconds; a 1.3x
    * slower host shows ~1.3x here and ~1.3x on the gate medians.
    */
  def calibOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(48000000L)
      .selectExpr("(id * 2654435761) % 3000000 AS k", "id % 1000003 AS v")
      .groupBy("k").count()
      .selectExpr("sum(count) AS s", "count(*) AS n")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The protocol statistic: min-of-3 of [[calibOnce]], run after warmup. */
  def calibMin3(spark: SparkSession): Double =
    (1 to 3).map(_ => calibOnce(spark)).min

  /** Run-level contamination verdict (round 17, per the r16 verdict #1).
    *
    * The per-gate loadavg flagger catches contention SPIKES, but the r16
    * driver run proved the evasion mode it cannot see: slow-burn co-tenant
    * contention kept every per-gate sample in the 2–9 band while inflating
    * the whole suite 1.53x — the only artifact-visible symptoms were the
    * calib bracket (4.72 → 11.08 s, 2.3x) and the launch load (10.25).
    * This predicate names that failure mode AT RUN LEVEL, in the artifact,
    * so a contaminated run labels itself not-a-ruler instead of waiting for
    * a forensic cross-round diff. Three independent window tests:
    *
    *  - `calib_drift`: end bracket vs start bracket > [[CalibDriftMax]].
    *    Same-host calib noise measured ~16 % (r12), and clean runs drift
    *    0.5–1.1x (r14: 0.56, r16: 0.94) while contaminated runs read
    *    2.2–2.5x (r15: 2.46, r16 driver: 2.35) — 1.3 splits the
    *    populations with margin on both sides.
    *  - `load_max` > the episode threshold: at least one winning-pass
    *    sample sat inside a contention episode (clean-run max ≈ 10.7).
    *  - `load_start` > [[LoadStartMax]]: the run LAUNCHED under co-tenant
    *    load, so the quiet-window precondition was never verified. NOTE:
    *    this is the weakest signal — a driver that runs the bench right
    *    after `sbt compile` inherits its own compile's 1-min residue (the
    *    r14 272.2 s ruler started at 9.45 and was adjudicated clean gate
    *    by gate) — which is why the verdict carries per-criterion reasons
    *    instead of a bare boolean: a load_start-only failure means
    *    "launch window unverified", not "measurements contaminated".
    *
    * `quiet` = all three pass. Consumed by [[graft.Bench]] (the `run_quiet`
    * artifact field) and mirrored by `tools/compare_bench.py` (which reads
    * the same fields out of banked artifacts, including pre-r17 ones).
    */
  final case class RunVerdict(quiet: Boolean, reasons: Seq[String])

  /** Clean runs drift 0.5–1.1x, contaminated 2.2–2.5x; 1.3 splits them. */
  val CalibDriftMax = 1.3

  /** Co-tenant 1-min load above this at launch = unverified quiet window. */
  val LoadStartMax = 2.0

  def runVerdict(loadStart: Double, loadMax: Double, calibStart: Double,
      calibEnd: Double, episodeLoad: Double): RunVerdict = {
    def f2(v: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val reasons = Seq.newBuilder[String]
    if (calibStart > 0 && calibEnd / calibStart > CalibDriftMax)
      reasons += s"calib_drift ${f2(calibEnd / calibStart)}x > " +
        s"${f2(CalibDriftMax)}x"
    if (loadMax > episodeLoad)
      reasons += s"load_max ${f2(loadMax)} > ${f2(episodeLoad)}"
    if (loadStart > LoadStartMax)
      reasons += s"load_start ${f2(loadStart)} > ${f2(LoadStartMax)}"
    val r = reasons.result()
    RunVerdict(r.isEmpty, r)
  }
}
