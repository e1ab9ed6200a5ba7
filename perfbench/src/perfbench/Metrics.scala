package perfbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json lists
  * the same names; the self-test checks that the two agree.
  */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "throughput_mpx_s" -> "Mpx/s",
    "latency_p50_s" -> "s",
    "latency_tail_s" -> "s",
    "shuffle_mb" -> "MB",
    "exec_mem_peak_mb" -> "MB",
    "verified_frac" -> "ratio",
    "setup_s" -> "s")

  private val haloPhase = Seq("s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB",
    "shuffle_records" -> "count", "fetch_wait_s" -> "s", "payload_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Seq("halo.o1", "halo.o4").flatMap(p => haloPhase.map { case (m, u) => s"$p.$m" -> u }) ++ Seq(
      "core.o2.s" -> "s", "core.o2.cpu_s" -> "s", "core.o2.gc_s" -> "s",
      "core.o3.s" -> "s", "core.o3.cpu_s" -> "s",
      "core.crop.s" -> "s",
      "core.objects_segmented" -> "count", "core.objects_kept" -> "count",
      "core.keep_ratio" -> "ratio", "core.whole_ccl_s" -> "s",
      "relabel.o10.s" -> "s", "relabel.o10.jobs" -> "count",
      "relabel.o10.shuffle_mb" -> "MB", "relabel.o10.labels" -> "count",
      "geojson.o5.s" -> "s", "geojson.o5.cpu_s" -> "s", "geojson.features" -> "count",
      "geojson.json_mb" -> "MB", "geojson.o6.s" -> "s", "geojson.o6.jobs" -> "count",
      "geojson.zip_mb" -> "MB",
      "sources.read.s" -> "s", "sources.read.mb" -> "MB", "sources.read.cpu_s" -> "s",
      "sources.write.s" -> "s", "sources.write.mb" -> "MB", "sources.write.cpu_s" -> "s",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.sched_delay_s" -> "s", "spark.ser_s" -> "s", "spark.spill_mb" -> "MB",
      "trace.overhead_s" -> "s")

  /** Per-phase values recorded for every traced span; [[PerLayer]] picks
    * the ones it reports.
    */
  def phase(name: String, seconds: Double, s: PhaseStats): Map[String, Double] = Map(
    s"$name.s" -> seconds, s"$name.cpu_s" -> s.cpuS, s"$name.gc_s" -> s.gcS,
    s"$name.shuffle_mb" -> s.shuffleBytes / 1e6, s"$name.shuffle_records" -> s.shuffleRecords.toDouble,
    s"$name.fetch_wait_s" -> s.fetchWaitS, s"$name.jobs" -> s.jobs.toDouble)

  /** Framework totals over all phases of one call. */
  def spark(all: Seq[PhaseStats]): Map[String, Double] = Map(
    "spark.jobs" -> all.map(_.jobs).sum.toDouble,
    "spark.stages" -> all.map(_.stages).sum.toDouble,
    "spark.tasks" -> all.map(_.tasks).sum.toDouble,
    "spark.sched_delay_s" -> all.map(_.schedDelayS).sum,
    "spark.ser_s" -> all.map(_.serS).sum,
    "spark.spill_mb" -> all.map(_.spillBytes).sum / 1e6)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The 75th percentile by nearest rank: the `ceil(0.75 n)`-th smallest
    * sample, so a quarter of the samples are at least this large. A run
    * holds too few calls for a higher percentile to have samples beyond it.
    * Returns (value, samples strictly beyond it).
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val v = s(math.ceil(0.75 * s.length).toInt - 1)
    (v, s.count(_ > v))
  }

  private def num(v: Double): String =
    if (v.isNaN) "0.0"
    else if (v.isInfinite) "1.0E9" // a failed call's latency: never reads as fast
    else java.lang.Double.toString(v)

  /** The result line: exactly the keys the benchmark contract names. */
  def json(correct: Boolean, attempted: Long, failed: Long,
           table: Seq[(String, String)], values: collection.Map[String, Double]): String = {
    val ms = table.map { case (name, unit) =>
      s""""$name": {"value": ${num(values.getOrElse(name, 0.0))}, "unit": "$unit"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
