package perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

final case class Options(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

/** Runs one workload in a closed loop (one client: each call starts when the
  * previous one has finished) and prints the result as the last line of
  * standard output. With `--trace 0` it reports the end-to-end metrics; with
  * `--trace 1` it alternates traced and untraced calls and reports the
  * per-layer metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  */
object Main {

  /** Set-up repeats input generation this often and keeps the median. */
  val SetupReps = 3
  /** Warm-up: calls on the full input until this many seconds of calls
    * have passed, and at least [[MinWarmCalls]] calls. Spark's planner and
    * the JIT keep speeding calls up for 8-20 calls; with 10 s, the first
    * calls of the window still ran up to 60 % slower than the last.
    * Warming on a small input does not help: a small call costs nearly as
    * much as a full one.
    */
  val WarmSeconds = 20.0
  val MinWarmCalls = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    try {
      val wl = Workloads.make(o.workload, spark, o.seed, o.work.resolve(o.workload), small = false)
      println(run(spark, o, secs(t0), wl))
    }
    finally spark.stop()
  }

  def parse(args: Array[String]): Options = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val o = Options(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      Paths.get(need("work")).toAbsolutePath)
    require(o.seconds > 0, "--seconds must be positive")
    Workloads.geometry(o.workload, small = false) // rejects an unknown name early
    o
  }

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](f: => T): (T, Double) = { val t0 = System.nanoTime(); (f, secs(t0)) }

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  /** Set up, measure, and return the result line. */
  def run(spark: SparkSession, o: Options, sessionS: Double, wl: Workload): String = {
    val sc = spark.sparkContext
    val listener = new PhaseListener
    sc.addSparkListener(listener)
    try measure(spark, o, sessionS, wl, listener)
    finally sc.removeSparkListener(listener)
  }

  private def measure(spark: SparkSession, o: Options, sessionS: Double, wl: Workload,
                      listener: PhaseListener): String = {
    val sc = spark.sparkContext
    val genS = (1 to SetupReps).map(_ => timed(wl.prepare())._2)
    // warm-up calls, timed without their digests; their outputs are checked
    // against the golden one below
    val warm = mutable.ArrayBuffer.empty[(Double, Long)]
    while (warm.size < MinWarmCalls || warm.map(_._1).sum < WarmSeconds) {
      wl.clear()
      val dt = timed(wl.call())._2
      warm += dt -> wl.outputDigest()
    }
    val warmS = warm.map(_._1).sum
    val (checked, checkS) = timed(wl.check())
    val golden = checked.flatMap { gold =>
      if (warm.forall(_._2 == gold.digest)) Right(gold) else Left("a warm-up call's output differs")
    }
    golden.fold(e => log(s"set-up check FAILED: $e"), gd => log(s"set-up check passed: ${gd.objects} objects"))
    val setupS = sessionS + Metrics.median(genS) + warmS
    log(f"setup $setupS%.2f s (session $sessionS%.2f, input ${Metrics.median(genS)}%.2f, " +
      f"warm-up $warmS%.2f in ${warm.size} calls); check $checkS%.2f s, not in setup; " +
      s"warm-up latencies ${warm.map(w => f"${w._1}%.2f").mkString(" ")}")
    wl.measuring()

    var attempted, failed = 0L
    var busyS = 0.0
    var shuffleBytes = 0L
    val execMem = mutable.ArrayBuffer.empty[Double]
    /** One untraced call; returns its latency, infinite when it failed. */
    def untraced(): Double = {
      attempted += 1
      var dt = 0.0
      val ok = try {
        wl.clear()
        val t0 = System.nanoTime()
        sc.setLocalProperty(PhaseListener.Key, "call")
        try wl.call() finally {
          dt = secs(t0)
          sc.setLocalProperty(PhaseListener.Key, null)
          val st = listener.take(sc, "call")
          shuffleBytes += st.shuffleBytes
          execMem += st.execMemPeakBytes / 1e6
        }
        golden.exists(_.digest == wl.outputDigest())
      } catch {
        case NonFatal(e) => log(s"call failed: $e"); false
      }
      busyS += dt
      if (ok) dt else { failed += 1; Double.PositiveInfinity }
    }

    val end = System.nanoTime() + o.seconds * 1000000000L
    val result = if (!o.trace) {
      val lat = mutable.ArrayBuffer.empty[Double]
      while (System.nanoTime() < end || lat.isEmpty) lat += untraced()
      val ok = lat.count(!_.isInfinite)
      val (tail, beyond) = Metrics.tail(lat.toSeq)
      log(f"${lat.size} calls, tail = p75 with $beyond beyond it; latencies ${lat.map(x => f"$x%.2f").mkString(" ")}")
      Map(
        "throughput_mpx_s" -> ok * wl.g.megapixels / busyS,
        "latency_p50_s" -> Metrics.median(lat.toSeq),
        "latency_tail_s" -> tail,
        "shuffle_mb" -> shuffleBytes / 1e6 / lat.size,
        "exec_mem_peak_mb" -> Metrics.median(execMem.toSeq),
        "verified_frac" -> ok.toDouble / lat.size,
        "setup_s" -> setupS)
    } else {
      val tracer = new Tracer(sc)
      val samples = mutable.ArrayBuffer.empty[Map[String, Double]]
      val plain = mutable.ArrayBuffer.empty[Double]
      val counts = mutable.Map.empty[String, Double]
      while (System.nanoTime() < end || samples.isEmpty) {
        attempted += 1
        val layer = mutable.Map.empty[String, Double]
        try {
          wl.clear()
          val digest = wl.traced(tracer, samples.isEmpty, counts)
          val call = tracer.spans.last
          val phases = tracer.spans.filter(s => s.call == call.call && s.parent == call.id)
          val stats = phases.map(p => listener.take(sc, p.name))
          phases.zip(stats).foreach { case (p, s) => layer ++= Metrics.phase(p.name, p.seconds, s) }
          layer ++= Metrics.spark(stats.toSeq)
          layer("trace.total_s") = call.seconds
          layer("core.whole_ccl_s") = timed(wl.wholeLabels())._2
          if (!golden.exists(_.digest == digest)) { failed += 1; log("traced call's output differs") }
        } catch {
          case NonFatal(e) => log(s"traced call failed: $e"); failed += 1
        }
        samples += layer.toMap
        plain += untraced()
      }
      tracer.write(o.work.resolve("trace").resolve(s"${o.workload}-seed${o.seed}.jsonl"))
      val keys = samples.flatMap(_.keys).distinct
      val med = keys.map(k => k -> Metrics.median(samples.flatMap(_.get(k)).toSeq)).toMap
      log(f"${samples.size} traced and ${plain.size} untraced calls")
      med ++ counts +
        ("trace.overhead_s" -> (med.getOrElse("trace.total_s", 0.0) - Metrics.median(plain.toSeq)))
    }
    val table = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    Metrics.json(golden.isRight && failed == 0, attempted, failed, table, result)
  }
}
