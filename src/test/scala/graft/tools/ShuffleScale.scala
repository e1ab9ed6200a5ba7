package graft.tools

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchProtocol
import graft.ops.{CCLSegmentation, Halo, Relabel}
import graft.tiles.{GridSpec, Tile}

/** Scale-trend probe for the three shuffle-heavy families (CurveScale's
  * sibling, per the r13 verdict): each family runs THE PRODUCTION CODE
  * PATH — `TextOps.candFromMins` (the `dd_minhash_lsh` band equi-join),
  * `VectorOps.annIvfCore` (the `ann_ivf` cell-probe join), and
  * `Relabel.image2labels` (the O1/O4 halo exchanges) — over deterministic
  * synthetic inputs at 1x/4x/16x, quiet min-of-3 each, and fits the
  * scaling exponent (log-log least squares). An exponent near 1 is the
  * 100 TB claim made measurable; anything superlinear names a structural
  * cost the plan-shape audits cannot see.
  *
  * Inputs are staged to parquet FIRST (outside the timed region), so the
  * timed query is the production shape: scan -> shuffle-heavy operator.
  * All synthesis is hash-seeded (fixed), never `Random`:
  *
  *  - LSH corpus: n docs of 40 words drawn from a 50 k-token vocabulary
  *    by murmur3 — cross-doc band collisions are ~0 (a full 3-gram
  *    shingle collision needs three consecutive vocab hits), so candidate
  *    volume is driven by the PLANTED twins (1 in 5 docs, suffix-mutated
  *    like the gate's near-dup corpus) and stays linear in n. The cost
  *    under measurement is the 4-band signature self-join: a 4n-row
  *    exchange per side at every scale.
  *  - IVF corpus: n 64-dim quantized vectors; the probe pins the 100 TB
  *    parametrization the gate (on a fixed benchmark table) does not
  *    need to: a FIXED ~256-centroid codebook and a FIXED ~2048-query
  *    workload, so assignment is n x 256 broadcast dots and the probe
  *    join fans out 2048 x (n/256) candidates — both linear in n. (The
  *    gate's own corpus-proportional strides would make assignment
  *    O(n^2/100): correct for its fixed table, wrong for a growth
  *    study — exactly the distinction this probe exists to document.)
  *  - Halo: an NxN grid (16/32/64 — the largest is the verdict's
  *    ~64x64-tile grid, 170x the 6x4 golden) of 128x128 tiles carrying
  *    a binary field of radius-5 blobs on a 24-px lattice, so objects
  *    cross tile borders and both exchanges carry real margins. Each
  *    size also prints a `BYTES` line ([[HaloBytes]]): O1 and O4 shuffle
  *    bytes per margin voxel, O1's per expanded voxel and O4's per voxel of
  *    its core model, and how many staged tiles arrived in their O1
  *    partition.
  *
  * At the largest size each family's physical plan is asserted: the band
  * join is still a hash equi-join on (band, bandval), the IVF probe join
  * is still a broadcast hash join (the only BNLJ is the adjudicated
  * centroid-codebook broadcast), and the pipeline plans EXACTLY TWO
  * exchanges (SURVEY §3.1's two neighbor exchanges; the reference's only
  * scale datum is `examples/test_relabeling_3D.ipynb` cell 20).
  *
  * `sbt "Test/runMain graft.tools.ShuffleScale"` (optional arg: base doc/vec
  * count, default 50000).
  */
object ShuffleScale {

  // ---- family stage/build/assert trios, object-level so the sbt-test
  // smoke (ShuffleScaleSmokeSpec) drives the SAME production wiring and
  // plan assertions at minimal sizes every run — the probe's plumbing
  // can't rot between evidence rounds. main() adds timing and the
  // exponent regression net on top of exactly these methods.

  /** Stage the LSH corpus: n docs of 40 words from a 50 k-token vocab by
    * murmur3, plus planted near-dup twins (1 in 5 docs, suffix-mutated).
    */
  def lshStage(spark: SparkSession, n: Long, dir: String): Unit = {
    val docs = spark.range(n).selectExpr("id AS doc_id",
      "concat_ws(' ', transform(sequence(0, 39), j -> " +
        "substr(md5(CAST(pmod(hash(id * 40 + j), 50000) AS STRING)), 1, 7))) AS text")
    docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + n * 10).as("doc_id"),
          concat(col("text"), lit(" xtra")).as("text")))
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** The dd_minhash_lsh candidate query over a staged corpus — the
    * PRODUCTION path (`TextOps.candFromMins` on `MinHashSlices` minima).
    */
  def lshCand(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.MinHashSlices.minhash_slices
    val mins = spark.read.parquet(dir)
      .select(col("doc_id"), minhash_slices(col("text")).as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id") +:
        (0 until 8).map(j => col("mh").getItem(j).as(s"mh$j")): _*)
    graft.rel.TextOps.candFromMins(mins)
  }

  /** The LSH scale claim: a hash equi-join on the band key, never a
    * cartesian/nested-loop.
    */
  def assertLshPlan(plan: String): Unit = {
    require(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "band join degraded to a non-equi join")
    val equi = plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("bandval"))
    require(equi, "no hash equi-join on (band, bandval) in the plan")
  }

  /** Stage the IVF corpus: n 64-dim quantized vectors. */
  def ivfStage(spark: SparkSession, n: Long, dir: String): Unit =
    spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(0, 63), j -> " +
        "CAST(pmod(hash(id * 67 + j), 2001) - 1000 AS BIGINT)) AS qv")
      .write.mode(SaveMode.Overwrite).parquet(dir)

  /** The ann_ivf cell-probe query — the PRODUCTION `annIvfCore` pinned to
    * the 100 TB parametrization: FIXED ~256-centroid codebook and FIXED
    * ~2048-query workload (see the class doc).
    */
  def ivfQuery(spark: SparkSession, dir: String, n: Long): DataFrame =
    graft.rel.VectorOps.annIvfCore(spark.read.parquet(dir),
      centEvery = math.max(1L, n / 256), queryEvery = math.max(1L, n / 2048))

  /** The IVF scale claim: the probe join stays a broadcast hash join; the
    * only BNLJ is the centroid-codebook broadcast, planned at most twice
    * (it feeds both the query stratum and the probe side).
    */
  def assertIvfPlan(plan: String): Unit = {
    require(!plan.contains("CartesianProduct"), "IVF probe planned a cartesian")
    require(plan.contains("BroadcastHashJoin"),
      "the cell-probe join is no longer a broadcast hash join")
    val bnlj = plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin")
    require(bnlj <= 2, s"unadjudicated BNLJ crept in: $bnlj sites " +
      "(only the centroid-codebook broadcast, planned twice, is sanctioned)")
  }

  private val haloCs = 128
  private val haloOv = 16

  /** The binary blob field: radius-5 blobs on a 24-px lattice, so objects
    * cross tile borders and both halo exchanges carry real margins.
    */
  def haloBlob(gy: Int, gx: Int): Array[Long] = {
    val cs = haloCs
    val data = new Array[Long](cs * cs)
    var y = 0
    while (y < cs) {
      val iy = gy * cs + y
      var x = 0
      while (x < cs) {
        val ix = gx * cs + x
        val cy = (iy / 24) * 24 + 12 + ((iy / 24 * 31 + ix / 24 * 17) % 7 - 3)
        val cx = (ix / 24) * 24 + 12 + ((iy / 24 * 13 + ix / 24 * 29) % 7 - 3)
        val dy = iy - cy; val dx = ix - cx
        if (dy * dy + dx * dx <= 25) data(y * cs + x) = 1L
        x += 1
      }
      y += 1
    }
    data
  }

  /** Stage an NxN grid of 128x128 blob tiles. */
  def haloStage(spark: SparkSession, grid: Int, dir: String): Unit = {
    import spark.implicits._
    graft.sources.TileIO.write(spark.range(grid.toLong * grid).map { lin =>
      val (gy, gx) = ((lin / grid).toInt, (lin % grid).toInt)
      Tile(Array(gy, gx), Array(grid, grid), Array(haloCs, haloCs),
        haloBlob(gy, gx))
    }, dir)
  }

  /** The O1/O4 halo pipeline — the PRODUCTION `Relabel.image2labels`. */
  def haloPipeline(spark: SparkSession, dir: String, grid: Int) = {
    import spark.implicits._
    val tiles = spark.read.parquet(dir)
      .select("loc", "grid", "shape", "data", "classes").as[Tile]
    Relabel.image2labels(tiles,
      GridSpec(Array(grid.toLong * haloCs, grid.toLong * haloCs),
        Array(haloCs, haloCs)),
      CCLSegmentation(), Array(haloOv, haloOv), 0.05)
  }

  /** What the two halo exchanges of [[haloPipeline]] moved on a `grid`²
    * grid, against the halo model: shuffle bytes of O1 and of O4, the
    * margin voxels each must ship (O1 every in-grid margin of every chunk,
    * from the overlapped shapes; O4 the margins its parity rule sends,
    * each clipped to its receiver's core), O4's model (every chunk's core
    * plus its margins, all that O4's trim keeps), the expanded voxels
    * (every halo-expanded tile), and how many of the parquet-staged tiles
    * arrived in their O1 partition, so that O1 shipped only their margins.
    */
  final case class HaloBytes(o1: Long, o4: Long, o1Margin: Long, o4Margin: Long,
      o4Model: Long, expanded: Long, atHome: Long, tiles: Long) {
    def line: String =
      f"O1 ${o1.toDouble / o1Margin}%.3f B/margin ${o1.toDouble / expanded}%.3f B/expanded voxel  " +
        f"O4 ${o4.toDouble / o4Margin}%.3f B/margin ${o4.toDouble / o4Model}%.3f B/modelled voxel  " +
        s"at home $atHome of $tiles tiles"
  }

  def haloBytes(spark: SparkSession, dir: String, grid: Int): HaloBytes = {
    import spark.implicits._
    val spec = GridSpec(Array(grid.toLong * haloCs, grid.toLong * haloCs), Array(haloCs, haloCs))
    val ov = Array(haloOv, haloOv)
    val sc = spark.sparkContext
    def shuffled(action: => Any): Long = {
      val bytes = new TaskMetricSum(sc, _.shuffleWriteMetrics.bytesWritten)
      try { bytes.reset(); action; bytes.get() } finally sc.removeSparkListener(bytes)
    }
    val tiles = spark.read.parquet(dir).select("loc", "grid", "shape", "data", "classes").as[Tile]
    // `.rdd` adds no exchange, unlike `Dataset.count`'s aggregation
    val o1 = shuffled(Relabel.prepareInput(tiles, spec, ov).rdd.count())
    val both = shuffled(haloPipeline(spark, dir, grid).rdd.count())
    val locs = for (y <- 0 until grid; x <- 0 until grid) yield Array(y, x)
    val dirs = Halo.directions(2)
    // O4's margins: `haloOv` thick on their varying axes, the receiver's
    // core on the others
    val o4Margin = locs.map { loc =>
      dirs.filter(d => Halo.inGrid(loc, d, spec.gridShape) && Halo.receiverWillMerge(loc, d))
        .map(_.map(v => (if (v != 0) haloOv else haloCs).toLong).product).sum
    }.sum
    val expanded = locs.map(loc => spec.overlappedShape(loc, ov).map(_.toLong).product).sum
    val in = tiles.rdd
    val n = Halo.partitions(spark, grid.toLong * grid)
    val placed = in.getNumPartitions == n
    val home = in.mapPartitionsWithIndex((part, it) =>
      Iterator.single(Halo.placedAt(part, n, placed, it).count(_._2).toLong))
      .collect().sum
    val cores = grid.toLong * grid * haloCs * haloCs
    HaloBytes(o1, both - o1, expanded - cores, o4Margin, cores + o4Margin, expanded, home,
      grid.toLong * grid)
  }

  /** The halo scale claim: EXACTLY two shuffles — the prepare (O1) halo
    * and the merge (O4) re-halo, nothing else (SURVEY §3.1). The halo
    * exchanges are RDD shuffles placed by linear chunk index, which the SQL
    * plan shows only as an `ExternalRDD` scan, so this counts the shuffle
    * dependencies of the pipeline's whole RDD lineage: a SQL exchange of
    * any partitioning and an RDD shuffle count alike, and no shuffle can
    * hide from the count by changing form.
    */
  def assertHaloPlan(pipeline: Dataset[_]): Unit = {
    def shuffles(rdd: RDD[_]): Set[Int] = rdd.dependencies.flatMap {
      case d: ShuffleDependency[_, _, _] => shuffles(d.rdd) + d.shuffleId
      case d => shuffles(d.rdd)
    }.toSet
    val n = shuffles(pipeline.rdd).size
    require(n == 2, s"expected exactly 2 shuffles in the halo pipeline, got $n")
  }

  private def fitExponent(scales: Seq[Long], secs: Seq[Double]): Double = {
    val xs = scales.map(s => math.log(s.toDouble))
    val ys = secs.map(math.log)
    val xm = xs.sum / xs.size; val ym = ys.sum / ys.size
    val num = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum
    num / xs.map(x => (x - xm) * (x - xm)).sum
  }

  def main(args: Array[String]): Unit = {
    // first statement, matching Bench: the co-tenant load BEFORE this
    // probe's own 32-thread warmup inflates the 1-min average — sampled
    // after warmup (as until round 17) the field read the probe's
    // self-load (7-9) and could never certify a quiet launch window,
    // which is exactly what the r16 ADVICE faulted the banked lsh row for
    val loadStart = BenchProtocol.loadavg()
    val base = if (args.nonEmpty) args(0).toLong else 50000L
    val gridBase = if (args.length > 1) args(1).toInt else 16
    val scales = Seq(1L, 4L, 16L)
    val (cpus, cpusN) = BenchProtocol.cpusEnv()
    val spark = BenchProtocol.session(cpus, cpusN)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // warmup (Bench's discipline), then the ruler
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val calibStart = BenchProtocol.calibMin3(spark)
    println(f"CALIB $calibStart%.3f s (min-of-3)  " +
      f"load_start $loadStart%.2f  cpus $cpusN%d")

    // optional third arg: comma-separated family subset ("lsh,ivf,halo") —
    // re-adjudicating one family's timing on a quiet host shouldn't cost a
    // full three-family pass. Validated fail-fast: a typo ('LSH',
    // 'minhash') would otherwise silently deselect EVERY family and the
    // probe would run calibration then exit with no EXPONENT lines and no
    // regression net — an empty pass masquerading as a green one.
    val known = Set("lsh", "ivf", "halo")
    val fams: Set[String] =
      if (args.length > 2) {
        val asked = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = asked -- known
        require(unknown.isEmpty,
          s"unknown ShuffleScale families: ${unknown.mkString(",")} " +
            s"(valid: ${known.toSeq.sorted.mkString(",")})")
        require(asked.nonEmpty, "empty family selection")
        asked
      } else known

    val root = graft.TempDirs.create("graft_shufflescale")

    def minOf3(mk: () => DataFrame): (Double, Long) = {
      var best = Double.MaxValue; var rows = 0L
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        rows = mk().count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache()
      }
      (best, rows)
    }

    final case class Fam(name: String, sizes: Seq[Long], times: Seq[Double],
        rows: Seq[Long], planAssert: String) {
      // stats only, NO require (r15 ADVICE): the exponent regression net
      // runs AFTER SCALE.json is written, so a superlinear family fails
      // the run without discarding the freshly measured sizes/secs/rows —
      // the very data needed to diagnose the regression.
      def stats(): (Double, Double) = {
        val e = fitExponent(scales, times)
        // the top leg (4x -> 16x) is the work-dominated slope: at 1x the
        // per-job scheduler floor (~0.3-0.5 s on local[32]) inflates the
        // small point and DEFLATES the 3-point fit, so the top leg is the
        // honest scaling statistic; the 3-point fit rides along
        val top = math.log(times(2) / times(1)) / math.log(4.0)
        val ts = scales.zip(times).zip(rows).map { case ((s, t), r) =>
          f"${s}x=${t}%.2fs/${r}" }.mkString("  ")
        println(f"EXPONENT $name%-6s top-leg ${top}%.3f  (3-pt ${e}%.3f)   $ts")
        (top, e)
      }
      // the regression net: superlinear growth in the shuffle families
      // is the 100 TB failure mode this probe exists to catch (1.25
      // allows measured-noise wobble above linear, never a quadratic)
      def assertLinear(top: Double): Unit =
        require(top <= 1.25,
          f"$name scales superlinearly: top-leg exponent ${top}%.3f")
    }

    // ---- family 1: dd_minhash_lsh band equi-join ------------------------
    val lsh = if (!fams("lsh")) None else Some {
      val runs = scales.map { s =>
        val dir = s"$root/lsh_$s"
        lshStage(spark, base * s, dir)
        val (t, r) = minOf3(() => lshCand(spark, dir))
        println(f"RUN lsh   ${s}%2dx  n=${base * s}%8d  min3=${t}%7.2f s  " +
          f"pairs=$r%8d  load=${BenchProtocol.loadavg()}%.2f")
        // LSH recall over the planted twins is high but not 1.0 (the gate
        // measures ~0.99); anything below 0.9 means the probe corpus broke
        require(r >= base * s / 5 * 9 / 10,
          s"candidate pairs $r lost planted twins (~${base * s / 5} planted)")
        (t, r)
      }
      // plan shape at the largest size (the LSH scale claim itself)
      assertLshPlan(lshCand(spark, s"$root/lsh_16")
        .queryExecution.executedPlan.toString)
      val note = "hash equi-join on (band, bandval); no cartesian, no BNLJ"
      println(s"PLAN lsh   16x: $note")
      Fam("lsh", scales.map(base * _), runs.map(_._1), runs.map(_._2), note)
    }

    // ---- family 2: ann_ivf cell-probe join ------------------------------
    val ivf = if (!fams("ivf")) None else Some {
      val runs = scales.map { s =>
        val n = base * s
        val dir = s"$root/ivf_$s"
        ivfStage(spark, n, dir)
        val (t, r) = minOf3(() => ivfQuery(spark, dir, n))
        println(f"RUN ivf   ${s}%2dx  n=$n%8d  min3=${t}%7.2f s  " +
          f"queries=$r%8d  load=${BenchProtocol.loadavg()}%.2f")
        require(r > 1500, s"query stratum collapsed: $r rows")
        (t, r)
      }
      assertIvfPlan(ivfQuery(spark, s"$root/ivf_16", base * 16)
        .queryExecution.executedPlan.toString)
      val note = "probe join is BroadcastHashJoin on cid; " +
        "BNLJ sites<=2 (the centroid codebook, x2 assign subtrees); " +
        "no cartesian"
      println(s"PLAN ivf   16x: $note")
      Fam("ivf", scales.map(base * _), runs.map(_._1), runs.map(_._2), note)
    }

    // ---- family 3: O1/O4 halo exchange (image2labels) -------------------
    val halo = if (!fams("halo")) None else Some {
      val grids = scales.map(s => gridBase * math.sqrt(s.toDouble).toInt)
      val runs = grids.map { g =>
        val dir = s"$root/halo_$g"
        haloStage(spark, g, dir)
        var best = Double.MaxValue; var rows = 0L
        for (_ <- 1 to 3) {
          val t0 = System.nanoTime()
          rows = haloPipeline(spark, dir, g).count()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
          spark.catalog.clearCache()
        }
        println(f"RUN halo  ${g * g / (gridBase * gridBase)}%2dx  " +
          f"grid=${g}%2dx$g%-2d  min3=${best}%7.2f s  tiles=$rows%6d  " +
          f"load=${BenchProtocol.loadavg()}%.2f")
        require(rows == g.toLong * g, s"pipeline lost tiles: $rows")
        println(s"BYTES halo grid=${g}x$g  ${haloBytes(spark, dir, g).line}")
        (best, rows)
      }
      // the scale claim: EXACTLY two exchanges at the largest grid — the
      // prepare (O1) halo and the merge (O4) re-halo, nothing else
      val gMax = grids.last
      assertHaloPlan(haloPipeline(spark, s"$root/halo_$gMax", gMax))
      val note = s"exactly 2 exchanges (O1 halo, O4 merge) on the " +
        s"${gMax}x$gMax-tile grid"
      println(s"PLAN halo  16x: $note")
      Fam("halo", grids.map(g => g.toLong * g), runs.map(_._1),
        runs.map(_._2), note)
    }

    val calibEnd = BenchProtocol.calibMin3(spark)
    val loadEnd = BenchProtocol.loadavg()
    println(f"CALIB_END $calibEnd%.3f s  load_end $loadEnd%.2f")
    val withStats = Seq(lsh, ivf, halo).flatten.map(f => (f, f.stats()))
    val famLines = withStats.map { case (f, (top, e)) =>
      f.name -> (s"""{"sizes": [${f.sizes.mkString(", ")}], """ +
        s""""secs": [${f.times.map(t => jd(t, "%.3f")).mkString(", ")}], """ +
        s""""rows": [${f.rows.mkString(", ")}], """ +
        s""""top_leg_exponent": ${jd(top, "%.3f")}, """ +
        s""""exponent_3pt": ${jd(e, "%.3f")}, """ +
        s""""calib_start": ${jd(calibStart, "%.3f")}, """ +
        s""""calib_end": ${jd(calibEnd, "%.3f")}, """ +
        s""""load_start": ${jd(loadStart, "%.2f")}, """ +
        s""""load_end": ${jd(loadEnd, "%.2f")}, """ +
        s""""heap_gib": ${heapGib()}, """ +
        s""""unix": ${System.currentTimeMillis / 1000}, """ +
        s""""plan_assert": "${f.planAssert}"}""")
    }.toMap
    // bank the artifact FIRST, then run the regression net (r15 ADVICE):
    // a superlinear exponent must fail the run, not destroy its evidence
    writeScaleJson(famLines)
    withStats.foreach { case (f, (top, _)) => f.assertLinear(top) }
    spark.stop()
  }

  /** Locale.ROOT for every number in the artifact (r15 ADVICE): the
    * f-interpolator honors the default JVM locale, and a comma decimal
    * separator would emit invalid JSON that the merge regex then drops.
    */
  private[graft] def jd(v: Double, pat: String): String =
    String.format(java.util.Locale.ROOT, pat, Double.box(v))

  /** The measuring JVM's max heap in GiB (round 17, per the r16 verdict
    * #2): round 16 measured an 18.9 → 26.4 s swing on the lsh 16x leg from
    * heap geometry ALONE (one shared local[32] driver arena — GC pressure
    * scales with -Xmx), so the heap configuration is load-bearing evidence
    * and every banked row must carry it. `maxMemory` is what the JVM
    * actually got (-Xmx / default ergonomic fraction), not what an env var
    * asked for — the honest number when SPARK_DRIVER_MEM and sbt's own
    * -Xmx disagree.
    */
  private[graft] def heapGib(): String =
    jd(Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024), "%.1f")

  /** Resolve the repo root the artifact belongs to (r15 ADVICE medium): a
    * cwd-relative "SCALE.json" silently forks the evidence history when the
    * probe is launched from any other directory — the merge reads nothing
    * and the artifact lands outside the repo. Resolution order:
    * `GRAFT_REPO_ROOT` env, else walk up from cwd to the first directory
    * holding `build.sbt`; fail loudly rather than write to a guessed spot.
    */
  private[graft] def repoRoot(): java.nio.file.Path =
    sys.env.get("GRAFT_REPO_ROOT")
      .map(java.nio.file.Paths.get(_).toAbsolutePath) match {
      case Some(r) =>
        require(java.nio.file.Files.isDirectory(r),
          s"GRAFT_REPO_ROOT is not a directory: $r")
        r
      case None =>
        var d = java.nio.file.Paths.get("").toAbsolutePath
        while (d != null &&
            !java.nio.file.Files.exists(d.resolve("build.sbt")))
          d = d.getParent
        require(d != null, "cannot locate the repo root (no build.sbt on " +
          "any ancestor of cwd); set GRAFT_REPO_ROOT explicitly")
        d
    }

  /** The max certified input size in a serialized family line — the merge
    * key that decides whether a fresh run may displace a banked one.
    */
  private[graft] def maxSize(body: String): Long =
    """"sizes": \[([^\]]*)\]""".r.findFirstMatchIn(body)
      .map(_.group(1).split(",").map(_.trim.toLong).max).getOrElse(0L)

  /** Persist the run as a MACHINE artifact (`SCALE.json`, repo root) so the
    * next round can diff exponents mechanically instead of re-reading
    * SCALE.md prose. Partial runs (the family filter) MERGE: each family is
    * serialized on its own line keyed by name, and families absent from
    * this run keep their previous line — a one-family quiet re-adjudication
    * must not discard the other two families' certified numbers. Within a
    * family, the row certified at the LARGEST input size wins (r15 verdict
    * #3: a 50 k-base validation pass must not displace the 3.2 M-doc
    * flagship evidence; the max-certified row IS the scale claim). At
    * EQUAL max size the banked row ALSO wins (round 17, per the r16
    * verdict #2 / ADVICE: the old fresh-wins tie-break let any same-size
    * re-run — including a contaminated one — silently displace certified
    * flagship evidence; r16's 8 g-vs-16 g lsh swap went through exactly
    * this hole, defensible only in prose). Set `GRAFT_SCALE_FORCE=1` to
    * overwrite regardless — e.g. when a banked row is known-contaminated
    * and a smaller or same-size clean re-measurement should replace it;
    * the displacement is then a deliberate, logged act instead of a side
    * effect. The merge reads back only lines this writer itself emitted
    * (one `"name": {...}` per line), so no general JSON parser is needed.
    */
  private[graft] def writeScaleJson(fresh: Map[String, String],
      root: java.nio.file.Path = repoRoot(),
      force: Boolean = sys.env.get("GRAFT_SCALE_FORCE").contains("1"))
      : Unit = {
    val path = root.resolve("SCALE.json")
    val famLine = """^    "(\w+)": (\{.*\}),?$""".r
    val previous: Map[String, String] =
      if (java.nio.file.Files.exists(path))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(path)).asScala.collect {
            case famLine(name, body) => name -> body
          }.toMap
      else Map.empty
    // a family-filtered run with no banked artifact would write a PARTIAL
    // SCALE.json that reads as the whole evidence — fail instead
    require(previous.nonEmpty || fresh.keySet == Set("lsh", "ivf", "halo"),
      s"partial run (${fresh.keys.toSeq.sorted.mkString(",")}) found no " +
        s"existing $path to merge into — refusing to write a partial artifact")
    val merged: Map[String, String] =
      (previous.keySet ++ fresh.keySet).map { n =>
        n -> ((previous.get(n), fresh.get(n)) match {
          case (Some(p), Some(f)) if !force && maxSize(p) > maxSize(f) =>
            println(s"SCALE.json: kept the banked $n row (certified to " +
              s"${maxSize(p)} > this run's ${maxSize(f)}); " +
              "GRAFT_SCALE_FORCE=1 overrides")
            p
          case (Some(p), Some(f)) if !force && maxSize(p) == maxSize(f) =>
            println(s"SCALE.json: refused equal-size displacement of the " +
              s"banked $n row (both certified to ${maxSize(p)}); a same-" +
              "size re-run must displace evidence deliberately — set " +
              "GRAFT_SCALE_FORCE=1")
            p
          case (_, Some(f)) => f
          case (Some(p), None) => p
          case _ => sys.error("unreachable: key from neither map")
        })
      }.toMap
    val body = Seq("lsh", "ivf", "halo").flatMap(n =>
      merged.get(n).map(b => s"""    "$n": $b""")).mkString(",\n")
    java.nio.file.Files.write(path,
      (s"""{\n  "generated_by": "graft.tools.ShuffleScale",\n""" +
        s"""  "families": {\n$body\n  }\n}\n""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"SCALE.json updated at $path: " +
      fresh.keys.toSeq.sorted.mkString(","))
  }
}
