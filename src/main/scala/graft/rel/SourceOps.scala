package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import Q.tbl

/** Source/sink breadth: the same events relation pushed through ORC, CSV,
  * JSON-lines, and a hive-partitioned parquet layout, then read back and
  * aggregated — each gated by the SAME DuckDB oracle over the ORIGINAL
  * parquet, so a hash match proves the full write -> read -> compute path
  * for every format (layout, type mapping, codec), not just roundtrip
  * self-consistency.
  *
  * Staging stores are per-JVM temp dirs, removed on exit; each invocation
  * stages into a fresh counter-suffixed subdirectory so two concurrent
  * invocations in one JVM can never overwrite (= delete) files under each
  * other's still-active reads. Every store is written executor-side through
  * the DataFrameWriter (distributed, one file per partition — the shape a
  * real export job has).
  */
object SourceOps {

  private lazy val stageRoot = graft.TempDirs.create("graft_src")
  private val invocation = new java.util.concurrent.atomic.AtomicInteger(0)
  private def stage(kind: String): String =
    s"$stageRoot/${kind}_${invocation.incrementAndGet()}"

  /** One fixed-width column slice. Sign-aware zero padding: a negative
    * value keeps its '-' at the FRONT of the slot ("-0000000000005"),
    * which trims and casts back exactly; a naive lpad would yield
    * "0000000000000-5" — silent corruption the width assert cannot see,
    * surfacing only as a confusing decode-cast failure far from the
    * write. NULL encodes as the all-spaces slot (the classic fixed-width
    * convention); any value wider than its slot fails the write loudly
    * (lpad/rpad would silently truncate).
    */
  private[graft] def fwField(c: Column, w: Int, pad: String,
      left: Boolean): Column = {
    val str = c.cast("string")
    val padded =
      if (left && pad == "0")
        when(str.startsWith("-"),
          concat(lit("-"), lpad(substring(str, 2, w), w - 1, pad)))
          .otherwise(lpad(str, w, pad))
      else if (left) lpad(str, w, pad)
      else rpad(str, w, pad)
    when(c.isNull, lit(" " * w))
      .otherwise(when(length(str) > w, raise_error(concat(
        lit(s"fixed-width field overflow (> $w chars): "), str)))
        .otherwise(padded))
  }

  /** Events projected to the columns whose text/binary round-trip is
    * format-exact: longs, strings, the micro-precision timestamp (written
    * with an explicit 6-digit fraction pattern on the text formats), and
    * the raw double (Java's shortest round-trip rendering re-parses
    * bit-identically).
    */
  private def ev(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "events").select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))

  /** Explicit micro-precision pattern for the text formats. `events.ts` is
    * parquet `timestamp[us]` with no timezone, so Spark reads it as
    * TIMESTAMP_NTZ — and for NTZ columns the CSV/JSON writers and readers
    * consult `timestampNTZFormat` (whose default `yyyy-MM-dd'T'HH:mm:ss[.SSS]`
    * would silently truncate micros to millis), NOT `timestampFormat`. Both
    * options are set to this pattern on every write and read below, so the
    * round-trip is micro-exact whichever timestamp type the column carries.
    */
  private[graft] val TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** The shared gate aggregate: per (5-minute bucket, type) counts and an
    * exact decimal sum emitted as double.
    */
  private def gateAgg(df: DataFrame): DataFrame = df
    .withColumn("bucket", Q.tsBucket(col("ts"), 300000000L))
    .groupBy("bucket", "event_type")
    .agg(count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))

  /** All-nullable union schema for the avro round-trip: any column may be
    * NULL in the degenerate mirrors, and avro encodes absence only through
    * the null branch of a union.
    */
  private val AVRO_SCHEMA = """{
    "type": "record", "name": "Event", "fields": [
      {"name": "event_id",   "type": ["null", "long"],   "default": null},
      {"name": "ts_us",      "type": ["null", "long"],   "default": null},
      {"name": "user_id",    "type": ["null", "long"],   "default": null},
      {"name": "event_type", "type": ["null", "string"], "default": null},
      {"name": "value",      "type": ["null", "double"], "default": null}]}"""

  private val GATE_SQL = """
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2"""

  /** The five magic-mask spread steps as chained CTEs over (ok, pk) —
    * the relational twin of [[graft.functions.InterleaveBits]]'s generated
    * code, shared by the lo_zorder oracle.
    */
  private def zorderSql(mask: Long, shift: Int, from: String): String =
    s"""
      SELECT ok, pk, ((x | (x << $shift)) & $mask) AS x,
                     ((y | (y << $shift)) & $mask) AS y FROM $from"""

  private val ZORDER_CTES = s"""
      WITH s0 AS (
        SELECT l_orderkey AS ok, l_partkey AS pk,
               l_orderkey & 2147483647 AS x, l_partkey & 2147483647 AS y
        FROM lineitem),
      s1 AS (${zorderSql(281470681808895L, 16, "s0")}),
      s2 AS (${zorderSql(71777214294589695L, 8, "s1")}),
      s3 AS (${zorderSql(1085102592571150095L, 4, "s2")}),
      s4 AS (${zorderSql(3689348814741910323L, 2, "s3")}),
      s5 AS (${zorderSql(6148914691236517205L, 1, "s4")}),
      z AS (SELECT ok, pk, (x | (y << 1)) AS morton FROM s5)"""

  private val ZORDER_SQL = ZORDER_CTES + s"""
      SELECT morton >> 20 AS zbucket, count(*) AS n,
             min(ok) AS ok_lo, max(ok) AS ok_hi,
             min(pk) AS pk_lo, max(pk) AS pk_hi,
             min(morton) AS m_lo, max(morton) AS m_hi
      FROM z GROUP BY 1"""

  /** One Lam–Shapiro Hilbert step as a CTE pair (quadrant bits, then
    * rotate + accumulate) — the relational twin of one iteration of
    * [[graft.functions.HilbertIndex]]'s generated loop.
    */
  private def hilbertStep(s: Long, k: Int, from: String): String = {
    val flip = (1L << 16) - 1 // n-1 for the order-16 grid
    // everything is ARITHMETIC on the 0/1 quadrant bits, never CASE: a
    // NULL key must propagate to a NULL index exactly as the Spark
    // expression's null-safe eval does, and CASE WHEN would swallow the
    // NULL comparison as false. 3rx + ry - 2rxry == (3*rx) XOR ry on
    // {0,1}²; the rotate is the same convex-combination trick.
    s"""
      hr$k AS (SELECT x0, y0, x, y, d,
                      CAST((x & $s) > 0 AS INTEGER) AS rx,
                      CAST((y & $s) > 0 AS INTEGER) AS ry
               FROM $from),
      h$k AS (SELECT x0, y0,
                     ry * x + (1 - ry) *
                       ((1 - rx) * y + rx * ($flip - y)) AS x,
                     ry * y + (1 - ry) *
                       ((1 - rx) * x + rx * ($flip - x)) AS y,
                     d + CAST(${s * s} AS BIGINT) *
                         (3 * rx + ry - 2 * rx * ry) AS d
              FROM hr$k)"""
  }

  /** The full 16-iteration Hilbert unroll over 16-bit (x, y) from
    * lineitem keys; ends with relation h16(x0, y0, d).
    */
  private val HILBERT_CTES = {
    val sb = new StringBuilder(s"""
      WITH h0 AS (
        SELECT l_orderkey & 65535 AS x0, l_partkey & 65535 AS y0,
               l_orderkey & 65535 AS x, l_partkey & 65535 AS y,
               CAST(0 AS BIGINT) AS d
        FROM lineitem)""")
    var k = 1
    var s = 1L << 15
    while (s > 0) {
      sb.append(",").append(hilbertStep(s, k, s"h${k - 1}"))
      k += 1; s >>= 1
    }
    sb.toString
  }

  /** The relational twin of [[graft.functions.Hilbert3.index3]]: Skilling's
    * 3-D transform unrolled as CTEs over 10-bit (x, y, z) from three
    * lineitem keys; ends with relation h3(x0, y0, z0, d). Each round is
    * three invert-or-exchange sub-steps against the leading axis `a` —
    * arithmetic on 0/1 condition bits (never CASE, so a NULL key
    * propagates to a NULL index like the Spark expression's null-safe
    * eval): when the condition bit is 1 the mask is P, else it is the
    * exchange delta, and the two are mutually exclusive so `+` composes
    * them under one xor.
    */
  private[graft] val HILBERT3_CTES: String = {
    val bits = graft.functions.Hilbert3.Bits
    val side = graft.functions.Hilbert3.Side
    val sb = new StringBuilder(s"""
      WITH s0 AS (
        SELECT l_orderkey & ${side - 1} AS x0, l_partkey & ${side - 1} AS y0,
               l_suppkey & ${side - 1} AS z0,
               l_orderkey & ${side - 1} AS a, l_partkey & ${side - 1} AS b,
               l_suppkey & ${side - 1} AS c
        FROM lineitem)""")
    var k = 0
    var q = side >> 1
    while (q > 1) {
      val p = q - 1
      sb.append(s""",
      s${k + 1} AS (SELECT x0, y0, z0,
        xor(a, CAST((a & $q) > 0 AS BIGINT) * $p) AS a, b, c FROM s$k),
      s${k + 2} AS (SELECT x0, y0, z0,
        xor(a, CAST((b & $q) > 0 AS BIGINT) * $p
             + (1 - CAST((b & $q) > 0 AS BIGINT)) * (xor(a, b) & $p)) AS a,
        xor(b, (1 - CAST((b & $q) > 0 AS BIGINT)) * (xor(a, b) & $p)) AS b,
        c FROM s${k + 1}),
      s${k + 3} AS (SELECT x0, y0, z0,
        xor(a, CAST((c & $q) > 0 AS BIGINT) * $p
             + (1 - CAST((c & $q) > 0 AS BIGINT)) * (xor(a, c) & $p)) AS a,
        b,
        xor(c, (1 - CAST((c & $q) > 0 AS BIGINT)) * (xor(a, c) & $p)) AS c
        FROM s${k + 2})""")
      k += 3
      q >>= 1
    }
    // Gray encode: b ^= a, then c ^= (new) b
    sb.append(s""",
      sg AS (SELECT x0, y0, z0, a, xor(b, a) AS b, xor(c, xor(b, a)) AS c
             FROM s$k)""")
    // t = xor-fold of (Q - 1) over the set bits of the last axis
    val terms = Iterator.iterate(side >> 1)(_ >> 1).takeWhile(_ > 1)
      .map(qq => s"CAST((c & $qq) > 0 AS BIGINT) * ${qq - 1}").toSeq
    val tFold = terms.reduce((acc, t) => s"xor($acc, $t)")
    sb.append(s""",
      st AS (SELECT x0, y0, z0, a, b, c, $tFold AS t FROM sg)""")
    // final xor with t, then the 3-way bit interleave (a = high bit)
    val il = (0 until bits).flatMap { j =>
      Seq(s"((xor(a, t) >> $j) & 1) * ${1L << (3 * j + 2)}",
        s"((xor(b, t) >> $j) & 1) * ${1L << (3 * j + 1)}",
        s"((xor(c, t) >> $j) & 1) * ${1L << (3 * j)}")
    }
    sb.append(s""",
      h3 AS (SELECT x0, y0, z0,
             CAST(${il.mkString(" + ")} AS BIGINT) AS d FROM st)""")
    sb.toString
  }

  /** 16-bit-domain Morton twin of HILBERT_CTES (same x0/y0 inputs), for
    * the head-to-head locality comparison; ends with m(x0, y0, code).
    */
  private val MORTON16_CTES = {
    def step(mask: Long, shift: Int, from: String): String =
      s"""
      SELECT x0, y0, ((sx | (sx << $shift)) & $mask) AS sx,
                     ((sy | (sy << $shift)) & $mask) AS sy FROM $from"""
    s""",
      m0 AS (SELECT x0, y0, x0 AS sx, y0 AS sy FROM h0),
      m1 AS (${step(281470681808895L, 16, "m0")}),
      m2 AS (${step(71777214294589695L, 8, "m1")}),
      m3 AS (${step(1085102592571150095L, 4, "m2")}),
      m4 AS (${step(3689348814741910323L, 2, "m3")}),
      m5 AS (${step(6148914691236517205L, 1, "m4")}),
      m AS (SELECT x0, y0, (sx | (sy << 1)) AS code FROM m5)"""
  }

  def all: Seq[Q] = Seq(

    // Z-order layout: Morton-interleave (l_orderkey, l_partkey) with the
    // codegen'd InterleaveBits expression and report per-z-range key
    // envelopes — exactly the min/max file statistics a lakehouse gets
    // after OPTIMIZE ZORDER BY (ok, pk): both dimensions' envelopes
    // tighten together, so a predicate on EITHER key prunes z-ranges.
    // The min/max morton per bucket pins every interleaved bit through
    // the hash gate.
    Q("lo_zorder", (s, d) => {
      tbl(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .withColumn("morton",
          graft.functions.InterleaveBits.zorder(col("ok"), col("pk")))
        .groupBy(expr("shiftright(morton, 20)").as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min("ok").as("ok_lo"), max("ok").as("ok_hi"),
          min("pk").as("pk_lo"), max("pk").as("pk_hi"),
          min("morton").as("m_lo"), max("morton").as("m_hi"))
    }, Some(ZORDER_SQL)),

    // Z-range scan: the read side of the z-order layout. The lineitem keys
    // are morton-coded and written range-partitioned AND sorted by morton
    // (so every file carries a tight min/max envelope); a 2-D box query is
    // then answered through ZInterval.cover — a driver-side quadtree
    // decomposition of the box into contiguous morton ranges, OR'd into
    // the scan as pushable range predicates (file/row-group skipping from
    // min/max stats alone), with the exact box filter as residual. The
    // oracle answers the same box straight off the raw table, so the hash
    // proves cover + residual lose and invent nothing.
    Q("lo_zscan", (s, d) => {
      val dir = stage("zsort")
      tbl(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .withColumn("morton",
          graft.functions.InterleaveBits.zorder(col("ok"), col("pk")))
        .repartitionByRange(8, col("morton"))
        .sortWithinPartitions("morton")
        .write.mode(SaveMode.Overwrite).parquet(dir)
      val ivs = graft.functions.ZInterval.cover(1000L, 3000L, 20L, 150L)
      val zpred = ivs.map { case (a, b) => col("morton").between(a, b) }
        .reduce(_ || _)
      s.read.parquet(dir)
        .filter(zpred &&
          col("ok").between(1000L, 3000L) && col("pk").between(20L, 150L))
    }, Some(ZORDER_CTES + """
      SELECT ok, pk, morton FROM z
      WHERE ok BETWEEN 1000 AND 3000 AND pk BETWEEN 20 AND 150""")),

    // Hilbert-range scan: the read side of the Hilbert layout, the exact
    // mirror of lo_zscan — write hilbert-sorted (range-partitioned so
    // every file carries a tight min/max index envelope), decompose the
    // 2-D box into contiguous Hilbert ranges driver-side (HInterval.cover,
    // pure math on the query literals), OR them in as pushable range
    // predicates, keep the exact box filter as residual. The oracle
    // answers the same box off the raw table — hash equality proves the
    // cover overshoots only, never undershoots.
    Q("lo_hscan", (s, d) => {
      val dir = stage("hsort")
      tbl(s, d, "lineitem")
        .select(expr("l_orderkey & 65535").as("x"),
          expr("l_partkey & 65535").as("y"))
        .withColumn("h",
          graft.functions.HilbertIndex.hilbert(col("x"), col("y")))
        .repartitionByRange(8, col("h"))
        .sortWithinPartitions("h")
        .write.mode(SaveMode.Overwrite).parquet(dir)
      val ivs = graft.functions.HInterval.cover(1000L, 3000L, 20L, 150L)
      val hpred = ivs.map { case (a, b) => col("h").between(a, b) }
        .reduce(_ || _)
      s.read.parquet(dir)
        .filter(hpred &&
          col("x").between(1000L, 3000L) && col("y").between(20L, 150L))
    }, Some(HILBERT_CTES + """
      SELECT x0 AS x, y0 AS y, d AS h FROM h16
      WHERE x0 BETWEEN 1000 AND 3000 AND y0 BETWEEN 20 AND 150""")),

    // Hilbert-range scan, AUTOMATIC form: the same hilbert-sorted layout
    // as lo_hscan, but the USER QUERY is the plain 2-D box filter — no
    // hand-built OR'd ranges. The HilbertBoxCover optimizer rule (told
    // the layout once via spark.graft.hilbert.layout = "bx,by,bh", the
    // relational analogue of a table clustering property) ANDs the
    // HInterval.cover decomposition into the filter, and
    // FileSourceStrategy pushes the ranges into the parquet scan for
    // min/max pruning. The oracle answers the same box off the raw
    // table, so hash equality proves the injected cover is a true
    // superset; HilbertCoverRuleSpec pins the plan shape (ranges in
    // PushedFilters) and the pruning win.
    Q("lo_hscan_auto", (s, d) => {
      val dir = stage("hsort_auto")
      // GraftLayout: sorted write + `_graft_layout.json` sidecar; the
      // read installs the layout declaration, so the box filter below is
      // ALL the caller writes — no conf, no hand-built ranges
      graft.plans.GraftLayout.writeHilbert(
        tbl(s, d, "lineitem")
          .select(expr("l_orderkey & 65535").as("bx"),
            expr("l_partkey & 65535").as("by")),
        dir, "bx", "by", "bh", 8)
      graft.plans.GraftLayout.read(s, dir)
        .filter(col("bx").between(1000L, 3000L) &&
          col("by").between(20L, 150L))
    }, Some(HILBERT_CTES + """
      SELECT x0 AS bx, y0 AS by, d AS bh FROM h16
      WHERE x0 BETWEEN 1000 AND 3000 AND y0 BETWEEN 20 AND 150""")),

    // Hilbert layout: the order-16 Hilbert index of (l_orderkey & 65535,
    // l_partkey & 65535) via the codegen'd HilbertIndex expression; the
    // per-index-range key envelopes are the file statistics a store gets
    // after a Hilbert OPTIMIZE. min/max of the index per bucket pins every
    // bit of the 16-iteration rotate/accumulate loop through the hash gate
    // against the 32-CTE unrolled oracle.
    Q("lo_hilbert", (s, d) => {
      tbl(s, d, "lineitem")
        .select(expr("l_orderkey & 65535").as("x"),
          expr("l_partkey & 65535").as("y"))
        .withColumn("h",
          graft.functions.HilbertIndex.hilbert(col("x"), col("y")))
        .groupBy(expr("shiftright(h, 16)").as("hbucket"))
        .agg(count(lit(1)).as("n"),
          min("x").as("x_lo"), max("x").as("x_hi"),
          min("y").as("y_lo"), max("y").as("y_hi"),
          min("h").as("h_lo"), max("h").as("h_hi"))
    }, Some(HILBERT_CTES + """
      SELECT d >> 16 AS hbucket, count(*) AS n,
             min(x0) AS x_lo, max(x0) AS x_hi,
             min(y0) AS y_lo, max(y0) AS y_hi,
             min(d) AS h_lo, max(d) AS h_hi
      FROM h16 GROUP BY 1""")),

    // 3-D Hilbert layout: the order-10 Skilling index of three lineitem
    // keys via the codegen'd HilbertIndex3 expression — the layout
    // primitive for data clustered on THREE keys at once (the tile
    // engine's own grid_z/grid_y/grid_x being the in-house consumer).
    // Per-index-range envelopes over all three dimensions are the file
    // statistics a store gets after a 3-key Hilbert OPTIMIZE; min/max of
    // the index per bucket pins every bit of the 9 invert-or-exchange
    // rounds + Gray encode + interleave against the CTE-unrolled oracle.
    Q("lo_hilbert3", (s, d) => {
      tbl(s, d, "lineitem")
        .select(expr("l_orderkey & 1023").as("x"),
          expr("l_partkey & 1023").as("y"),
          expr("l_suppkey & 1023").as("z"))
        .withColumn("h", graft.functions.Hilbert3.hilbert3(
          col("x"), col("y"), col("z")))
        .groupBy(expr("shiftright(h, 18)").as("hbucket"))
        .agg(count(lit(1)).as("n"),
          min("x").as("x_lo"), max("x").as("x_hi"),
          min("y").as("y_lo"), max("y").as("y_hi"),
          min("z").as("z_lo"), max("z").as("z_hi"),
          min("h").as("h_lo"), max("h").as("h_hi"))
    }, Some(HILBERT3_CTES + """
      SELECT d >> 18 AS hbucket, count(*) AS n,
             min(x0) AS x_lo, max(x0) AS x_hi,
             min(y0) AS y_lo, max(y0) AS y_hi,
             min(z0) AS z_lo, max(z0) AS z_hi,
             min(d) AS h_lo, max(d) AS h_hi
      FROM h3 GROUP BY 1""")),

    // 3-D Hilbert-range scan, AUTOMATIC form: lo_hscan_auto one dimension
    // up — hilbert3-sorted layout written through GraftLayout, whose
    // path-scoped sidecar registration (no session conf involved) routes
    // HilbertBoxCover through the octree HInterval.cover3 (the
    // suppkey dimension is a thin slab at every SF, so this also drives
    // the cover's escalation policy: ~115 merged ranges, ~1.2x volume
    // overshoot, ~0.5% of the curve domain actually read). Hash equality
    // against the raw-table oracle proves the injected cover is a true
    // superset of the box; HilbertCoverRuleSpec pins the 3-D plan shape.
    Q("lo_hscan3_auto", (s, d) => {
      val dir = stage("h3sort_auto")
      graft.plans.GraftLayout.writeHilbert3(
        tbl(s, d, "lineitem")
          .select(expr("l_orderkey & 1023").as("cx"),
            expr("l_partkey & 1023").as("cy"),
            expr("l_suppkey & 1023").as("cz")),
        dir, "cx", "cy", "cz", "ch", 8)
      graft.plans.GraftLayout.read(s, dir)
        .filter(col("cx").between(100L, 400L) &&
          col("cy").between(50L, 300L) && col("cz").between(5L, 60L))
    }, Some(HILBERT3_CTES + """
      SELECT x0 AS cx, y0 AS cy, z0 AS cz, d AS ch FROM h3
      WHERE x0 BETWEEN 100 AND 400 AND y0 BETWEEN 50 AND 300
        AND z0 BETWEEN 5 AND 60""")),

    // Hilbert-range scan, IN-LIST form: the same sidecar-registered
    // layout as lo_hscan_auto, but one key is constrained by a plain
    // IN-list instead of a range — a union of degenerate boxes, which
    // HilbertBoxCover covers sub-box by sub-box and union-merges into
    // index ranges far tighter than the list's hull (the hull of
    // {1056, 1057, 2021} spans 966 key columns; the per-value covers
    // span 3). Hash equality against the raw-table oracle proves the
    // multi-box cover is a true superset of the IN x range region;
    // HilbertCoverRuleSpec pins the plan shape and the pruning win.
    Q("lo_hscan_in", (s, d) => {
      val dir = stage("hsort_in")
      graft.plans.GraftLayout.writeHilbert(
        tbl(s, d, "lineitem")
          .select(expr("l_orderkey & 65535").as("bx"),
            expr("l_partkey & 65535").as("by")),
        dir, "bx", "by", "bh", 8)
      graft.plans.GraftLayout.read(s, dir)
        .filter(col("bx").isin(1056L, 1057L, 2021L) &&
          col("by").between(10L, 180L))
    }, Some(HILBERT_CTES + """
      SELECT x0 AS bx, y0 AS by, d AS bh FROM h16
      WHERE x0 IN (1056, 1057, 2021) AND y0 BETWEEN 10 AND 180""")),

    // Curve-locality head-to-head: bucket the SAME 16-bit key pairs by
    // their top-8 curve bits under Morton and under Hilbert, and total the
    // per-bucket bounding-box areas — the quantity min/max file skipping
    // actually pays for. Hilbert's unit-step traversal yields strictly
    // tighter envelopes than Morton's power-of-two jumps (HilbertSpec
    // asserts the inequality; this gate pins both totals exactly). All
    // integer arithmetic; one data pass computes both codes, the two
    // roll-ups aggregate 256-row relations.
    Q("lo_locality", (s, d) => {
      val coded = tbl(s, d, "lineitem")
        .select(expr("l_orderkey & 65535").as("x"),
          expr("l_partkey & 65535").as("y"))
        .withColumn("morton",
          graft.functions.InterleaveBits.zorder(col("x"), col("y")))
        .withColumn("hil",
          graft.functions.HilbertIndex.hilbert(col("x"), col("y")))
        .persist()
      def rollup(curve: String, bucket: Column): DataFrame = coded
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("x").as("xlo"), max("x").as("xhi"),
          min("y").as("ylo"), max("y").as("yhi"))
        .agg(count(lit(1)).as("n_buckets"), sum("n").as("n_rows"),
          sum((col("xhi") - col("xlo") + 1) * (col("yhi") - col("ylo") + 1))
            .as("total_area"))
        .select(lit(curve).as("curve"), col("n_buckets"), col("n_rows"),
          col("total_area"))
      graft.Caching.releaseAfterAction(
        rollup("hilbert", expr("shiftright(hil, 24)"))
          .unionByName(rollup("morton", expr("shiftright(morton, 24)"))),
        coded)
    }, Some(HILBERT_CTES + MORTON16_CTES + """
      , henv AS (
        SELECT d >> 24 AS b, count(*) AS n, min(x0) AS xlo, max(x0) AS xhi,
               min(y0) AS ylo, max(y0) AS yhi
        FROM h16 GROUP BY 1),
      menv AS (
        SELECT code >> 24 AS b, count(*) AS n, min(x0) AS xlo, max(x0) AS xhi,
               min(y0) AS ylo, max(y0) AS yhi
        FROM m GROUP BY 1)
      SELECT 'hilbert' AS curve, count(*) AS n_buckets,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(sum((xhi - xlo + 1) * (yhi - ylo + 1)) AS BIGINT)
               AS total_area
      FROM henv
      UNION ALL
      SELECT 'morton' AS curve, count(*) AS n_buckets,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(sum((xhi - xlo + 1) * (yhi - ylo + 1)) AS BIGINT)
               AS total_area
      FROM menv""")),

    // Parquet under zstd — the codec a modern lakehouse actually deploys
    // (better ratio than snappy at comparable decode speed): the same
    // events relation written with compression=zstd and read back through
    // the same gate aggregate, proving the codec path end to end (footer,
    // page compression, vectorized decode).
    Q("src_parquet_zstd", (s, d) => {
      val dir = stage("zstd")
      ev(s, d).write.mode(SaveMode.Overwrite)
        .option("compression", "zstd").parquet(dir)
      gateAgg(s.read.parquet(dir))
    }, Some(GATE_SQL)),

    // ORC: Spark's second built-in columnar format, with its own codec and
    // type mapping; predicate pushdown and column pruning apply to the
    // read-back scan exactly as for parquet.
    // Avro: the row-oriented interchange format of every Kafka/ingest
    // pipeline. The spark-avro connector is not on this classpath, but the
    // REAL Apache Avro library is — so the round-trip drives avro's own
    // object-container format directly (DataFileWriter/Reader, deflate
    // codec, all-nullable union schema): one container file per partition
    // through the distributed write, file-parallel reads, NULLs riding as
    // avro null-branch unions, ts as micro-exact long. Same shared gate
    // aggregate as every other format.
    Q("src_avro_roundtrip", (s, d) => {
      import s.implicits._
      val dir = stage("avro")
      graft.sources.StoreIO.mkdirs(graft.sources.StoreIO.hadoopConf, dir)
      val sconf = graft.sources.StoreIO.broadcastConf(s)
      val schemaJson = AVRO_SCHEMA
      ev(s, d)
        .select(col("event_id"), Q.tsMicros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(8).rdd
        .mapPartitionsWithIndex { (pid, it) =>
          val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
          val bos = new java.io.ByteArrayOutputStream()
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(1))
          w.create(schema, bos)
          var n = 0L
          it.foreach { r =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            if (!r.isNullAt(0)) rec.put("event_id", r.getLong(0))
            if (!r.isNullAt(1)) rec.put("ts_us", r.getLong(1))
            if (!r.isNullAt(2)) rec.put("user_id", r.getLong(2))
            if (!r.isNullAt(3)) rec.put("event_type", r.getString(3))
            if (!r.isNullAt(4)) rec.put("value", r.getDouble(4))
            w.append(rec)
            n += 1
          }
          w.close()
          // an empty partition writes no container at all (the empty
          // regime must read back as zero files, not eight headers)
          if (n == 0) Iterator.empty
          else {
            graft.sources.StoreIO.write(sconf.value.value,
              s"$dir/part-$pid.avro", bos.toByteArray)
            Iterator.single(n)
          }
        }.count()
      val files = graft.sources.StoreIO
        .list(graft.sources.StoreIO.hadoopConf, dir)
        .map(_.getPath.toString).filter(_.endsWith(".avro")).sorted
      val back = s.sparkContext
        .parallelize(files, math.max(1, files.size))
        .flatMap { p =>
          val bytes = graft.sources.StoreIO.readAllBytes(sconf.value.value, p)
          val rd = new org.apache.avro.file.DataFileReader(
            new org.apache.avro.file.SeekableByteArrayInput(bytes),
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord]())
          val out = scala.collection.mutable.ArrayBuffer[
            (Option[Long], Option[Long], Option[Long], Option[String],
              Option[Double])]()
          while (rd.hasNext) {
            val rec = rd.next()
            def g(f: String): Option[AnyRef] = Option(rec.get(f))
            out += ((g("event_id").map(_.asInstanceOf[java.lang.Long].longValue),
              g("ts_us").map(_.asInstanceOf[java.lang.Long].longValue),
              g("user_id").map(_.asInstanceOf[java.lang.Long].longValue),
              g("event_type").map(_.toString),
              g("value").map(_.asInstanceOf[java.lang.Double].doubleValue)))
          }
          rd.close()
          out
        }
      gateAgg(back.toDF("event_id", "ts_us", "user_id", "event_type", "value")
        .select(col("event_id"),
          expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)").as("ts"),
          col("user_id"), col("event_type"), col("value")))
    }, Some(GATE_SQL)),

    // Avro schema EVOLUTION — the feature avro exists for (the Kafka-world
    // twin of src_schema_evolution's parquet mergeSchema): containers
    // written under the v1 writer schema are read through a v2 READER
    // schema that adds a defaulted column and drops another. Avro's
    // resolution rules supply the default for the missing field and skip
    // the dropped one record-by-record — no rewrite of the old files, the
    // exact contract a schema-registry deployment relies on. The oracle
    // replays the same resolution relationally (constant default column,
    // user_id projected away).
    Q("src_avro_evolution", (s, d) => {
      import s.implicits._
      val dir = stage("avroev")
      graft.sources.StoreIO.mkdirs(graft.sources.StoreIO.hadoopConf, dir)
      val sconf = graft.sources.StoreIO.broadcastConf(s)
      val writerJson = AVRO_SCHEMA
      // v2: user_id dropped, schema_tag added with a default
      val readerJson = """{
        "type": "record", "name": "Event", "fields": [
          {"name": "event_id",   "type": ["null", "long"],   "default": null},
          {"name": "ts_us",      "type": ["null", "long"],   "default": null},
          {"name": "event_type", "type": ["null", "string"], "default": null},
          {"name": "value",      "type": ["null", "double"], "default": null},
          {"name": "schema_tag", "type": "string", "default": "v1-legacy"}]}"""
      ev(s, d)
        .select(col("event_id"), Q.tsMicros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(4).rdd
        .mapPartitionsWithIndex { (pid, it) =>
          val schema = new org.apache.avro.Schema.Parser().parse(writerJson)
          val bos = new java.io.ByteArrayOutputStream()
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          w.create(schema, bos)
          var n = 0L
          it.foreach { r =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            if (!r.isNullAt(0)) rec.put("event_id", r.getLong(0))
            if (!r.isNullAt(1)) rec.put("ts_us", r.getLong(1))
            if (!r.isNullAt(2)) rec.put("user_id", r.getLong(2))
            if (!r.isNullAt(3)) rec.put("event_type", r.getString(3))
            if (!r.isNullAt(4)) rec.put("value", r.getDouble(4))
            w.append(rec)
            n += 1
          }
          w.close()
          if (n == 0) Iterator.empty
          else {
            graft.sources.StoreIO.write(sconf.value.value,
              s"$dir/part-$pid.avro", bos.toByteArray)
            Iterator.single(n)
          }
        }.count()
      val files = graft.sources.StoreIO
        .list(graft.sources.StoreIO.hadoopConf, dir)
        .map(_.getPath.toString).filter(_.endsWith(".avro")).sorted
      val back = s.sparkContext
        .parallelize(files, math.max(1, files.size))
        .flatMap { p =>
          val reader = new org.apache.avro.Schema.Parser().parse(readerJson)
          val bytes = graft.sources.StoreIO.readAllBytes(sconf.value.value, p)
          // writer schema comes from the container header; the reader
          // schema drives avro's resolution (defaults + skips)
          val rd = new org.apache.avro.file.DataFileReader(
            new org.apache.avro.file.SeekableByteArrayInput(bytes),
            new org.apache.avro.generic.GenericDatumReader[
              org.apache.avro.generic.GenericRecord](null, reader))
          val out = scala.collection.mutable.ArrayBuffer[
            (Option[Long], Option[Long], Option[String], Option[Double],
              String)]()
          while (rd.hasNext) {
            val rec = rd.next()
            def g(f: String): Option[AnyRef] = Option(rec.get(f))
            out += ((g("event_id").map(_.asInstanceOf[java.lang.Long].longValue),
              g("ts_us").map(_.asInstanceOf[java.lang.Long].longValue),
              g("event_type").map(_.toString),
              g("value").map(_.asInstanceOf[java.lang.Double].doubleValue),
              rec.get("schema_tag").toString))
          }
          rd.close()
          out
        }
      back.toDF("event_id", "ts_us", "event_type", "value", "schema_tag")
        .groupBy(expr("ts_us div 300000000").as("bucket"),
          col("event_type"), col("schema_tag"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
    }, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             'v1-legacy' AS schema_tag, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2""")),

    // Hadoop SequenceFile: the original splittable key-value container,
    // still the interchange of legacy Hadoop estates — driven through
    // Spark core's native saveAsSequenceFile / sc.sequenceFile with gzip
    // record compression. Values pack the five fields with 
    // separators; NULL rides as an empty slot (the classic format limit:
    // like fixed-width, this cannot represent an empty STRING distinctly
    // from NULL), and the double travels as raw IEEE bits
    // (doubleToRawLongBits) so the round-trip is bit-exact with no
    // shortest-rendering dependence.
    Q("src_seqfile_roundtrip", (s, d) => {
      import s.implicits._
      val dir = stage("seq")
      def pk(r: org.apache.spark.sql.Row, i: Int): String =
        if (r.isNullAt(i)) ""
        else r.get(i) match {
          case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
          case v => v.toString
        }
      ev(s, d)
        .select(col("event_id"), Q.tsMicros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(8).rdd
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          (0 until 5).map(pk(r, _)).mkString("")))
        .saveAsSequenceFile(dir,
          Some(classOf[org.apache.hadoop.io.compress.GzipCodec]))
      val back = s.sparkContext.sequenceFile[Long, String](dir)
        .map { case (_, v) =>
          // -1 keeps every separator: a trailing NULL slot must survive
          val f = v.split("", -1)
          def ol(i: Int): Option[Long] =
            if (f(i).isEmpty) None else Some(f(i).toLong)
          (ol(0), ol(1), ol(2),
            if (f(3).isEmpty) None else Some(f(3)),
            ol(4).map(java.lang.Double.longBitsToDouble))
        }
      gateAgg(back.toDF("event_id", "ts_us", "user_id", "event_type", "value")
        .select(col("event_id"),
          expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)").as("ts"),
          col("user_id"), col("event_type"), col("value")))
    }, Some(GATE_SQL)),

    Q("src_orc_roundtrip", (s, d) => {
      val orcDir = stage("orc")
      ev(s, d).write.mode(SaveMode.Overwrite).orc(orcDir)
      gateAgg(s.read.orc(orcDir))
    }, Some(GATE_SQL)),

    // CSV: the text interchange path. Schema is supplied on read (CSV has
    // none) and declares ts TIMESTAMP_NTZ — the same type the parquet scan
    // yields — so the round-trip is type-faithful; ts survives micro-exact
    // under the explicit fraction pattern, value as the shortest round-trip
    // double rendering.
    Q("src_csv_roundtrip", (s, d) => {
      val csvDir = stage("csv")
      ev(s, d).write.mode(SaveMode.Overwrite)
        .option("header", "true")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .csv(csvDir)
      gateAgg(s.read.option("header", "true")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .schema("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
          "event_type STRING, value DOUBLE")
        .csv(csvDir))
    }, Some(GATE_SQL)),

    // JSON lines: the log-interchange path, schema on read (same NTZ type
    // fidelity and micro-exact fraction pattern as the CSV path).
    Q("src_jsonl_roundtrip", (s, d) => {
      val jsonDir = stage("json")
      ev(s, d).write.mode(SaveMode.Overwrite)
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .json(jsonDir)
      gateAgg(s.read
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .schema("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
          "event_type STRING, value DOUBLE")
        .json(jsonDir))
    }, Some(GATE_SQL)),

    // Corrupt-tolerant PARQUET ingest — the binary-format sibling of
    // src_corrupt_jsonl: a store holding good files PLUS a
    // parquet-suffixed garbage object (a partial upload, a truncated
    // copy) reads through ignoreCorruptFiles, which drops exactly the
    // unreadable file (footer validation fails) and keeps every good row.
    // The oracle recomputes from the good stratum alone.
    Q("src_corrupt_parquet", (s, d) => {
      val dir = stage("corruptpq")
      ev(s, d).filter(col("event_id") % 3 === 0)
        .write.mode(SaveMode.Overwrite).parquet(dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/part-garbage.parquet"),
        ("NOT A PARQUET FILE " * 64).getBytes)
      gateAgg(s.read.option("ignoreCorruptFiles", "true").parquet(dir))
    }, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id % 3 = 0 GROUP BY 1, 2""")),

    // PERMISSIVE-mode CSV with corrupt-record CAPTURE — the third
    // malformed-input discipline after DROPMALFORMED (src_corrupt_jsonl)
    // and ignoreCorruptFiles (src_corrupt_parquet): wrong-arity lines
    // spliced into the feed land in the declared _corrupt column instead
    // of killing the read or vanishing silently, so the ingest can both
    // keep every good row AND account for every bad one — the gate folds
    // the captured stratum into the aggregate as an explicit '_corrupt'
    // group whose count the oracle pins as the injected constant.
    Q("src_csv_permissive", (s, d) => {
      val dir = stage("permcsv")
      ev(s, d).write.mode(SaveMode.Overwrite)
        .option("header", "false")
        .option("timestampNTZFormat", TS_FMT)
        .csv(dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/part-junk.csv"),
        (1 to 7).map(i => s"junk-line-$i,only,three")
          .mkString("", "\n", "\n").getBytes)
      val raw = s.read
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("timestampNTZFormat", TS_FMT)
        .schema("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, _corrupt STRING")
        .csv(dir)
      raw
        .withColumn("bucket", Q.tsBucket(col("ts"), 300000000L))
        // the CAPTURE COLUMN is the corrupt marker — a legitimately NULL
        // event_type must stay its own group, not be mislabeled corrupt
        .withColumn("et", when(col("_corrupt").isNotNull, lit("_corrupt"))
          .otherwise(col("event_type")))
        .groupBy("bucket", "et")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
    }, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
             event_type AS et, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
      UNION ALL
      SELECT NULL, '_corrupt', 7, NULL""")),

    // Compressed text interchange: the same JSONL round-trip through the
    // gzip codec — every file is written and re-read as .json.gz, the
    // form event logs actually ship in. Same oracle as the uncompressed
    // path, so a hash match isolates the codec layer. (gzip text files
    // are NOT splittable — a real 100 TB feed shards into many files so
    // parallelism comes from file count, exactly what the distributed
    // writer produces here.)
    Q("src_jsonl_gzip", (s, d) => {
      val dir = stage("jsongz")
      ev(s, d).write.mode(SaveMode.Overwrite)
        .option("compression", "gzip")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .json(dir)
      gateAgg(s.read
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .schema("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
          "event_type STRING, value DOUBLE")
        .json(dir))
    }, Some(GATE_SQL)),

    // Fixed-width text ingest — the mainframe/legacy-feed format Spark has
    // no reader for: records are written as zero/space-padded column
    // slices through the distributed text sink, read back with the plain
    // text source, and parsed by 1-based substring offsets (the schema
    // lives in the offsets, not the file). Everything numeric rides as
    // exact scaled integers, so the shared gate aggregate proves the
    // pad → slice → cast chain byte-faithful. Line-oriented text splits
    // by newline, so the format is fully splittable at 100 TB. Every
    // field is width-ASSERTED before padding: lpad silently truncates a
    // value wider than its slot (a 9-digit user_id, a negative value
    // whose '-' shifts digits), which would corrupt the round-trip with
    // no error — over-width rows must fail the write loudly instead.
    Q("src_fixedwidth", (s, d) => {
      val dir = stage("fw")
      tbl(s, d, "events").select(concat(
        fwField(col("event_id"), 12, "0", left = true),
        fwField(Q.tsMicros(col("ts")), 20, "0", left = true),
        fwField(col("user_id"), 8, "0", left = true),
        fwField(col("event_type"), 10, " ", left = false),
        fwField(expr("CAST(round(value * 1000000) AS BIGINT)"),
          14, "0", left = true)).as("value"))
        .write.mode(SaveMode.Overwrite).text(dir)
      s.read.text(dir)
        .select(
          // all-spaces slots decode back to NULL (nullif keeps ANSI casts
          // from rejecting the empty string; fixed-width cannot represent
          // an empty string distinctly from NULL — classic format limit)
          expr("CAST(nullif(trim(substring(value, 13, 20)), '') AS BIGINT)")
            .as("us"),
          expr("nullif(rtrim(substring(value, 41, 10)), '')")
            .as("event_type"),
          // all-spaces slot decodes back to NULL (nullif keeps ANSI casts
          // from rejecting the empty string)
          expr("CAST(nullif(trim(substring(value, 51, 14)), '') AS BIGINT)")
            .as("vm"))
        .groupBy(expr("us div 300000000").as("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("vm").as("sum_micros"))
    }, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_micros
      FROM events GROUP BY 1, 2""")),

    // CSV quoting fidelity: events.props carries embedded double quotes
    // (JSON text), which the CSV writer must quote-wrap and escape and
    // the reader must unescape byte-exactly — the classic corruption seam
    // of CSV interchange. The gate groups by the ROUND-TRIPPED props
    // value, so one mangled character splits or merges groups and breaks
    // the hash.
    Q("src_csv_quoted", (s, d) => {
      val dir = stage("csvq")
      tbl(s, d, "events").select("event_id", "event_type", "props")
        .write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(dir)
      s.read.option("header", "true")
        .schema("event_id BIGINT, event_type STRING, props STRING")
        .csv(dir)
        .groupBy("event_type", "props")
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
    }, Some("""
      SELECT event_type, props, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS id_sum
      FROM events GROUP BY 1, 2""")),

    // Parquet bloom-filter point lookup: the store is laid out ADVERSELY
    // for the probe key (sorted by user_id, so event_id is scattered and
    // min/max stats prune nothing) and written with a bloom filter on
    // event_id; the point read then skips every row group whose bloom
    // says "definitely absent" — the layout-independent point-lookup
    // path a 100 TB event store needs when the probe key isn't the sort
    // key (BloomPruneSpec pins the bytes-read reduction through a counting
    // FileSystem; this gate pins the answer).
    Q("src_bloom_point", (s, d) => {
      val dir = stage("bloom")
      ev(s, d).sort("user_id")
        .write.mode(SaveMode.Overwrite)
        .option("parquet.bloom.filter.enabled#event_id", "true")
        .parquet(dir)
      s.read.parquet(dir).filter(col("event_id") === 123L)
        .select(col("event_id"), Q.tsMicros(col("ts")).as("us"),
          col("user_id"), col("event_type"), col("value"))
    }, Some("""
      SELECT event_id, epoch_us(ts) AS us, user_id, event_type, value
      FROM events WHERE event_id = 123""")),

    // XML: the document-interchange path (Spark 4 ships the xml source
    // natively). Same contract as CSV/JSONL: schema on read, the NTZ
    // timestamp carried micro-exact under the explicit fraction pattern
    // on BOTH format options, value as shortest-round-trip double. The
    // rowTag scopes each event element; the writer emits one XML file per
    // partition (distributed, like every other staging sink here).
    Q("src_xml_roundtrip", (s, d) => {
      val xmlDir = stage("xml")
      ev(s, d).write.mode(SaveMode.Overwrite)
        .option("rowTag", "event")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .xml(xmlDir)
      gateAgg(s.read
        .option("rowTag", "event")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .schema("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
          "event_type STRING, value DOUBLE")
        .xml(xmlDir))
    }, Some(GATE_SQL)),

    // Text-format timestamp-type matrix: the SAME instant carried as
    // TIMESTAMP_NTZ (as read off parquet) and as TIMESTAMP_LTZ (cast under
    // the UTC session) side by side through one CSV round-trip. Each type
    // consults its own format option (timestampNTZFormat vs
    // timestampFormat) on write AND read — exactly the type-mapping seam
    // where text interchange silently corrupts — and the gate proves both
    // columns re-read micro-identical to the source instants.
    Q("src_text_ts_types", (s, d) => {
      val dir = stage("tstypes")
      tbl(s, d, "events")
        .select(col("event_id"), col("ts").as("ts_ntz"),
          col("ts").cast("timestamp").as("ts_ltz"), col("event_type"))
        .write.mode(SaveMode.Overwrite)
        .option("header", "true")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .csv(dir)
      s.read.option("header", "true")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .schema("event_id BIGINT, ts_ntz TIMESTAMP_NTZ, ts_ltz TIMESTAMP, " +
          "event_type STRING")
        .csv(dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(Q.tsMicros(col("ts_ntz"))).as("lo_ntz"),
          max(Q.tsMicros(col("ts_ntz"))).as("hi_ntz"),
          min(unix_micros(col("ts_ltz"))).as("lo_ltz"),
          max(unix_micros(col("ts_ltz"))).as("hi_ltz"))
    }, Some("""
      SELECT event_type, count(*) AS n,
             min(epoch_us(ts)) AS lo_ntz, max(epoch_us(ts)) AS hi_ntz,
             min(epoch_us(ts)) AS lo_ltz, max(epoch_us(ts)) AS hi_ltz
      FROM events GROUP BY 1""")),

    // Corrupt-record-tolerant ingest: the events feed with garbage lines
    // spliced in (truncated JSON, non-JSON noise, wrong-type fields — the
    // realities of a scraped log feed). Two defenses compose, both
    // executor-side: DROPMALFORMED discards SYNTAX-corrupt lines at parse
    // time, but a well-formed JSON object whose fields fail type
    // conversion is RETAINED with nulls (Spark treats that as a partial
    // row, not a malformed one — CorruptIngestSpec pins the asymmetry),
    // so a non-null key filter removes the type-corrupt residue. The gate
    // aggregate over the survivors must equal the clean-feed oracle
    // bit-for-bit; dropping too much or letting a mangled row through
    // breaks the hash.
    Q("src_corrupt_jsonl", (s, d) => {
      val dir = stage("corrupt")
      ev(s, d).write.mode(SaveMode.Overwrite)
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .json(dir)
      val garbage = Seq(
        "{\"event_id\": 1, \"ts\": \"2024-01-01 00:0",   // truncated mid-value
        "not json at all",
        "{\"event_id\": \"noise\", \"ts\": false}",       // wrong types
        "{")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "part-99999-garbage.json"),
        garbage.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      gateAgg(s.read
        .option("mode", "DROPMALFORMED")
        .option("timestampFormat", TS_FMT)
        .option("timestampNTZFormat", TS_FMT)
        .schema("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
          "event_type STRING, value DOUBLE")
        .json(dir)
        // event_id is the NOT-NULL key of the feed, so it alone separates
        // DROPMALFORMED's residue from real rows: a real event with a NULL
        // ts must keep its (NULL-bucket) group like the oracle, not be
        // swept out with the garbage
        .filter(col("event_id").isNotNull))
    }, Some(GATE_SQL)),

    // Small-file compaction — the lakehouse maintenance operator: a store
    // fragmented into 64 tiny files (the streaming-ingest pathology) is
    // bin-packed into 2 range-partitioned files and must read back
    // byte-identical under the shared gate. repartitionByRange gives the
    // rewrite a sort-order dividend: each output file carries a tight
    // event_id min/max envelope, so post-compaction scans range-prune.
    // The file-count collapse itself is pinned by SourceStagingSpec.
    Q("src_compact", (s, d) => {
      val small = stage("frag")
      val packed = stage("packed")
      ev(s, d).repartition(64).write.mode(SaveMode.Overwrite).parquet(small)
      s.read.parquet(small)
        .repartitionByRange(2, col("event_id"))
        .write.mode(SaveMode.Overwrite).parquet(packed)
      gateAgg(s.read.parquet(packed))
    }, Some(GATE_SQL)),

    // Manifest-based snapshot versioning (time travel): each commit
    // records its file list in a manifest at commit time; a snapshot read
    // plans from the MANIFEST, never from directory listing — so version 1
    // stays byte-stable while version 2's files land in the very same
    // directory (snapshot isolation on plain parquet, the metadata-layer
    // idea under Iceberg/Delta). The gate reads BOTH versions through
    // their persisted manifests after the append and aggregates each; the
    // oracle recomputes the two snapshots from the raw table by the
    // commit's time split. TimeTravelSpec additionally pins zero directory
    // listings during a manifest read.
    Q("src_time_travel", (s, d) => {
      val dir = stage("tt")
      val mid = 1705363200000000L // day 15 commit boundary
      val e = ev(s, d)
      e.filter(Q.tsMicros(col("ts")) < mid)
        .write.mode(SaveMode.Overwrite).parquet(dir)
      def dataFiles(): Seq[String] = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).sorted.toSeq
      def commit(v: Int, fs: Seq[String]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/_manifest_v$v.txt"),
          fs.mkString("\n").getBytes)
      commit(1, dataFiles())
      // commit 2 appends everything NOT in commit 1 — including rows with
      // no timestamp (a bare >= filter would silently drop them from every
      // version; the oracle's v2 is the whole table)
      e.filter(Q.tsMicros(col("ts")) >= mid || col("ts").isNull)
        .write.mode(SaveMode.Append).parquet(dir)
      commit(2, dataFiles())
      def snap(v: Int): DataFrame = {
        val mf = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$dir/_manifest_v$v.txt")))
          .split("\n").toSeq
        s.read.parquet(mf: _*)
      }
      def agg(v: Int) = snap(v).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("sum_value"))
        .select(lit(v.toLong).as("version"), col("event_type"), col("n"),
          col("sum_value"))
      agg(1).unionByName(agg(2))
    }, Some("""
      SELECT CAST(1 AS BIGINT) AS version, event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE epoch_us(ts) < 1705363200000000 GROUP BY 2
      UNION ALL
      SELECT 2, event_type, count(*),
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      FROM events GROUP BY 2""")),

    // Schema evolution: an events feed that ADDED the value column
    // mid-stream — early files lack it, late files carry it — read back
    // through mergeSchema, with the absent column surfacing as NULL for
    // the early rows. This is the append-only table lifecycle every
    // long-lived ingest hits; the oracle recomputes the same aggregate
    // with value masked to the late stratum.
    Q("src_schema_evolution", (s, d) => {
      val dir = stage("evo")
      // null-safe split: the two writes must PARTITION the feed — a plain
      // != would drop NULL-type rows from both strata
      ev(s, d).filter(!(col("event_type") <=> "purchase"))
        .select("event_id", "ts", "user_id", "event_type")
        .write.mode(SaveMode.Append).parquet(dir)
      ev(s, d).filter(col("event_type") <=> "purchase")
        .write.mode(SaveMode.Append).parquet(dir)
      gateAgg(s.read.option("mergeSchema", "true").parquet(dir))
    }, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
               AS sum_value
      FROM events GROUP BY 1, 2""")),

    // Hive-partitioned parquet: partitionBy on the filter column, then a
    // filtered read — the filter must become a PartitionFilter (directory
    // pruning, no data read outside the two partitions; plan-guarded in
    // PlanQualitySpec). The 100 TB lever: a partition-pruned scan reads
    // only the slice a query touches.
    Q("src_partitioned_prune", (s, d) => {
      val partDir = stage("part")
      val src = ev(s, d)
      src.write.mode(SaveMode.Overwrite)
        .partitionBy("event_type").parquet(partDir)
      // explicit schema: an all-empty write leaves only _SUCCESS, and a
      // schema-less read of it fails — an empty slice of a partitioned
      // dataset must read back as zero rows, not an inference error
      gateAgg(s.read.schema(src.schema).parquet(partDir)
        .filter(col("event_type").isin("click", "purchase")))
    }, Some("""
      SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2""")))
}
