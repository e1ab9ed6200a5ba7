package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{HilbertIndex, HInterval}
import graft.plans.GraftLayout

/** The durable layout declaration: write-side helper drops the
  * `_graft_layout.json` sidecar next to the hilbert-sorted store, the
  * read-side helper registers the layout PATH-SCOPED so a plain box
  * filter over that store gets the range injection with no conf — while
  * an unrelated relation reusing the same column names is never touched.
  * Every failure mode (no sidecar, malformed sidecar, hostile names,
  * out-of-domain keys) either fails loudly at write or degrades to a
  * plain parquet read with nothing registered.
  */
class GraftLayoutSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"
  private val ConfKey = "spark.graft.hilbert.layout"

  private def src = spark.read.parquet(s"$sf/lineitem.parquet")
    .select(expr("l_orderkey & 65535").as("gx"),
      expr("l_partkey & 65535").as("gy"),
      expr("l_suppkey & 1023").as("gz"))

  private def coverRanges(df: org.apache.spark.sql.DataFrame,
      hName: String): Int =
    df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect {
          case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
            org.apache.spark.sql.catalyst.expressions.Literal(_, _))
            if a.name == hName => 1
        }.size
    }.sum

  test("write + read registers the layout path-scoped, no session conf") {
    val dir = TempDirs.create("glayout2")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 8)
    // the store is ordinary parquet for any reader (sidecar hidden)
    val plainRows = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
      .collect().map(_.toSeq).toSet
    assert(plainRows.nonEmpty)
    val df = GraftLayout.read(spark, dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    // registration does NOT touch the session conf (path-scoped registry)
    assert(!spark.conf.getOption(ConfKey).getOrElse("").contains("gx"))
    assert(coverRanges(df, "gh") ==
      HInterval.cover(100L, 900L, 20L, 150L).size,
      "plain box filter gets the injected cover")
    assert(df.collect().map(_.toSeq).toSet == plainRows)
  }

  test("an unrelated relation reusing the column names is never touched") {
    val dir = TempDirs.create("glayout_scope")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir) // registers the PATH
    // different store, same names — gh is NOT hilbert(gx, gy) here
    val impostor = TempDirs.create("glayout_impostor")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey & 65535 AS gx", "l_partkey & 65535 AS gy",
        "CAST(l_extendedprice * 100 AS BIGINT) AS gh")
      .write.mode("overwrite").parquet(impostor)
    val boxed = spark.read.parquet(impostor)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(boxed, "gh") == 0,
      "layout must not fire on a store it does not describe")
    // and results are the plain-filter results, nothing silently dropped
    val expect = spark.read.parquet(impostor).collect()
      .count(r => r.getLong(0) >= 100 && r.getLong(0) <= 900 &&
        r.getLong(1) >= 20 && r.getLong(1) <= 150)
    assert(boxed.count() == expect)
  }

  test("3-D store registers independently; forget() drops it") {
    val d3 = TempDirs.create("glayout3")
    // all three keys masked to the order-10 domain (the 2-D 16-bit keys
    // would — correctly — fail writeHilbert3's domain check)
    val src3 = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(expr("l_orderkey & 1023").as("gx"),
        expr("l_partkey & 1023").as("gy"),
        expr("l_suppkey & 1023").as("gz"))
    GraftLayout.writeHilbert3(src3, d3, "gx", "gy", "gz", "gh3", 4)
    def boxed = GraftLayout.read(spark, d3)
      .filter(col("gx").between(100L, 400L) &&
        col("gy").between(20L, 150L) && col("gz").between(2L, 8L))
    assert(coverRanges(boxed, "gh3") ==
      HInterval.cover3(100L, 400L, 20L, 150L, 2L, 8L).size)
    assert(boxed.count() > 0)
    GraftLayout.forget(spark, d3)
    val after = spark.read.parquet(d3)
      .filter(col("gx").between(100L, 400L) &&
        col("gy").between(20L, 150L) && col("gz").between(2L, 8L))
    assert(coverRanges(after, "gh3") == 0, "forget must drop the layout")
  }

  test("no sidecar: plain read, nothing registered") {
    val dir = TempDirs.create("glayout_plain")
    src.write.mode("overwrite").parquet(dir)
    val df = GraftLayout.read(spark, dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(df, "gh") == 0)
    assert(GraftLayout.read(spark, dir).count() == src.count())
  }

  test("malformed, hostile, and schema-mismatched sidecars fail closed") {
    val dir = TempDirs.create("glayout_bad")
    src.limit(10).write.mode("overwrite").parquet(dir)
    val p = java.nio.file.Paths.get(dir, GraftLayout.SidecarName)
    def probe(): Int = {
      val df = GraftLayout.read(spark, dir)
        .filter(col("gx").between(0L, 900L) && col("gy").between(0L, 900L))
      assert(df.count() > 0, "read must proceed regardless of the sidecar")
      coverRanges(df, "gh") + coverRanges(df, "gz")
    }
    java.nio.file.Files.writeString(p, "{not json")
    assert(probe() == 0, "malformed JSON")
    java.nio.file.Files.writeString(p, """{"columns":["a;b,c","y","h"]}""")
    assert(probe() == 0, "separator injection")
    java.nio.file.Files.writeString(p, """{"columns":["x","h"]}""")
    assert(probe() == 0, "wrong arity")
    // names valid but not all present in THIS store's schema
    java.nio.file.Files.writeString(p, """{"columns":["gx","gy","nope"]}""")
    assert(probe() == 0, "schema mismatch")
    // duplicate names: would bound the cover on one key twice and the
    // other not at all, silently pruning in-domain rows — must not
    // register at all
    java.nio.file.Files.writeString(p, """{"columns":["gx","gx","gz"]}""")
    assert(probe() == 0, "duplicate key names")
    // a sidecar naming columns of a DIFFERENT table must not register
    // a layout that then misfires on relations carrying those names:
    // gx,gy,gz all exist here but gz is no hilbert index — registration
    // happens (schema-valid), yet ONLY this path is affected
    java.nio.file.Files.writeString(p, """{"columns":["gx","gy","gz"]}""")
    val other = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey & 65535 AS gx", "l_partkey & 65535 AS gy",
        "l_suppkey & 1023 AS gz")
      .filter(col("gx").between(0L, 900L) && col("gy").between(0L, 900L))
    GraftLayout.read(spark, dir)
    assert(coverRanges(other, "gz") == 0,
      "a hostile sidecar's blast radius is its own directory")
    GraftLayout.forget(spark, dir)
  }

  test("multi-path read mixing a layout store with foreign data: no fire") {
    val laid = TempDirs.create("glayout_mixa")
    GraftLayout.writeHilbert(src, laid, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, laid)
    // same schema as the laid store, but gh here is NOT a hilbert index
    val foreign = TempDirs.create("glayout_mixb")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey & 65535 AS gx", "l_partkey & 65535 AS gy",
        "l_suppkey & 1023 AS gz",
        "CAST(l_extendedprice * 100 AS BIGINT) AS gh")
      .write.mode("overwrite").parquet(foreign)
    val mixed = spark.read.parquet(laid, foreign)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(mixed, "gh") == 0,
      "the cover must not prune rows of the foreign store")
    // and the box answer over the union is exactly filter semantics
    val expect = spark.read.parquet(laid).filter(
        col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
      .count() + spark.read.parquet(foreign).filter(
        col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
      .count()
    assert(mixed.count() == expect)
  }

  test("a derived column shadowing the index name declines the rule") {
    val dir = TempDirs.create("glayout_shadow")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    // drop the real index and rebuild "gh" nondeterministically: the box
    // filter cannot be pushed below the project, so it sits over a child
    // whose "gh" is NOT the store's index attribute. The rule must
    // decline (exprId pass-through check) — name-matching here would
    // inject the cover over unrelated values and silently drop rows.
    val df = GraftLayout.read(spark, dir)
      .drop("gh")
      .withColumn("gh", monotonically_increasing_id())
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(df, "gh") == 0,
      "no cover over a column that is not the store's own index")
    val expect = spark.read.parquet(dir).filter(
      col("gx").between(100L, 900L) && col("gy").between(20L, 150L)).count()
    assert(df.count() == expect)
    // the same read with the index intact still gets the injection (the
    // decline above is the shadowing, not the sidecar)
    val clean = GraftLayout.read(spark, dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(clean, "gh") > 0)
    GraftLayout.forget(spark, dir)
  }

  test("overwriting a registered store with plain data clears on re-read") {
    val dir = TempDirs.create("glayout_stale")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    // plain Overwrite deletes the sidecar; gh is no longer an index
    spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey & 65535 AS gx", "l_partkey & 65535 AS gy",
        "CAST(l_extendedprice * 100 AS BIGINT) AS gh")
      .write.mode("overwrite").parquet(dir)
    // the official read API observes the missing sidecar and must DROP
    // the stale registration, not keep injecting covers over plain data
    val df = GraftLayout.read(spark, dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(df, "gh") == 0, "stale registration must clear")
    val expect = spark.read.parquet(dir).collect()
      .count(r => r.getLong(0) >= 100 && r.getLong(0) <= 900 &&
        r.getLong(1) >= 20 && r.getLong(1) <= 150)
    assert(df.count() == expect)
  }

  test("sidecar-route injection carries no IsNull escape (stats-skippable)") {
    // writeHilbert's index is computed FROM the keys (NULL index iff a
    // NULL key, which every key-bounding conjunct already rejects), so
    // the scoped route must not carry the IsNull(h) escape: it is the
    // one disjunct file statistics cannot disprove on a store whose
    // null-key rows sort into some file — that file would become
    // unprunable for EVERY box query
    val dir = TempDirs.create("glayout_noisnull")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    val df = GraftLayout.read(spark, dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(df, "gh") > 0, "the scoped injection fires")
    val isNulls = df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect {
          case org.apache.spark.sql.catalyst.expressions.IsNull(
            a: org.apache.spark.sql.catalyst.expressions.AttributeReference)
            if a.name == "gh" => 1
        }.size
    }.sum
    assert(isNulls == 0, "no IsNull(gh) escape on the sidecar route")
    GraftLayout.forget(spark, dir)
  }

  test("external overwrite invalidates the registration WITHOUT a re-read") {
    val dir = TempDirs.create("glayout_extern")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir) // registered, fingerprint captured
    // an EXTERNAL writer replaces the store behind the session's back
    // (any SaveMode.Overwrite takes the sidecar with it); the session
    // never calls GraftLayout.read again — the next PLAIN query must
    // neither prune by the dead index nor error
    spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("l_orderkey & 65535 AS gx", "l_partkey & 65535 AS gy",
        "CAST(l_extendedprice * 100 AS BIGINT) AS gh")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(df, "gh") == 0,
      "fingerprint mismatch must drop the registration at rule-fire time")
    val expect = spark.read.parquet(dir).collect()
      .count(r => r.getLong(0) >= 100 && r.getLong(0) <= 900 &&
        r.getLong(1) >= 20 && r.getLong(1) <= 150)
    assert(df.count() == expect, "no rows lost, no error")
  }

  test("a swapped sidecar invalidates too; re-read re-registers") {
    val dir = TempDirs.create("glayout_swap")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    def boxed = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(boxed, "gh") > 0, "registered layout fires")
    // an external writer rewrites the sidecar itself (content + length
    // change); the cached names no longer describe what's on disk
    val p = java.nio.file.Paths.get(dir, GraftLayout.SidecarName)
    val original = java.nio.file.Files.readAllBytes(p)
    java.nio.file.Files.writeString(p,
      """{"columns":["gx","gy","gz","gh_other"]}""")
    assert(coverRanges(boxed, "gh") == 0,
      "stale fingerprint must stop the injection without a re-read")
    // restoring the sidecar does NOT resurrect the dropped registration…
    java.nio.file.Files.write(p, original)
    assert(coverRanges(boxed, "gh") == 0, "dropped is dropped")
    // …but the official read API re-registers from what's on disk
    GraftLayout.read(spark, dir)
    assert(coverRanges(boxed, "gh") > 0)
    GraftLayout.forget(spark, dir)
  }

  test("fuzz: sidecar-route 3-D predicates never change results") {
    // the scoped route end to end (fingerprint check on every compile,
    // octree covers, domain escapes WITHOUT the IsNull form) under a
    // fixed-seed sweep of accepted predicate shapes, including
    // out-of-domain bounds and IN-lists: with the layout registered,
    // every query must return exactly the plain-filter rows
    val d3 = TempDirs.create("glayout_fuzz3")
    val src3 = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(expr("l_orderkey & 1023").as("fx"),
        expr("l_partkey & 1023").as("fy"),
        expr("l_suppkey & 1023").as("fz"))
    GraftLayout.writeHilbert3(src3, d3, "fx", "fy", "fz", "fh", 6)
    GraftLayout.forget(spark, d3) // compute the plain truth unregistered
    val rnd = new scala.util.Random(7)
    def rb(lo: Long, hi: Long): Long = lo + rnd.nextLong(hi - lo + 1)
    val preds = (1 to 12).map { i =>
      val box = col("fx").between(rb(-100L, 600L), rb(300L, 1400L)) &&
        col("fy").between(rb(-100L, 150L), rb(50L, 1200L))
      i % 3 match {
        case 0 => box && col("fz").between(rb(-5L, 5L), rb(3L, 1100L))
        case 1 => box && col("fz").isin(Seq.fill(1 + rnd.nextInt(5))(
          rb(0L, 12L)): _*)
        case _ => box && (col("fz") <=> rb(0L, 10L))
      }
    }
    val plains = preds.map(p =>
      spark.read.parquet(d3).filter(p).collect().map(_.toSeq).toSet)
    GraftLayout.read(spark, d3) // register: every query below is rewritten
    preds.zip(plains).zipWithIndex.foreach { case ((p, want), i) =>
      val got = spark.read.parquet(d3).filter(p).collect().map(_.toSeq).toSet
      assert(got == want, s"sidecar fuzz predicate #$i changed the result")
    }
    assert(plains.exists(_.nonEmpty), "fuzz must exercise non-empty results")
    GraftLayout.forget(spark, d3)
  }

  test("SaveMode.Append into a layout dir: pruning declines, no rows lost") {
    val dir = TempDirs.create("glayout_append")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir) // registered, fingerprints captured
    def boxed = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(boxed, "gh") > 0, "registered layout fires")
    // an external SaveMode.Append of non-conforming rows: in-domain keys,
    // NULL index — exactly the rows the (correctly) escape-free sidecar
    // cover would silently prune; the sidecar itself survives the append
    import spark.implicits._
    Seq((150L, 50L, Option.empty[Long]), (880L, 140L, Option.empty[Long]))
      .toDF("gx", "gy", "gh").write.mode("append").parquet(dir)
    // same JVM, no re-read: the per-pass data-file fingerprint must stop
    // the injection — the next box query neither prunes nor errors
    assert(coverRanges(boxed, "gh") == 0,
      "append must decline the injection at rule-fire time")
    val rows = boxed.collect()
    assert(rows.exists(r => r.getLong(0) == 150L && r.isNullAt(2)) &&
      rows.exists(r => r.getLong(0) == 880L && r.isNullAt(2)),
      "the appended rows must survive the box query")
    // the official read API must DECLINE to re-register too: the sidecar
    // is intact but its recorded fingerprint no longer matches the store
    val reread = GraftLayout.read(spark, dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(reread, "gh") == 0,
      "a re-read must not resurrect pruning over appended rows")
    assert(reread.collect()
      .exists(r => r.getLong(0) == 150L && r.isNullAt(2)))
    // only an official writeHilbert (full rewrite, fresh fingerprint)
    // re-enables pruning
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    val fresh = GraftLayout.read(spark, dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(fresh, "gh") > 0, "official rewrite restores pruning")
    GraftLayout.forget(spark, dir)
  }

  test("legacy sidecar (no files fingerprint) still registers and prunes") {
    // stores written before the data-file fingerprint existed carry only
    // {"columns":[...]} — they must keep pruning (fingerprint adopted at
    // registration time), and a SUBSEQUENT same-JVM append must still be
    // caught by the adopted fingerprint
    val dir = TempDirs.create("glayout_legacy")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    // strip the sidecar down to the legacy shape
    val p = java.nio.file.Paths.get(dir, GraftLayout.SidecarName)
    java.nio.file.Files.writeString(p, """{"columns":["gx","gy","gh"]}""")
    // the nio rewrite bypassed Hadoop's CRC bookkeeping; a legacy store
    // has no stale sibling, so drop it
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "." + GraftLayout.SidecarName + ".crc"))
    GraftLayout.forget(spark, dir)
    def boxed = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    GraftLayout.read(spark, dir)
    assert(coverRanges(boxed, "gh") > 0, "legacy sidecar must register")
    import spark.implicits._
    Seq((150L, 50L, Option.empty[Long])).toDF("gx", "gy", "gh")
      .write.mode("append").parquet(dir)
    assert(coverRanges(boxed, "gh") == 0,
      "append after a legacy registration must still decline pruning")
    assert(boxed.collect().exists(r => r.getLong(0) == 150L && r.isNullAt(2)))
    GraftLayout.forget(spark, dir)
  }

  test("a data-file swap preserving count and total bytes is caught") {
    // the adversarial append shape the (count, bytes) pair alone cannot
    // see: replace a data file with a DIFFERENT same-length file under a
    // new name — the sorted (name, length) hash must catch it
    val dir = TempDirs.create("glayout_swapfile")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    def boxed = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(boxed, "gh") > 0)
    val d = java.nio.file.Paths.get(dir)
    val part = java.nio.file.Files.list(d).filter(f =>
      !f.getFileName.toString.startsWith("_") &&
        !f.getFileName.toString.startsWith(".")).findFirst().get()
    java.nio.file.Files.move(part,
      d.resolve("part-99999-renamed.snappy.parquet"))
    assert(coverRanges(boxed, "gh") == 0,
      "same count+bytes but a renamed member must read as stale")
    GraftLayout.forget(spark, dir)
  }

  test("a same-length same-mtime sidecar rewrite is caught (content hash)") {
    val dir = TempDirs.create("glayout_samelen")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    def boxed = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(boxed, "gh") > 0)
    // rewrite the sidecar byte-for-byte-length-preserving AND restore the
    // mtime — the adversarial case a (mtime, length) stat cannot see
    val p = java.nio.file.Paths.get(dir, GraftLayout.SidecarName)
    val orig = java.nio.file.Files.readAllBytes(p)
    val mtime = java.nio.file.Files.getLastModifiedTime(p)
    val swapped = new String(orig, "UTF-8").replace("\"gx\"", "\"gq\"")
      .getBytes("UTF-8")
    assert(swapped.length == orig.length, "the rewrite must preserve length")
    java.nio.file.Files.write(p, swapped)
    java.nio.file.Files.setLastModifiedTime(p, mtime)
    assert(coverRanges(boxed, "gh") == 0,
      "the content hash must catch a stat-invisible sidecar rewrite")
    GraftLayout.forget(spark, dir)
  }

  test("per-compile validation cost is bounded: a few GET+LIST, no scans") {
    // the scale contract behind the fingerprint guard: compiling a box
    // query over a registered store costs a handful of driver-side
    // sidecar opens + directory lists (the fixed-point optimizer batch
    // fires the rule a small constant number of times), never a data
    // read — pinned through the counting filesystem so a future change
    // that accidentally validates per-Filter-node or per-file fails here
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", "graft.CountingFileSystem")
    val backing = java.nio.file.Paths.get(TempDirs.create("glayout_cost"))
    val dir = "cfs:" + backing.toAbsolutePath
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    CountingFileSystem.reset()
    val df = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(df, "gh") > 0, "the registered layout fires")
    val opens = CountingFileSystem.opens.get()
    val lists = CountingFileSystem.lists.get()
    // one GET+LIST per rule invocation; the optimizer batch plus the
    // read-side file index account for a small constant — anything
    // beyond 16 means per-node or per-file validation crept in
    assert(opens <= 16 && lists <= 16,
      s"compile-time validation cost exploded: opens=$opens lists=$lists")
    assert(CountingFileSystem.rangedBytes(_.endsWith(".parquet")) == 0L,
      "plan compilation must not read data bytes")
    GraftLayout.forget(spark, dir)
  }

  test("fuzz: store-mutation lifecycle never changes a result set") {
    // the round-13 guard end to end under a seeded mutation sequence:
    // appends of non-conforming rows (NULL index, and WRONG index — the
    // row a guard failure would silently prune), external part-file
    // deletes, and official rewrites, each followed by a random box
    // query executed FIRST under whatever registration is live (possibly
    // stale) and then against the forgotten-plain truth. Any divergence
    // is a silent-prune (or over-return) bug in the fingerprint guard.
    import spark.implicits._
    val dir = TempDirs.create("glayout_lifecycle")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    val rnd = new scala.util.Random(23)
    def rb(lo: Long, hi: Long): Long = lo + rnd.nextLong(hi - lo + 1)
    for (step <- 1 to 10) {
      rnd.nextInt(4) match {
        case 0 => // append: in-domain keys, NULL index
          Seq((rb(0L, 1000L), rb(0L, 200L), Option.empty[Long]))
            .toDF("gx", "gy", "gh").write.mode("append").parquet(dir)
        case 1 => // append: in-domain keys, WRONG (non-curve) index
          Seq((rb(0L, 1000L), rb(0L, 200L), Option(rb(0L, 3L))))
            .toDF("gx", "gy", "gh").write.mode("append").parquet(dir)
        case 2 => // external delete of one data part file
          val parts = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
            .filter { f =>
              val n = f.getFileName.toString
              !n.startsWith("_") && !n.startsWith(".")
            }.iterator()
          if (parts.hasNext) java.nio.file.Files.delete(parts.next())
        case _ => // official rewrite: fresh store + sidecar, re-registers
          GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
      }
      val box = col("gx").between(rb(-50L, 500L), rb(200L, 1200L)) &&
        col("gy").between(rb(-20L, 100L), rb(50L, 400L))
      val got = spark.read.parquet(dir).filter(box)
        .collect().map(_.toSeq).toSet
      GraftLayout.forget(spark, dir)
      val truth = spark.read.parquet(dir).filter(box)
        .collect().map(_.toSeq).toSet
      assert(got == truth, s"lifecycle step $step changed the result set")
      GraftLayout.read(spark, dir) // re-register when the store conforms
    }
  }

  test("status() reports Registered / Declined(reason) / Unregistered") {
    import GraftLayout.LayoutStatus._
    // plain parquet, no sidecar
    val plain = TempDirs.create("glayout_st_plain")
    src.limit(10).write.mode("overwrite").parquet(plain)
    assert(GraftLayout.status(spark, plain)
      .isInstanceOf[Unregistered], "no sidecar -> Unregistered")
    // healthy registered store
    val dir = TempDirs.create("glayout_st_ok")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    GraftLayout.status(spark, dir) match {
      case Registered(cols) => assert(cols == Seq("gx", "gy", "gh"))
      case other => fail(s"healthy store must report Registered, got $other")
    }
    // valid sidecar on disk but not registered in this JVM
    GraftLayout.forget(spark, dir)
    GraftLayout.status(spark, dir) match {
      case Unregistered(detail) => assert(detail.contains("read"),
        "the detail must name the remedy (read to activate)")
      case other => fail(s"unread valid store must report Unregistered, got $other")
    }
    // appended store: Declined with the append diagnosis + remedy, from
    // BOTH sides — while still registered, and after the eviction
    GraftLayout.read(spark, dir)
    import spark.implicits._
    Seq((150L, 50L, Option.empty[Long])).toDF("gx", "gy", "gh")
      .write.mode("append").parquet(dir)
    GraftLayout.status(spark, dir) match {
      case Declined(reason) => assert(reason.contains("writeHilbert"),
        "the reason must carry the remedy")
      case other => fail(s"appended registered store must Decline, got $other")
    }
    // status() is read-only: the registration must still be live (the
    // NEXT QUERY evicts, not the probe)
    spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
      .count()
    GraftLayout.status(spark, dir) match {
      case Declined(reason) => assert(reason.contains("writeHilbert"))
      case other => fail(s"evicted appended store must Decline, got $other")
    }
    // official rewrite + read: healthy again
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    assert(GraftLayout.status(spark, dir).isInstanceOf[Registered])
    GraftLayout.forget(spark, dir)
  }

  test("pruning decline warns ONCE per store; official rewrite re-arms") {
    val dir = TempDirs.create("glayout_warn")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    val root = "file:" + dir
    assert(GraftLayout.warnCount(root) == 0, "healthy store: no warning")
    import spark.implicits._
    Seq((150L, 50L, Option.empty[Long])).toDF("gx", "gy", "gh")
      .write.mode("append").parquet(dir)
    def boxed = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    // several queries -> several optimizer passes over the declined store
    // (plus a declining re-read): ONE warning total, no log storm
    assert(coverRanges(boxed, "gh") == 0)
    boxed.count(); boxed.count()
    GraftLayout.read(spark, dir)
    assert(GraftLayout.warnCount(root) == 1,
      s"expected exactly one warn emit, got ${GraftLayout.warnCount(root)}")
    // the official rewrite re-arms the warn-once: a LATER external
    // mutation must be reported afresh
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    assert(GraftLayout.warnCount(root) == 0, "rewrite must re-arm")
    Seq((151L, 51L, Option.empty[Long])).toDF("gx", "gy", "gh")
      .write.mode("append").parquet(dir)
    assert(coverRanges(boxed, "gh") == 0)
    assert(GraftLayout.warnCount(root) == 1, "fresh mutation warns afresh")
    GraftLayout.forget(spark, dir)
  }

  test("an oversized sidecar fails closed instead of prefix-hashing") {
    // readSmall used to truncate at ~64 KiB, so the content hash of an
    // oversized sidecar was a PREFIX hash — two differing oversized files
    // could read as equal. Now: over the cap = unparseable at read time
    // and proven-stale at check time
    val dir = TempDirs.create("glayout_big")
    GraftLayout.writeHilbert(src, dir, "gx", "gy", "gh", 4)
    GraftLayout.read(spark, dir)
    def boxed = spark.read.parquet(dir)
      .filter(col("gx").between(100L, 900L) && col("gy").between(20L, 150L))
    assert(coverRanges(boxed, "gh") > 0)
    // an external writer replaces the sidecar with a >64 KiB file whose
    // PREFIX is the legitimate sidecar content
    val p = java.nio.file.Paths.get(dir, GraftLayout.SidecarName)
    val orig = java.nio.file.Files.readAllBytes(p)
    val pad = new Array[Byte](70000)
    java.util.Arrays.fill(pad, ' '.toByte)
    java.nio.file.Files.write(p, orig ++ pad)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "." + GraftLayout.SidecarName + ".crc"))
    assert(coverRanges(boxed, "gh") == 0,
      "an oversized sidecar must read as stale, not prefix-valid")
    // and the read API must not register from it either
    GraftLayout.forget(spark, dir)
    GraftLayout.read(spark, dir)
    assert(coverRanges(boxed, "gh") == 0,
      "an oversized sidecar must not register")
    GraftLayout.forget(spark, dir)
  }

  test("out-of-domain keys fail the write loudly") {
    import spark.implicits._
    val bad = Seq((1L, 2L), (-3L, 5L)).toDF("gx", "gy")
    val dir = TempDirs.create("glayout_dom")
    val e = intercept[Exception] {
      GraftLayout.writeHilbert(bad, dir, "gx", "gy", "gh", 2)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("outside the curve domain")),
      s"expected the domain error, got: ${messages(e).mkString(" | ")}")
  }

  test("conf-declared layout on contract-violating data keeps every row") {
    // the escape disjuncts: a store whose key column holds a value
    // OUTSIDE the curve domain (index computed from masked bits) must
    // not lose that row to the injected cover
    import spark.implicits._
    val dir = TempDirs.create("glayout_escape")
    Seq((5L, 10L), (-3L, 10L), (70000L, 10L))
      .toDF("ex", "ey")
      .withColumn("eh", HilbertIndex.hilbert(col("ex"), col("ey")))
      .write.mode("overwrite").parquet(dir)
    graft.plans.HilbertBoxCover.ensureInstalled(spark)
    val prior = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey, "ex,ey,eh")
    try {
      // below-domain: -3 masks to 65533, whose index is far outside the
      // cover of the clamped [0,100]x[0,20] box — only the escape keeps it
      val lo = spark.read.parquet(dir)
        .filter(col("ex").between(-10L, 100L) && col("ey").between(0L, 20L))
        .select("ex").collect().map(_.getLong(0)).toSet
      assert(lo == Set(5L, -3L),
        "below-domain row must survive the injected cover")
      // above-domain: 70000 masks to 4464, outside the clamped
      // [60000,65535]x[0,20] cover — only the escape keeps it
      val hi = spark.read.parquet(dir)
        .filter(col("ex").between(60000L, 80000L) &&
          col("ey").between(0L, 20L))
        .select("ex").collect().map(_.getLong(0)).toSet
      assert(hi == Set(70000L),
        "above-domain row must survive the injected cover")
    } finally prior match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None => spark.conf.unset(ConfKey)
    }
  }
}
