package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariants of the corpus-selection operators (rel/SelectOps.scala). The
  * hash-vs-DuckDB gate is the driver's; these pin the pipeline semantics.
  */
class SelectOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("tx_boilerplate drops exactly the >=3-doc sentences, everywhere") {
    val df = q("tx_boilerplate").cache()
    try {
      // sentence counts follow from word counts (10-word slices)
      val want = docs.select(col("doc_id"),
        ((size(split(col("text"), " ")) - 1).cast("long") / 10 + 1)
          .cast("long").as("want"))
      assert(df.join(want, "doc_id")
        .filter(col("n_sents") =!= col("want")).count() == 0)
      // removed-occurrence total == total occurrences of boilerplate sentences,
      // recomputed independently
      val sents = docs.withColumn("words", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, (size(words) - 1) div 10),
             s -> concat_ws(' ', slice(words, s * 10 + 1, 10)))""")).as("sent"))
      val bpOcc = sents.join(
        sents.select("sent", "doc_id").distinct()
          .groupBy("sent").agg(count(lit(1)).as("dfreq"))
          .filter(col("dfreq") >= 3).select("sent"), "sent").count()
      val removed = df.agg(sum(col("n_sents") - col("n_kept")))
        .collect()(0).getLong(0)
      assert(removed == bpOcc && removed > 0, s"removed=$removed bp=$bpOcc")
      // untouched docs re-assemble to their original text verbatim
      val untouched = df.filter(col("n_kept") === col("n_sents"))
        .join(docs.select(col("doc_id"), md5(col("text")).as("want_fp")), "doc_id")
      assert(untouched.count() > 0)
      assert(untouched.filter(col("fp") =!= col("want_fp")).count() == 0,
        "kept-everything docs must fingerprint to md5(text)")
    } finally df.unpersist()
  }

  test("tx_quality_clf: structural invariants on the real corpus") {
    val df = q("tx_quality_clf").cache()
    try {
      assert(df.count() == docs.count())
      assert(df.filter((col("score") >= 0) =!= (col("pred") === 1)).count() == 0)
      val nw = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("want_nw"))
      assert(df.join(nw, "doc_id")
        .filter(col("n_words") =!= col("want_nw")).count() == 0)
    } finally df.unpersist()
  }

  test("tx_quality_clf recovers a planted vocabulary split") {
    // the harness corpus draws every lang/length class from ONE shared
    // vocabulary (no token signal by construction), so discrimination is
    // pinned on a planted corpus instead: good docs speak vocab A, bad docs
    // vocab B, with a shared filler token in every doc.
    import spark.implicits._
    val dir = TempDirs.create("clf_plant")
    val rows = (0 until 200).map { i =>
      val good = i % 2 == 0
      val voc = if (good) Seq("alpha", "beta", "gamma") else Seq("zeta", "eta", "theta")
      val text = (0 until 20).map(j => voc(j % 3)).mkString(" ") + " filler"
      (i.toLong, text, "en", "src0", if (good) 400L else 100L)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("tx_quality_clf")(spark, dir)
    val lab = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .select(col("doc_id"), when(col("n_chars") >= 300, 1).otherwise(0).as("y"))
    val acc = out.join(lab, "doc_id")
      .agg(avg(when(col("pred") === col("y"), 1.0).otherwise(0.0)))
      .collect()(0).getDouble(0)
    assert(acc > 0.95, s"planted-signal accuracy $acc")
  }

  test("tx_weighted_sample: dense per-source ranks, priority-ordered") {
    val df = q("tx_weighted_sample").cache()
    try {
      // exactly min(10, docs-per-source) winners, ranks dense from 1
      val perSrc = df.groupBy("source")
        .agg(count(lit(1)).as("n"), min("rk").as("lo"), max("rk").as("hi"))
      assert(perSrc.filter(col("lo") =!= 1 || col("hi") =!= col("n") ||
        col("n") > 10).count() == 0)
      val srcSizes = docs.groupBy("source").agg(count(lit(1)).as("total"))
      assert(perSrc.join(srcSizes, "source")
        .filter(col("n") =!= least(lit(10L), col("total"))).count() == 0)
      // rank order agrees with (priority, doc_id) order within each source
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy(col("priority"), col("doc_id"))
      assert(df.withColumn("rk2", row_number().over(w))
        .filter(col("rk") =!= col("rk2")).count() == 0)
      // every winner beats every non-winner of its source on priority
      val winnersMax = df.groupBy("source").agg(max("priority").as("pmax"),
        collect_list("doc_id").as("won"))
      val all = docs.select(col("source"), col("doc_id"),
        col("n_chars")).join(winnersMax, "source")
        .filter(!array_contains(col("won"), col("doc_id")))
      val losers = all.join(df.select(col("doc_id"), col("priority")
        .as("lost_p")), "doc_id")
      assert(losers.count() == 0, "non-winners must not appear in the output")
    } finally df.unpersist()
  }
}
