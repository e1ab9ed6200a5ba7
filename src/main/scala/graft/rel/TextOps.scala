package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q.tbl
import graft.Caching

/** Training-data text operators over `documents`: exact dedup, MinHash+LSH
  * near-dup, n-gram Jaccard verification, SimHash, language-ID heuristics,
  * quality scoring, token statistics, fingerprinting.
  *
  * Oracle-parity techniques:
  *  - near-duplicate corpus is synthesized in-query (documents UNION a
  *    deterministically mutated copy) so the operators have real work to do;
  *  - MinHash uses the lexicographic MIN of md5 hex strings (identical in
  *    both engines) instead of engine-specific integer hashes;
  *  - SimHash derives bit values from md5 nibbles via pure integer
  *    arithmetic (no hex casts, which DuckDB lacks).
  *
  * At scale: every operator is a scan + hash-aggregate + equi-join on
  * bounded-width keys. The LSH band join is the classic shuffle-bounded
  * near-dup path (shingle explode is O(tokens), bands are fixed-width);
  * nothing here collects to the driver.
  */
object TextOps {

  /** Corpus with exact duplicates injected (every 7th doc repeated). */
  private val CORPUS_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0)"""

  /** Near-dup corpus: every 5th doc mutated (word swap + suffix). */
  private[rel] val NEAR_SQL = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             replace(text, 'data', 'info') || ' xtra' AS text
      FROM documents WHERE doc_id % 5 = 0)"""

  private def corpusDf(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(s, d, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  private[rel] def nearCorpusDf(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(s, d, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(regexp_replace(col("text"), "data", "info"), lit(" xtra"))
            .as("text")))
  }

  /** Word 3-gram shingles, 1-based positions (parity with DuckDB lists). */
  private def shinglesDf(corpus: DataFrame): DataFrame =
    Q.spreadSmallScan(corpus)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(
          """transform(sequence(1, size(words) - 2),
             i -> concat_ws(' ', element_at(words, i),
                            element_at(words, i + 1), element_at(words, i + 2)))"""))
          .as("shingle"))

  private val SHINGLES_SQL = """
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM corpus))"""

  /** 8 MinHashes -> 4 bands of 2 -> candidate pairs.
    *
    * One md5 per shingle; the 8 minhashes are the per-document minima of 8
    * disjoint 4-hex-char slices of that digest (independent-enough 16-bit
    * hash functions), computed in a single hash-aggregate pass — no
    * hash-function explosion. Bands pair adjacent slices (32-bit band
    * values) and candidates come from a band equi-join.
    */
  /** Candidate pairs over the near-dup corpus. The signature pass uses the
    * fused [[graft.functions.MinHashSlices]] expression — one narrow map in
    * the scan stage instead of a shingle explode + corpus-wide 8-min
    * aggregate, so the only exchange left before the band join is none at
    * all (the signature relation is born document-sized). Parity with the
    * relational form is pinned by `MinHashSlicesSpec`.
    */
  private[graft] def minhashCand(s: SparkSession, d: String): DataFrame = {
    import graft.functions.MinHashSlices.minhash_slices
    val mins = Q.spreadSmallScan(nearCorpusDf(s, d))
      .select(col("doc_id"), minhash_slices(col("text")).as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id") +:
        (0 until 8).map(j => col("mh").getItem(j).as(s"mh$j")): _*)
    candFromMins(mins)
  }

  /** Band values from an 8-slice minima relation (doc_id, mh0..mh7). */
  private[rel] def sigOf(mins: DataFrame): DataFrame =
    mins.select(col("doc_id"),
      explode(expr(
        """array(struct(0 AS band, concat(mh0, mh1) AS bandval),
                 struct(1 AS band, concat(mh2, mh3) AS bandval),
                 struct(2 AS band, concat(mh4, mh5) AS bandval),
                 struct(3 AS band, concat(mh6, mh7) AS bandval))""")).as("bv"))
      .select(col("doc_id"), col("bv.band").as("band"),
        col("bv.bandval").as("bandval"))

  /** (band signature, cached mins relation) from a (doc_id, shingle)
    * relation — the 8-slice minima in one hash-aggregate pass, exploded to
    * 4 two-slice band values. Callers that already hold (and verify
    * against) the shingle relation use this path; signature-only callers
    * go through [[minhashCand]]'s fused expression instead.
    */
  private def bandSig(shingles: DataFrame): (DataFrame, DataFrame) = {
    // 32-bit slice minima from two digests per shingle (see the slice-width
    // scale note on graft.functions.MinHashSlices: 16-bit minima saturate
    // and go quadratic in spurious band collisions at ~1 M documents)
    val sh = shingles
      .withColumn("h", md5(col("shingle")))
      .withColumn("h2", md5(concat(col("shingle"), lit("#2"))))
    val aggs = (0 until 8).map(j =>
      min(expr(s"substr(${if (j < 4) "h" else "h2"}, ${8 * (j % 4) + 1}, 8)"))
        .as(s"mh$j"))
    // the band join reads this more than once; materialize once (no
    // DataFrame CSE). Tiny: one 8-slot row per document. Callers release
    // it via Caching once their action completes.
    val mins = sh.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
    (sigOf(mins), mins)
  }

  /** The band self-join over a minima relation; caches `mins` (read by all
    * four band values on both join sides) for the action's lifetime.
    * `private[graft]`: graft.tools.ShuffleScale drives THIS code path (not
    * a replica) at synthetic 1x/4x/16x corpus sizes, so the measured scaling
    * exponent and plan shape are the production gate's own.
    */
  private[graft] def candFromMins(mins: DataFrame): DataFrame = {
    val sig = sigOf(mins)
    val a = sig.as("a"); val b = sig.as("b")
    Caching.releaseAfterAction(
      a.join(b, expr("a.band = b.band AND a.bandval = b.bandval AND a.doc_id < b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct(),
      mins)
  }

  private def minhashCandFrom(shingles: DataFrame): DataFrame =
    candFromMins(bandSig(shingles)._2)

  /** `dd_lsh_recall`'s exact ground truth: every pair with shingle-set
    * Jaccard >= 0.5 over the near-dup corpus, found via the co-shingle
    * equi-join (any pair with J > 0 shares a shingle — never an
    * all-pairs product). Returns (truth, shd): callers must hand `shd`
    * to `Caching.releaseAfterAction` with their terminal frame (the
    * distinct shingle relation feeds the pair join AND both size
    * lookups). Its share of the gate's time is in SCALE.md,
    * "dd_lsh_recall — slowest-batch-gate cost attribution".
    */
  private def lshTruthPairs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val shd = shinglesDf(nearCorpusDf(s, d)).distinct()
    val dsh = shd.select(col("doc_id"), xxhash64(col("shingle")).as("hs"))
    val sizes = shd.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = dsh.as("x").join(dsh.as("y"),
        expr("x.hs = y.hs AND x.doc_id < y.doc_id"))
      .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
      .select("id_a", "id_b")
    (truth, shd)
  }

  /** Nibble value expression shared by both engines' simhash: position k
    * (1-based) of the md5 hex digest as 0..15.
    */
  private def nib(h: String, k: Int) =
    s"(instr('0123456789abcdef', substr($h, $k, 1)) - 1)"

  /** 32-bit term-frequency-weighted SimHash (the Charikar construction):
    * every word OCCURRENCE votes +1/-1 per bit position from the word's
    * first 8 md5 nibbles; the hash is the positive-vote mask. Occurrence
    * voting matters on this corpus: the synthetic docs draw from a ~35-word
    * vocabulary, so distinct-word sets (and a set-based simhash) collide
    * corpus-wide, while the frequency profile separates everything but true
    * near-duplicates. Computed by the fused
    * [[graft.functions.SimHash32]] expression — one narrow map in the scan
    * stage instead of an O(word occurrences) explode into a corpus-wide
    * 32-vote aggregate (that relational form survives as the parity
    * reference in `MinHashSlicesSpec` and as the DuckDB CTEs below).
    */
  private def simhashDf(s: SparkSession, corpus: DataFrame): DataFrame =
    // no text -> no signature: the oracle's words CTE unnests NULL to zero
    // rows, so a NULL-text doc never reaches `sh` — mirror that here
    corpus.filter(col("text").isNotNull).select(col("doc_id"),
      graft.functions.SimHash32.simhash32(col("text")).as("simhash"))

  /** CTEs yielding `sh(doc_id, simhash)` over relation `src(doc_id, text)`;
    * must mirror [[simhashDf]].
    */
  private def simhashCtes(src: String): String = s"""
    words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM $src),
    wv AS (
      SELECT doc_id,
             ${(1 to 8).map(k => s"${nib("md5(word)", k)} * ${1L << (4 * (8 - k))}")
               .mkString(" +\n             ")} AS v
      FROM words),
    bs AS (
      SELECT doc_id,
             ${(0 until 32).map(j =>
               s"sum(CASE WHEN (v // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
               .mkString(",\n             ")}
      FROM wv GROUP BY doc_id),
    sh AS (
      SELECT doc_id,
             CAST(${(0 until 32).map(j =>
               s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
               .mkString(" + ")} AS BIGINT) AS simhash
      FROM bs)"""

  /** The 8 minhash slice-minimum aggregate expressions — 32-bit slices
    * from two digests per shingle (see the slice-width scale note on
    * [[graft.functions.MinHashSlices]]). ONE definition spliced into every
    * oracle `mins` CTE (here, dd_lsh_recall's, dd_lsh_tuning's,
    * CurationOps' fuzzy decontam, StreamingOps' st_dd_minhash) so the
    * fused engine expression and its five SQL mirrors cannot drift.
    */
  private[graft] val MINHASH_MINS_SQL: String = (0 until 8).map { j =>
    val src = if (j < 4) "md5(shingle)" else "md5(shingle || '#2')"
    s"min(substr($src, ${8 * (j % 4) + 1}, 8)) AS mh$j"
  }.grouped(2).map(_.mkString(", ")).mkString(",\n             ")

  private[rel] val MINHASH_CAND_SQL = s"""
    WITH $NEAR_SQL, $SHINGLES_SQL,
    mins AS (
      SELECT doc_id,
             $MINHASH_MINS_SQL
      FROM sh GROUP BY doc_id),
    sig AS (
      SELECT doc_id, 0 AS band, mh0 || mh1 AS bandval FROM mins
      UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM mins
      UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM mins
      UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM mins),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.bandval = b.bandval AND a.doc_id < b.doc_id)"""

  def all: Seq[Q] = Seq(

    // Blocked fuzzy matching (entity resolution): distinct part names
    // within Levenshtein distance 3, candidates generated by the classic
    // blocking discipline — same first token, length within +-2 — so the
    // edit-distance kernel only ever runs inside small blocks (the trade
    // every record-linkage system makes; an unblocked fuzzy join is
    // quadratic at any scale). Both engines ship the SAME standard
    // Levenshtein, so the distances hash-match; counts carry how many
    // rows each matched name represents.
    Q("dd_fuzzy_names", (s, d) => {
      val names = tbl(s, d, "part")
        .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
        .select(col("p_name"), col("n"),
          expr("element_at(split(p_name, ' '), 1)").as("blk"),
          length(col("p_name")).as("len"))
      val a = names.select(col("p_name").as("name_a"), col("n").as("n_a"),
        col("blk"), col("len").as("len_a"))
      val b = names.select(col("p_name").as("name_b"), col("n").as("n_b"),
        col("blk"), col("len").as("len_b"))
      a.join(b, "blk")
        .filter(col("name_a") < col("name_b") &&
          abs(col("len_a") - col("len_b")) <= 2)
        .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"),
          levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
        .filter(col("dist") <= 3)
    }, Some("""
      WITH names AS (
        SELECT p_name, count(*) AS n,
               string_split(p_name, ' ')[1] AS blk,
               length(p_name) AS len
        FROM part GROUP BY 1)
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             a.n AS n_a, b.n AS n_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM names a JOIN names b
        ON a.blk = b.blk AND a.p_name < b.p_name
        AND abs(a.len - b.len) <= 2
      WHERE levenshtein(a.p_name, b.p_name) <= 3""")),

    // -- exact dedup: content-hash groups, keep the smallest id --------------
    Q("dd_exact", (s, d) => {
      val h = corpusDf(s, d).select(col("doc_id"), md5(col("text")).as("hash"))
      val keep = h.groupBy("hash").agg(min("doc_id").as("keep_id"))
      h.join(keep, "hash")
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id").as("dup_id"), col("keep_id"))
    }, Some(s"""
      WITH $CORPUS_SQL,
      h AS (SELECT doc_id, md5(text) AS hash FROM corpus),
      keep AS (SELECT hash, min(doc_id) AS keep_id FROM h GROUP BY hash)
      SELECT h.doc_id AS dup_id, keep.keep_id
      FROM h JOIN keep ON h.hash = keep.hash WHERE h.doc_id != keep.keep_id""")),

    // -- the deduplicated corpus itself (anti-join of the dup set) -----------
    Q("dd_dedup_corpus", (s, d) => {
      val h = corpusDf(s, d).select(col("doc_id"), md5(col("text")).as("hash"))
      val keep = h.groupBy("hash").agg(min("doc_id").as("keep_id"))
      val dups = h.join(keep, "hash").filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id"))
      corpusDf(s, d)
        .join(dups, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), length(col("text")).as("text_len"))
    }, Some(s"""
      WITH $CORPUS_SQL,
      h AS (SELECT doc_id, md5(text) AS hash FROM corpus),
      keep AS (SELECT hash, min(doc_id) AS keep_id FROM h GROUP BY hash),
      dups AS (SELECT h.doc_id FROM h JOIN keep ON h.hash = keep.hash
               WHERE h.doc_id != keep.keep_id)
      SELECT c.doc_id, length(c.text) AS text_len FROM corpus c
      WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.doc_id = c.doc_id)""")),

    // -- MinHash + LSH candidate pairs ---------------------------------------
    Q("dd_minhash_lsh", minhashCand,
      Some(MINHASH_CAND_SQL + " SELECT id_a, id_b FROM cand")),

    // -- LSH banding tuning table --------------------------------------------
    // The (bands × rows) S-curve trade MEASURED, which is how a dedup run
    // is actually tuned: the same 8-slice minima banded three ways —
    // 8×1 (aggressive recall), the production 4×2, and 2×4 (aggressive
    // precision) — through ONE tagged band self-join; each config reports
    // its candidate volume plus precision/recall proxies against the
    // corpus's PLANTED twin pairs (doc_id +1000000 jittered copies). One
    // signature pass feeds all configs; the join key is (cfg, band,
    // bandval), so configs never cross-join.
    Q("dd_lsh_tuning", (s, d) => {
      import graft.functions.MinHashSlices.minhash_slices
      val corpus = nearCorpusDf(s, d)
      val mins = corpus
        .select(col("doc_id"), minhash_slices(col("text")).as("mh"))
        .filter(col("mh").isNotNull)
        .select(col("doc_id") +:
          (0 until 8).map(j => col("mh").getItem(j).as(s"mh$j")): _*)
      val bands8 = (0 until 8).map(j =>
        s"struct('b8r1' AS cfg, $j AS band, mh$j AS bandval)")
      val bands4 = (0 until 4).map(j =>
        s"struct('b4r2' AS cfg, $j AS band, concat(mh${2 * j}, mh${2 * j + 1}) AS bandval)")
      val bands2 = (0 until 2).map(j =>
        s"struct('b2r4' AS cfg, $j AS band, concat(mh${4 * j}, mh${4 * j + 1}, mh${4 * j + 2}, mh${4 * j + 3}) AS bandval)")
      val sig = mins.select(col("doc_id"), explode(expr(
        (bands8 ++ bands4 ++ bands2).mkString("array(", ", ", ")"))).as("x"))
        .select(col("doc_id"), col("x.cfg").as("cfg"),
          col("x.band").as("band"), col("x.bandval").as("bandval"))
      val cand = sig.as("a").join(sig.as("b"), expr(
          "a.cfg = b.cfg AND a.band = b.band AND a.bandval = b.bandval AND a.doc_id < b.doc_id"))
        .select(col("a.cfg").as("cfg"), col("a.doc_id").as("id_a"),
          col("b.doc_id").as("id_b"))
        .distinct()
      val planted = corpus.filter(col("doc_id") >= 1000000)
        .groupBy().agg(count(lit(1)).as("n_planted"))
      Caching.releaseAfterAction(
        cand.groupBy("cfg")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("id_b") - col("id_a") === 1000000L &&
              col("id_a") % 5 === 0, 1L).otherwise(0L)).as("n_twin"))
          .crossJoin(broadcast(planted))
          .withColumn("precision_proxy", expr("n_twin / n_pairs"))
          .withColumn("recall_proxy", expr("n_twin / n_planted")),
        mins)
    }, Some(MINHASH_CAND_SQL + s""",
      sig3 AS (
        ${(0 until 8).map(j =>
          s"SELECT doc_id, 'b8r1' AS cfg, $j AS band, mh$j AS bandval FROM mins")
          .mkString("\n        UNION ALL ")}
        UNION ALL ${(0 until 4).map(j =>
          s"SELECT doc_id, 'b4r2', $j, mh${2 * j} || mh${2 * j + 1} FROM mins")
          .mkString("\n        UNION ALL ")}
        UNION ALL ${(0 until 2).map(j =>
          s"SELECT doc_id, 'b2r4', $j, mh${4 * j} || mh${4 * j + 1} || mh${4 * j + 2} || mh${4 * j + 3} FROM mins")
          .mkString("\n        UNION ALL ")}),
      cand3 AS (
        SELECT DISTINCT a.cfg, a.doc_id AS id_a, b.doc_id AS id_b
        FROM sig3 a JOIN sig3 b
          ON a.cfg = b.cfg AND a.band = b.band AND a.bandval = b.bandval
         AND a.doc_id < b.doc_id),
      pl AS (SELECT count(*) AS n_planted FROM corpus WHERE doc_id >= 1000000),
      g AS (
        SELECT cfg, count(*) AS n_pairs,
               CAST(sum(CASE WHEN id_b - id_a = 1000000 AND id_a % 5 = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_twin,
               max(n_planted) AS n_planted
        FROM cand3 CROSS JOIN pl GROUP BY cfg)
      SELECT cfg, n_pairs, n_twin, n_planted,
             n_twin / n_pairs AS precision_proxy,
             n_twin / n_planted AS recall_proxy
      FROM g""")),

    // -- n-gram Jaccard verification of LSH candidates -----------------------
    Q("dd_jaccard", (s, d) => {
      // shingle sets feed minhash candidate generation, the intersection
      // join twice, and the size join twice — one shared explode+distinct.
      // (At corpus >> candidates scale, semi-join pruning ds to the
      // candidate ids first is the winning shape; at this corpus size the
      // broadcast barrier it introduces costs more than the pruning saves —
      // measured both ways.)
      val ds = shinglesDf(nearCorpusDf(s, d)).distinct()
      val cand = minhashCandFrom(ds)
      val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // the intersection joins only test shingle EQUALITY, so the exchanges
      // ship the 8-byte xxhash64 identity instead of the shingle text (cf.
      // dd_substring) — counts are unchanged short of a 64-bit collision
      // between two distinct shingles of a candidate pair
      val dsh = ds.select(col("doc_id"), xxhash64(col("shingle")).as("hs"))
      val inter = cand
        .join(dsh.as("x"), col("id_a") === col("x.doc_id"))
        .join(dsh.as("y"),
          col("id_b") === col("y.doc_id") && col("x.hs") === col("y.hs"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      Caching.releaseAfterAction(
        inter
          .join(sizes.as("na"), col("id_a") === col("na.doc_id"))
          .join(sizes.as("nb"), col("id_b") === col("nb.doc_id"))
          .select(col("id_a"), col("id_b"), col("inter"),
            (col("na.n") + col("nb.n") - col("inter")).as("uni"))
          .filter(col("inter") * 2 >= col("uni")),
        ds, cand)
    }, Some(MINHASH_CAND_SQL + """,
      ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
      sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
      inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN ds x ON x.doc_id = c.id_a
        JOIN ds y ON y.doc_id = c.id_b AND y.shingle = x.shingle
        GROUP BY c.id_a, c.id_b)
      SELECT i.id_a, i.id_b, i.inter, na.n + nb.n - i.inter AS uni
      FROM inter i JOIN sizes na ON i.id_a = na.doc_id
                   JOIN sizes nb ON i.id_b = nb.doc_id
      WHERE i.inter * 2 >= na.n + nb.n - i.inter""")),

    // -- containment near-dup (asymmetric overlap) ---------------------------
    // Jaccard misses SUBSET copies: a paragraph lifted whole into a much
    // larger document has tiny symmetric overlap but ~1.0 containment
    // |A∩B| / min(|A|,|B|). Same LSH candidates, same hashed intersection
    // join as dd_jaccard — only the statistic and the cut change
    // (containment >= 0.8 on the smaller side), which is the point:
    // the candidate/intersection machinery is one shared scale shape,
    // the dedup SEMANTIC is a pluggable final predicate.
    Q("dd_containment", (s, d) => {
      val ds = shinglesDf(nearCorpusDf(s, d)).distinct()
      val cand = minhashCandFrom(ds)
      val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val dsh = ds.select(col("doc_id"), xxhash64(col("shingle")).as("hs"))
      val inter = cand
        .join(dsh.as("x"), col("id_a") === col("x.doc_id"))
        .join(dsh.as("y"),
          col("id_b") === col("y.doc_id") && col("x.hs") === col("y.hs"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      Caching.releaseAfterAction(
        inter
          .join(sizes.as("na"), col("id_a") === col("na.doc_id"))
          .join(sizes.as("nb"), col("id_b") === col("nb.doc_id"))
          .select(col("id_a"), col("id_b"), col("inter"),
            col("na.n").as("n_a"), col("nb.n").as("n_b"))
          .filter(col("inter") * 10 >= least(col("n_a"), col("n_b")) * 8),
        ds, cand)
    }, Some(MINHASH_CAND_SQL + """,
      ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
      sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
      inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN ds x ON x.doc_id = c.id_a
        JOIN ds y ON y.doc_id = c.id_b AND y.shingle = x.shingle
        GROUP BY c.id_a, c.id_b)
      SELECT i.id_a, i.id_b, i.inter, na.n AS n_a, nb.n AS n_b
      FROM inter i JOIN sizes na ON i.id_a = na.doc_id
                   JOIN sizes nb ON i.id_b = nb.doc_id
      WHERE i.inter * 10 >= least(na.n, nb.n) * 8""")),

    // -- transitive near-dup clustering (connected components) ---------------
    // The final step of corpus dedup: group everything transitively linked
    // through the LSH candidate graph and elect min-id canonicals. Spark
    // side is Pregel-style min-label propagation — O(component diameter)
    // rounds of equi-join + aggregate, each a bounded shuffle (the shape
    // that scales; diameters of near-dup clusters are tiny in practice).
    // The oracle closes the graph with a recursive CTE.
    Q("dd_components", (s, d) => {
      // persist the directed candidate list BEFORE mirroring it: the union
      // inside connectedComponents would otherwise materialize the whole
      // minhash pipeline twice. The fixpoint loop itself (pointer doubling,
      // per-round lineage truncation) lives in GraphOps.
      val edges = minhashCand(s, d).persist()
      try
        Caching.releaseAfterAction(
          GraphOps.connectedComponents(
            nearCorpusDf(s, d).select(col("doc_id")), edges),
          edges)
      catch {
        case e: Throwable =>
          edges.unpersist(blocking = false)
          throw e
      }
    }, Some(MINHASH_CAND_SQL.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM cand
        UNION ALL SELECT id_b, id_a FROM cand),
      reach(a, b) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.a, e.dst FROM reach r JOIN sym e ON r.b = e.src),
      docs AS (SELECT doc_id FROM corpus)
      SELECT d.doc_id,
             CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS BIGINT) AS comp
      FROM docs d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id""")),

    // -- 16-bit SimHash from md5 nibbles -------------------------------------
    Q("dd_simhash", (s, d) => simhashDf(s, tbl(s, d, "documents")),
      Some(s"WITH ${simhashCtes("documents")} SELECT doc_id, simhash FROM sh")),

    // -- SimHash near-dup pairs: hamming<=3 via byte-band blocking -----------
    // Pigeonhole over 4 byte bands: any pair within hamming distance 3 of a
    // 32-bit hash agrees on at least one whole byte, so candidates come
    // from a (band, byte) equi-join — O(n) like the minhash/hyperplane
    // chains, never all-pairs — and the exact popcount verifies.
    Q("dd_simhash_pairs", (s, d) => {
      val sh = simhashDf(s, nearCorpusDf(s, d))
      val bands = s.range(4).select(col("id").cast("int").as("band"))
      val banded = sh.crossJoin(broadcast(bands))
        .select(col("doc_id"), col("simhash"), col("band"),
          expr("shiftright(simhash, band * 8) & 255").as("nib"))
      val a = banded.as("a"); val b = banded.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.nib") === col("b.nib") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
        .filter(col("hamming") <= 3) // before the dedup exchange: shrink it
        .distinct() // a pair may share several bands
    }, Some(s"""
      WITH $NEAR_SQL, ${simhashCtes("corpus")},
      banded AS (
        SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS nib
        FROM sh, (VALUES (0),(1),(2),(3)) bd(band)),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3""")),

    // -- language-ID heuristic (stopword hit counting) -----------------------
    Q("tx_langid", (s, d) => {
      tbl(s, d, "documents")
        .withColumn("padded", concat(lit(" "), col("text"), lit(" ")))
        .select(col("doc_id"), col("lang"),
          expr("CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS BIGINT)").as("en_hits"),
          expr("CAST((length(padded) - length(replace(padded, ' data ', ''))) / 6 AS BIGINT)").as("data_hits"),
          expr("CAST((length(padded) - length(replace(padded, ' query ', ''))) / 7 AS BIGINT)").as("query_hits"))
        .withColumn("guess",
          expr("""CASE WHEN en_hits >= data_hits AND en_hits >= query_hits THEN 'en'
                       WHEN data_hits >= query_hits THEN 'data' ELSE 'query' END"""))
    }, Some("""
      SELECT doc_id, lang,
             CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS BIGINT) AS en_hits,
             CAST((length(padded) - length(replace(padded, ' data ', ''))) / 6 AS BIGINT) AS data_hits,
             CAST((length(padded) - length(replace(padded, ' query ', ''))) / 7 AS BIGINT) AS query_hits,
             CASE WHEN (length(padded) - length(replace(padded, ' the ', ''))) / 5
                       >= (length(padded) - length(replace(padded, ' data ', ''))) / 6
                   AND (length(padded) - length(replace(padded, ' the ', ''))) / 5
                       >= (length(padded) - length(replace(padded, ' query ', ''))) / 7
                  THEN 'en'
                  WHEN (length(padded) - length(replace(padded, ' data ', ''))) / 6
                       >= (length(padded) - length(replace(padded, ' query ', ''))) / 7
                  THEN 'data' ELSE 'query' END AS guess
      FROM (SELECT doc_id, lang, ' ' || text || ' ' AS padded FROM documents)""")),

    // -- quality scoring ------------------------------------------------------
    Q("tx_quality", (s, d) => {
      val words = tbl(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val distinctWords = words.distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_distinct"))
      tbl(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          length(col("text")).as("len"),
          expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)")
            .as("n_tokens"))
        .join(distinctWords, "doc_id")
        .withColumn("dup_ratio_pct",
          expr("CAST((n_tokens - n_distinct) * 100 div n_tokens AS BIGINT)"))
    }, Some("""
      WITH dw AS (
        SELECT doc_id, count(DISTINCT word) AS n_distinct
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY doc_id)
      SELECT d.doc_id, d.n_chars, length(d.text) AS len,
             CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
             dw.n_distinct,
             CAST((length(d.text) - length(replace(d.text, ' ', '')) + 1 - dw.n_distinct)
                  * 100 // (length(d.text) - length(replace(d.text, ' ', '')) + 1) AS BIGINT) AS dup_ratio_pct
      FROM documents d JOIN dw ON d.doc_id = dw.doc_id""")),

    // -- token statistics: global top-20 --------------------------------------
    Q("tx_tokens", (s, d) => {
      tbl(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(20)
    }, Some("""
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20""")),

    // -- native single-pass token counting ------------------------------------
    // the same statistic through the codegen'd WsTokenCount expression:
    // one fused pass over the UTF-8 bytes, NO token-array materialization
    // (the split/filter form allocates every token slice just to count
    // them — the dominant cost of a token-budget scan at corpus scale;
    // COVERAGE.md, "Round-8 wave 5", has the A/B). Non-empty-token
    // semantics, so runs of spaces count nothing.
    Q("tx_tokens_native", (s, d) => {
      tbl(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.WsTokenCount(col("text")).as("n_tok"))
    }, Some("""
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> len(x) > 0)) AS BIGINT) AS n_tok
      FROM documents""")),

    // -- BPE-style pre-tokenization count -------------------------------------
    // the GPT-2 pre-tokenizer shape (contraction suffixes, space-prefixed
    // letter/digit/punct runs, whitespace runs) restricted to ASCII classes
    // so both regex engines (Java / RE2) agree; counted per document
    // alongside the whitespace count — the two token-budget estimators a
    // packing pipeline actually uses
    Q("tx_tokens_bpe", (s, d) => {
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| +"
      tbl(s, d, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .cast("bigint").as("n_bpe"),
          size(split(col("text"), " ")).cast("bigint").as("n_ws"))
    }, Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| +'))
               AS BIGINT) AS n_bpe,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
      FROM documents""")),

    // -- winnowing fingerprint (rolling-hash sketch) --------------------------
    // per-position shingle hashes, min over a 4-window (winnowing), distinct
    // mins summarized per doc — the classic local fingerprint for plagiarism/
    // near-dup detection, fully window-SQL-expressible
    Q("tx_winnow", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sh = tbl(s, d, "documents")
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          posexplode(expr(
            """transform(sequence(1, size(words) - 2),
               i -> concat_ws(' ', element_at(words, i),
                              element_at(words, i + 1), element_at(words, i + 2)))""")))
        .withColumnRenamed("pos", "i")
        .withColumn("h", substring(md5(col("col")), 1, 8))
      val w = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
      sh.withColumn("wmin", min(col("h")).over(w))
        .groupBy("doc_id")
        .agg(countDistinct("wmin").as("n_fp"),
          min("wmin").as("fp_min"), max("wmin").as("fp_max"))
    }, Some("""
      WITH sh AS (
        SELECT doc_id,
               generate_subscripts(list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]), 1) - 1 AS i,
               unnest(list_transform(range(1, len(words) - 1),
                 i -> substr(md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]), 1, 8))) AS h
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
      wm AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM sh)
      SELECT doc_id, count(DISTINCT wmin) AS n_fp,
             min(wmin) AS fp_min, max(wmin) AS fp_max
      FROM wm GROUP BY doc_id""")),

    // -- training-shard packing -----------------------------------------------
    // greedy sequence packing: per source stream (ordered by doc_id),
    // cumulative token counts cut into fixed-budget shards — the classic
    // pre-tokenization packing step of an LLM data pipeline, as one window
    // cumulative sum per source partition
    Q("tx_pack_shards", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, d, "documents")
        .select(col("doc_id"), col("source"),
          expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)")
            .as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .withColumn("shard_id", expr("(cum - 1) div 2000"))
        .select("source", "shard_id", "doc_id", "n_tokens")
    }, Some("""
      SELECT source, CAST((cum - 1) // 2000 AS BIGINT) AS shard_id, doc_id, n_tokens
      FROM (
        SELECT doc_id, source,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
               sum(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT))
                 OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents)""")),

    // -- correlated-subquery shape: items above their group average ----------
    // exact arithmetic: price > avg(group) written as price*cnt > sum
    Q("q16_above_avg", (s, d) => {
      val p = tbl(s, d, "part")
      val stats = p.groupBy("p_brand")
        .agg(sum(col("p_retailprice").cast("decimal(18,2)")).as("brand_sum"),
          count(lit(1)).as("brand_cnt"))
      p.join(stats, "p_brand")
        .filter(expr("CAST(p_retailprice AS DECIMAL(18,2)) * brand_cnt > brand_sum"))
        .select(col("p_partkey"), col("p_brand"))
    }, Some("""
      SELECT p_partkey, p_brand FROM part p
      WHERE CAST(p_retailprice AS DECIMAL(18,2)) *
            (SELECT count(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
            > (SELECT sum(CAST(p_retailprice AS DECIMAL(18,2))) FROM part p3
               WHERE p3.p_brand = p.p_brand)""")),

    // -- document fingerprint -------------------------------------------------
    Q("tx_fingerprint", (s, d) => {
      tbl(s, d, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(lower(col("text")), " ", "")).as("fp"))
    }, Some("""
      SELECT doc_id, md5(replace(lower(text), ' ', '')) AS fp
      FROM documents""")),

    // -- LSH index evaluation: candidate recall vs exact ground truth --------
    // The band-tuning loop of a dedup deployment: ground truth is every
    // true near-dup pair (Jaccard >= 0.5 over 3-gram shingle sets — found
    // exactly via the co-shingle equi-join, since any pair with J > 0
    // shares a shingle; no all-pairs product), candidates are what the
    // 4x2 MinHash bands surface. One row: truth size, caught count, and
    // the candidate volume paid. At 100 TB this runs on a sampled slice —
    // the query shape (hash equi-joins + aggregates) is already the
    // sample-sized one.
    Q("dd_lsh_recall", (s, d) => {
      // truth feeds two consumers (its own count + the semi-join) and cand
      // feeds two more — cache BOTH for the action's lifetime (they were
      // unpersisted through r17, so the expensive intersection pipeline ran
      // twice per action). Lazy persist only: the eager-materialization
      // variant (persist + count before building the consumers) was A/B'd
      // this round and LOST — the extra job barriers serialize work that
      // idle cores absorb at this scale (see OPTIMIZATION_r18.md §5).
      val (truth, shd) = lshTruthPairs(s, d)
      val cand = minhashCand(s, d)
      val caught = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      Caching.releaseAfterAction(
        truth.agg(count(lit(1)).as("n_truth"))
          .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
          .crossJoin(cand.agg(count(lit(1)).as("n_cand"))),
        shd, truth, cand)
    }, Some(s"""
      WITH $NEAR_SQL, $SHINGLES_SQL,
      shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                FROM shd GROUP BY doc_id),
      tr AS (
        SELECT id_a, id_b FROM (
          SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS inter
          FROM shd x JOIN shd y ON x.shingle = y.shingle
                               AND x.doc_id < y.doc_id
          GROUP BY 1, 2) i
        JOIN sizes na ON na.doc_id = i.id_a
        JOIN sizes nb ON nb.doc_id = i.id_b
        WHERE i.inter * 2 >= na.n + nb.n - i.inter),
      mins AS (
        SELECT doc_id,
               $MINHASH_MINS_SQL
        FROM shd GROUP BY doc_id),
      sig AS (
        SELECT doc_id, 0 AS band, mh0 || mh1 AS bandval FROM mins
        UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM mins
        UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM mins
        UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM mins),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sig a JOIN sig b ON a.band = b.band AND a.bandval = b.bandval
                             AND a.doc_id < b.doc_id)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT)
              FROM tr WHERE EXISTS (SELECT 1 FROM cand c
                                    WHERE c.id_a = tr.id_a
                                      AND c.id_b = tr.id_b)) AS n_caught,
             (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand""")),

    // -- fuzzy benchmark decontamination (MinHash-LSH across strata) ----------
    // The NEAR-duplicate complement to tx_decontam's exact n-gram pass: a
    // train document is contaminated when its 3-gram shingle SET has
    // Jaccard >= 0.5 with some benchmark document, found without any
    // all-pairs comparison — LSH band equi-join RESTRICTED train x eval for
    // candidates, exact set intersection only on those pairs. Strata: eval
    // is the original doc_id % 100 == 0 slice, train is the planted
    // near-twin corpus (the +1000000 ids), so true contamination exists and
    // is recoverable. At 100 TB the band join fans in by band value, the
    // verify join ships only candidate docs' shingles, and both stat
    // relations are map-side-combinable aggregates off the cached distinct
    // shingle relation.
    Q("tx_decontam_fuzzy", (s, d) => {
      val shd = shinglesDf(nearCorpusDf(s, d)).distinct()
      val (sig, mins) = bandSig(shd)
      val cand = sig.as("a").join(sig.as("b"),
          expr("""a.band = b.band AND a.bandval = b.bandval
                  AND a.doc_id >= 1000000
                  AND b.doc_id < 1000000 AND b.doc_id % 100 = 0"""))
        .select(col("a.doc_id").as("train_id"), col("b.doc_id").as("eval_id"))
        .distinct()
      val sizes = shd.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // ship 8-byte shingle identities through the verify joins, not text
      val inter = cand
        .join(shd.select(col("doc_id").as("train_id"),
          xxhash64(col("shingle")).as("hs")), "train_id")
        .join(shd.select(col("doc_id").as("eval_id"),
          xxhash64(col("shingle")).as("hs")), Seq("eval_id", "hs"))
        .groupBy("train_id", "eval_id").agg(count(lit(1)).as("inter"))
      val out = inter
        .join(sizes.select(col("doc_id").as("train_id"), col("n").as("nt")), "train_id")
        .join(sizes.select(col("doc_id").as("eval_id"), col("n").as("ne")), "eval_id")
        .select(col("train_id"), col("eval_id"), col("inter"),
          (col("nt") + col("ne") - col("inter")).as("uni"))
        .filter(col("inter") * 2 >= col("uni"))
      Caching.releaseAfterAction(out, mins, shd)
    }, Some(s"""
      WITH $NEAR_SQL, $SHINGLES_SQL,
      shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      mins AS (
        SELECT doc_id,
               $MINHASH_MINS_SQL
        FROM shd GROUP BY doc_id),
      sig AS (
        SELECT doc_id, 0 AS band, mh0 || mh1 AS bandval FROM mins
        UNION ALL SELECT doc_id, 1, mh2 || mh3 FROM mins
        UNION ALL SELECT doc_id, 2, mh4 || mh5 FROM mins
        UNION ALL SELECT doc_id, 3, mh6 || mh7 FROM mins),
      cand AS (
        SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
        FROM sig a JOIN sig b ON a.band = b.band AND a.bandval = b.bandval
        WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
          AND b.doc_id % 100 = 0),
      sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                FROM shd GROUP BY doc_id),
      i AS (SELECT c.train_id, c.eval_id, CAST(count(*) AS BIGINT) AS inter
            FROM cand c JOIN shd t ON t.doc_id = c.train_id
                        JOIN shd e ON e.doc_id = c.eval_id
                                  AND e.shingle = t.shingle
            GROUP BY 1, 2)
      SELECT i.train_id, i.eval_id, i.inter,
             CAST(st.n + se.n - i.inter AS BIGINT) AS uni
      FROM i JOIN sizes st ON st.doc_id = i.train_id
             JOIN sizes se ON se.doc_id = i.eval_id
      WHERE i.inter * 2 >= st.n + se.n - i.inter"""))
  )
}
