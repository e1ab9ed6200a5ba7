package graft.rel



import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._


/** Relational graph operators for the dedup pipeline. */
object GraphOps {

  /** Session conf key: edge-count cap (PAIRS, pre-mirroring) below which
    * the component labeling collapses to a driver-side union-find instead
    * of the distributed fixpoint. Default 1M pairs: the mirrored edge list
    * collects as per-partition PRIMITIVE long arrays (2M rows = ~32 MB,
    * no boxed tuples) and the union-find runs over open-addressed
    * primitive tables sized to the DISTINCT vertices actually seen —
    * worst-case (every endpoint distinct) ~120 MB transient, typical
    * near-dup graphs far less — a runtime-bounded round-trip in the AQE
    * spirit
    * (decide the physical strategy from the observed size): at harness
    * scale the near-dup edge sets are 10³-10⁵ pairs, and ~4 fixpoint
    * rounds × 4 jobs of pure scheduling cost an order of magnitude more
    * than the exact same min-id labeling computed in milliseconds on the
    * driver (measured: dd_phash_clusters' 537k-edge mirror labels in
    * ~0.9 s vs 3.7 s through the fixpoint). Set 0 to force the
    * distributed path; above the cap the Tungsten fixpoint runs
    * unchanged — the billions-of-pairs 100 TB path.
    */
  val DriverCapKey = "graft.graph.componentsDriverMaxEdges"

  /** Allocation-lean union-find over long vertex ids: an open-addressed
    * (linear-probe, load factor <= 0.5, doubling) primitive hash table maps
    * ids to dense indices; the parent forest is a plain Array[Int]. No
    * boxing anywhere on the hot path, and memory tracks the DISTINCT
    * vertices actually seen, not a worst-case bound.
    */
  private[graft] final class LongUnionFind(initialCap: Int = 1 << 12) {
    require(initialCap >= 4 && (initialCap & (initialCap - 1)) == 0,
      "initialCap must be a power of two")
    private var mask = initialCap - 1
    private var keys = new Array[Long](initialCap)
    private var slots = new Array[Int](initialCap)
    private var used = new Array[Boolean](initialCap)
    private var ids = new Array[Long](initialCap / 2)
    private var parent = new Array[Int](initialCap / 2)
    private var n = 0

    def size: Int = n

    private def rehash(): Unit = {
      val ncap = (mask + 1) << 1
      val nk = new Array[Long](ncap)
      val ns = new Array[Int](ncap)
      val nu = new Array[Boolean](ncap)
      val nm = ncap - 1
      var i = 0
      while (i <= mask) {
        if (used(i)) {
          var j = (java.lang.Long.hashCode(keys(i)) * 0x9E3779B9) & nm
          while (nu(j)) j = (j + 1) & nm
          nu(j) = true; nk(j) = keys(i); ns(j) = slots(i)
        }
        i += 1
      }
      keys = nk; slots = ns; used = nu; mask = nm
    }

    /** Dense index of `k`, inserting it as its own singleton on first sight. */
    private def indexOf(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k) * 0x9E3779B9) & mask
      while (used(i)) {
        if (keys(i) == k) return slots(i)
        i = (i + 1) & mask
      }
      used(i) = true; keys(i) = k; slots(i) = n
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n * 2)
        parent = java.util.Arrays.copyOf(parent, n * 2)
      }
      ids(n) = k; parent(n) = n; n += 1
      if (n.toLong * 2 > mask) rehash()
      n - 1
    }

    private def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val t = parent(c); parent(c) = r; c = t }
      r
    }

    def union(a: Long, b: Long): Unit = {
      val ra = find(indexOf(a))
      val rb = find(indexOf(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }

    /** (vertex id, MINIMUM id of its component) for every vertex seen —
      * roots are min-DENSE-INDEX, so a final min-id sweep restores the
      * min-id contract regardless of insertion order.
      */
    def labels(): Array[(Long, Long)] = {
      val minId = new Array[Long](n)
      java.util.Arrays.fill(minId, Long.MaxValue)
      var i = 0
      while (i < n) {
        val r = find(i)
        if (ids(i) < minId(r)) minId(r) = ids(i)
        i += 1
      }
      val out = new Array[(Long, Long)](n)
      i = 0
      while (i < n) { out(i) = (ids(i), minId(find(i))); i += 1 }
      out
    }
  }

  /** Driver union-find over the mirrored edge list: same output contract
    * as the fixpoint — every edge-touched vertex labeled with the MINIMUM
    * vertex id of its component. Edges arrive as per-partition primitive
    * long-array pairs (see the collect site) so the driver never holds a
    * boxed row per edge.
    */
  private def driverComponents(
      parts: Array[(Array[Long], Array[Long])]): Array[(Long, Long)] = {
    val uf = new LongUnionFind()
    parts.foreach { case (srcs, dsts) =>
      var i = 0
      while (i < srcs.length) { uf.union(srcs(i), dsts(i)); i += 1 }
    }
    uf.labels()
  }

  /** Connected components by Pregel-style min-label propagation with
    * pointer-doubling hops: every round each vertex takes the minimum of
    * its own label, its label's label (comp of comp — collapses chains in
    * O(log diameter) rounds, applied twice per round), and its neighbors'
    * labels. The fixpoint assigns every vertex the minimum vertex id of its
    * component.
    *
    * Every round truncates lineage through the RDD layer: an iterative
    * fixpoint whose rounds self-join the previous result doubles its
    * LOGICAL PLAN per round if merely persisted — analysis cost goes
    * exponential while the data stays tiny (measured 248s -> 10s at harness
    * scale). `Dataset.localCheckpoint` is NOT enough: it preserves the
    * checkpointed plan's STATISTICS, so join-size estimates compound
    * 4^rounds into million-digit BigInts and the stats visitor hangs in
    * BigInteger.multiply. Round-tripping `df.rdd.localCheckpoint()` resets
    * both lineage and stats; blocks are reclaimed by the ContextCleaner as
    * references drop.
    *
    * Round shape (3 joins + one agg): the PRE-ROUND component rides along
    * as `oc` so the change count needs no extra comparison join, and the
    * neighbor-min pass is one inner edges-join producing messages union'd
    * with the self rows into a single min-aggregate. (A co-partitioned RDD
    * fixpoint — the GraphX shape, edges shuffled exactly once — LOST ~1.5x
    * to this Tungsten formulation at harness scale: RDD tuple shuffles pay
    * Java serialization while every exchange here stays in Tungsten
    * binary; COVERAGE.md, "dd_components round work".)
    *
    * Only EDGE-TOUCHED vertices enter the fixpoint: an isolated vertex is
    * its own component and can never change, so at corpus scale (where the
    * overwhelming majority of documents touch no near-dup edge) the
    * iteration runs over the small connected subgraph, not the corpus.
    * The seed folds one neighbor-min pass into initialization.
    *
    * `vertices` must have a `doc_id` column; `edges` columns `id_a, id_b`
    * (undirected; mirrored internally). Output: (doc_id, comp).
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist() // scanned every round; released after the result's action
    // the mirror count doubles as the size probe for the strategy choice
    // (it materializes the cache the seed pass reuses either way)
    val nSym = sym.count()
    val cap = spark.conf.getOption(DriverCapKey).map(_.toLong).getOrElse(1000000L)
    if (nSym <= 2 * cap) {
      // collect as per-partition primitive arrays: 16 bytes/edge transient
      // on the driver instead of a boxed (Long, Long) row per edge
      val parts = sym.select(col("src"), col("dst")).rdd
        .mapPartitions { it =>
          val sb = new scala.collection.mutable.ArrayBuilder.ofLong
          val db = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { r => sb += r.getLong(0); db += r.getLong(1) }
          Iterator.single((sb.result(), db.result()))
        }.collect()
      val labels =
        driverComponents(parts).toSeq.toDF("doc_id", "comp")
      val untouched = vertices.select(col("doc_id"))
        .join(labels.select(col("doc_id").as("td")),
          col("doc_id") === col("td"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("comp"))
      return graft.Caching.releaseAfterAction(
        labels.unionByName(untouched), sym)
    }
    val seed = sym.groupBy(col("src").as("doc_id"))
      .agg(least(first(col("src")), min(col("dst"))).as("comp"))
    var labels = { // materialize the seed through the RDD layer (see above)
      val rdd = seed.as[(Long, Long)].rdd
      rdd.localCheckpoint(); rdd.count()
      rdd.toDF("doc_id", "comp")
    }
    var changed = 1L
    while (changed > 0) {
      // two pointer-doubling hops (comp := min(comp, comp of comp), twice)
      // with the pre-round component riding along untouched as `oc`
      val base = labels.select(col("doc_id"), col("comp"),
        col("comp").as("oc"))
      val hop1 = base
        .join(labels.select(col("comp").as("hc1"), col("doc_id").as("hd1")),
          col("comp") === col("hd1"), "left")
        .select(col("doc_id"), least(col("comp"), col("hc1")).as("comp"),
          col("oc"))
      val hop2 = hop1
        .join(hop1.select(col("comp").as("hc2"), col("doc_id").as("hd2")),
          col("comp") === col("hd2"), "left")
        .select(col("doc_id"), least(col("comp"), col("hc2")).as("comp"),
          col("oc"))
      // neighbor-min as messages: comp(u) delivered to v for every edge
      // (u, v), union'd with the self rows into ONE min-aggregate — the
      // self row guarantees every vertex survives and carries its oc
      val msgs = hop2.join(sym, col("doc_id") === col("src"))
        .select(col("dst").as("doc_id"), col("comp"),
          lit(null).cast("long").as("oc"))
      val next = hop2.unionByName(msgs)
        .groupBy("doc_id")
        .agg(min(col("comp")).as("comp"),
          first(col("oc"), ignoreNulls = true).as("oc"))
      val flagged = next.select(col("doc_id"), col("comp"),
        (col("comp") =!= col("oc")).as("chg"))
      val rdd = flagged.as[(Long, Long, Boolean)].rdd
      rdd.localCheckpoint()
      changed = rdd.filter(_._3).count() // materializes AND counts changes
      labels = rdd.map(t => (t._1, t._2)).toDF("doc_id", "comp")
    }
    val untouched = vertices.select(col("doc_id"))
      .join(labels.select(col("doc_id").as("td")), col("doc_id") === col("td"),
        "left_anti")
      .select(col("doc_id"), col("doc_id").as("comp"))
    graft.Caching.releaseAfterAction(labels.unionByName(untouched), sym)
  }
}
