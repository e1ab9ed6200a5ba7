package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe for the iterative graph family (HITS, k-core peeling,
  * multi-source BFS): a deterministic synthetic bipartite graph many times
  * the sf0.1 purchase graph, timed per ROUND, because the round constant —
  * not the join shape — is what survives a 100x scale-up (the components
  * fixpoint's own A/B is in COVERAGE.md, "dd_components round work").
  * Every round is the same plan the gated queries run: equi-join of the
  * cached edge relation against a node-sized relation plus one hash
  * aggregate.
  *
  * `sbt "Test/runMain graft.tools.GraphScale 2000000"` -> 2M edges (the
  * sf0.1 purchase graph carries ~300k directed pairs).
  */
object GraphScale {

  def main(args: Array[String]): Unit = {
    val nEdges = if (args.nonEmpty) args(0).toLong else 2000000L
    val spark = Probes.localSession()
    spark.sparkContext.setLogLevel("ERROR")

    // bipartite: ~nEdges/20 left nodes with skewed fan-out to 50k right
    // nodes (hot right keys mirror the hot-supplier skew of the real graph)
    val nRight = 50000L
    val ed = spark.range(nEdges)
      .select((col("id") / 20).cast("long").as("a"),
        (expr("id * 7919") % nRight + 10000000L).as("b"))
      .distinct()
    val edges = ed.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(ed.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    val nE = edges.count()
    println(s"[graphscale] edges=$nE (directed, both orientations)")

    def timed(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[graphscale] $label%-14s ${(System.nanoTime() - t0) / 1e9}%6.2f s  rows=$n")
    }

    // HITS rounds (the gr_hits shape, per-round persists included)
    var hub = edges.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1000000L)).persist()
    timed("hits-init")(hub.count())
    for (r <- 1 to 2) {
      var auth: DataFrame = null
      timed(s"hits-round$r") {
        val a = edges.join(hub, col("src") === col("node"))
          .groupBy("dst").agg(sum("h").as("a")).persist()
        auth = a.crossJoin(broadcast(a.agg(max("a").as("amax"))))
          .select(col("dst"), expr("(a * 1000000) div amax").as("a"))
        val h = edges.join(auth.withColumnRenamed("dst", "dst2"),
            col("dst") === col("dst2"))
          .groupBy("src").agg(sum("a").as("h")).persist()
        hub = h.crossJoin(broadcast(h.agg(max("h").as("hmax"))))
          .select(col("src").as("node"), expr("(h * 1000000) div hmax").as("h"))
          .persist()
        hub.count()
      }
    }

    // k-core peel rounds (the gr_kcore shape)
    var alive = edges.select(col("src").as("node")).distinct().persist()
    timed("kcore-init")(alive.count())
    for (r <- 1 to 4) {
      timed(s"kcore-round$r") {
        val nxt = edges
          .join(alive, col("src") === col("node")).drop("node")
          .join(alive.withColumnRenamed("node", "node2"),
            col("dst") === col("node2"))
          .groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 25)
          .select(col("src").as("node")).persist()
        val n = nxt.count()
        alive = nxt
        n
      }
    }

    // BFS frontier rounds (the gr_bfs shape)
    var hops = edges.filter(col("src") < 10000000L && col("src") % 1000 === 0)
      .select(col("src").as("node")).distinct()
      .withColumn("hop", lit(0L)).persist()
    timed("bfs-init")(hops.count())
    for (r <- 1 to 3) {
      timed(s"bfs-round$r") {
        val nxt = edges.join(hops, col("src") === col("node"))
          .select(col("dst").as("node"), lit(r.toLong).as("hop"))
        hops = hops.unionByName(nxt).groupBy("node")
          .agg(min("hop").as("hop")).persist()
        hops.count()
      }
    }
    spark.stop()
  }
}
