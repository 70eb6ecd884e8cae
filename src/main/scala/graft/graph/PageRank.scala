package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed PageRank by power iteration — the link-quality signal
  * web-scale curation pipelines rank crawl domains with (Common
  * Crawl's domain ranking, OPIC-style crawl prioritization; Page et
  * al. 1998, public).
  *
  * DataFrame-first dataflow, same discipline as the connected-
  * components operator (`DedupQueries.q_dedup_clusters`):
  *
  *  - `edges(src, dst)` is deduped once; out-degrees come from ONE
  *    groupBy and ride along as an `(src, dst, deg)` frame cached for
  *    the whole run (the only corpus-scale state), PRE-PARTITIONED on
  *    src (r22) so the per-iteration rank join reuses it shuffle-free.
  *  - each iteration pays ONE exchange: ranks leave the previous
  *    iteration's `groupBy(node)` hash-partitioned on the node id and
  *    shuffled-hash-join onto the co-partitioned edge frame with no
  *    exchange on either side (plans/r22/q_graph_pagerank_iteration_
  *    after.txt: the chained iteration's SHJ consumes the previous agg
  *    directly — the only Exchange is the contributions groupBy; a
  *    checkpoint round re-exchanges node-scale ranks once because
  *    localCheckpoint drops partitioning info under AQE). The union
  *    keeps sink nodes in the frame without the separate
  *    left-join-onto-nodes the r19 shape paid (3 shuffles/iteration
  *    → 2 in r20, paired −0.9 s, BENCH_r20_isolated_pagerank.json;
  *    → 1 in r22 — and the edge-scale side never moves again).
  *  - dangling mass (nodes with no out-edges) is ONE scalar aggregate
  *    per iteration, redistributed uniformly — metadata-scale driver
  *    traffic (a single double), never node-scale.
  *  - `localCheckpoint` every SECOND iteration truncates the growing
  *    lineage (without any barrier the plan tree doubles every round
  *    and the driver, not the data, becomes the bottleneck) while
  *    halving the per-iteration job count — the fixed cost that
  *    dominates an iterative dataflow at every scale. Measured on the
  *    sf0.1 supply graph: every-round 5.3 s, every-2nd 3.8 s,
  *    every-4th 6.0 s (deep un-barriered plans re-execute AQE stages),
  *    fully-lazy chaining 20 s — the stride-2 barrier is a measured
  *    optimum, not a guess. Dangling graphs materialize every round
  *    anyway (the scalar aggregate below is an action).
  *
  * Iteration count is fixed (power iteration converges geometrically
  * at rate `damping`; 10 rounds ≈ 0.85¹⁰ ≈ 20% residual on the slowest
  * mode, plenty for ranking). Exactness vs a single-machine reference
  * and the Σrank = 1 invariant are pinned in PageRankSpec. */
object PageRank {

  /** Ranks after `iters` power iterations over directed `edges(src,
    * dst)`. Returns (node, rank) for every node appearing as a src or
    * dst; ranks sum to 1. */
  def run(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // AQE has nothing left to re-optimize inside this loop — shuffle
    // partitions are pre-sized to the graph by the caller, the rank
    // join is pinned by co-partitioning + the shuffle_hash hint, and
    // aggregation skew is not AQE-splittable — while it costs one
    // scheduler job per materialized stage per checkpoint action AND
    // erases the outputPartitioning a localCheckpoint would otherwise
    // carry (the checkpoint rounds' extra node-scale exchange,
    // plans/r22/q_graph_pagerank_iteration_after.txt iteration 1).
    // Off for the loop, restored after; measured −0.9 s at sf0.1
    // (isolated 4.2-4.8 → 3.3-3.7 s band).
    graft.Conf.scoped(spark, "spark.sql.adaptive.enabled" -> "false") {
      runLoop(spark, edges, iters, damping)
    }
  }

  private def runLoop(spark: SparkSession, edges: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    import spark.implicits._
    // e feeds THREE derivations (nodes, degrees, the linked frame) —
    // cache it or the union+distinct over the source relation runs
    // three times before the first iteration starts
    val e = edges.select($"src".cast("long"), $"dst".cast("long"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select($"src".as("node"))
      .union(e.select($"dst".as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
    // pre-partition the edge frame ON THE JOIN KEY once (guide §2.1/
    // §2.4, r22): every iteration joins ranks onto `linked` by src, and
    // ranks leave each iteration's groupBy(node) already hash-
    // partitioned on the node id — with the cached edge frame holding
    // the SAME partitioning, the per-iteration join needs NO exchange
    // on either side (the shuffle_hash hint below keeps the planner
    // from broadcasting node-scale ranks, which cannot broadcast at
    // real graph sizes, and from sort-merge re-sorting the edge frame
    // every round). Each iteration then pays exactly ONE exchange: the
    // contributions groupBy(node).
    val linked = e.join(deg, "src")
      .repartition($"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node count AND dangling count from ONE action (r22: they were two
    // jobs — guide §1.2, fixed per-job cost dominates iterative setup);
    // the dangling-node SET is iteration-invariant — resolved once and
    // cached ONLY when it is non-empty (dangling-free graphs, like the
    // bidirectional supply graph, skip the anti-join cache entirely).
    // Referencing `deg` inside the loop would re-derive the whole edge
    // frame every round (measured 8× the query's actual work, r16).
    val cnts = nodes
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .agg(count(lit(1)), count(when($"deg".isNull, 1))).head()
    val n = cnts.getLong(0).toDouble
    require(n > 0, "pagerank needs a non-empty graph")
    val anyDangling = cnts.getLong(1) > 0
    val danglingNodes =
      if (!anyDangling) null
      else nodes
        .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)

    var ranks = nodes.withColumn("rank", lit(1.0 / n))
      .localCheckpoint(eager = false)
    var it = 0
    while (it < iters) {
      // mass sitting on dangling nodes (no out-edges) this round:
      // one scalar to the driver, redistributed uniformly; skipped
      // entirely on dangling-free graphs (where the loop then runs
      // ZERO actions — the caller's terminal action executes the
      // whole chained fixed point as one job)
      val dangling =
        if (!anyDangling) 0.0
        else ranks.join(danglingNodes, Seq("node"), "left_semi")
          .agg(coalesce(sum($"rank"), lit(0.0))).first().getDouble(0)
      val base = (1.0 - damping) / n + damping * dangling / n
      // contributions and the keep-every-node union fold into ONE
      // aggregation: edge mass (rank/deg per out-edge) unioned with a
      // zero row per node, then a single groupBy(node) — the ONE
      // exchange of the iteration (the rank join above is co-
      // partitioned and shuffle-free). The zero rows keep sink nodes
      // (no in-edges) in the frame exactly as the left join did, and
      // adding 0.0 to a double sum is exact.
      val next = linked
        .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .select($"dst".as("node"), ($"rank" / $"deg").as("m"))
        .union(nodes.select($"node", lit(0.0).as("m")))
        .groupBy($"node")
        .agg((lit(base) + lit(damping) * sum($"m")).as("rank"))
      // checkpoint every SECOND iteration: lineage stays bounded (two
      // join+agg rounds per barrier) while the job count — the real
      // fixed cost of an iterative dataflow at any scale — halves.
      // Dangling graphs checkpoint every round anyway (the scalar
      // aggregate above materializes the chain).
      ranks =
        if (it % 2 == 1 || it == iters - 1 || anyDangling)
          next.localCheckpoint()
        else next
      it += 1
    }
    // the loop ends on a just-materialized checkpoint (it == iters-1
    // always checkpoints), so the helper frames are safe to release —
    // the returned ranks are a self-contained checkpointed RDD
    nodes.unpersist()
    linked.unpersist()
    if (danglingNodes != null) danglingNodes.unpersist()
    e.unpersist()
    ranks
  }

  /** Driver-local power method for METADATA-SCALE graphs — the
    * domains/hosts case (a link graph aggregated to host level is
    * domains²-bounded, thousands of nodes at web scale, ≪ executor
    * task overhead). Identical math to [[run]]: same initialization,
    * damping, dangling redistribution, and iteration count — pinned
    * equal to the distributed operator at 1e-9 in PageRankSpec.
    * Callers that already hold the aggregated edge list (e.g. the
    * crawl pipeline's collected host-pair matrix) rank it here in
    * microseconds instead of paying 2·iters distributed shuffles. */
  def runLocal(edges: Seq[(Long, Long)], iters: Int = 10,
      damping: Double = 0.85): Map[Long, Double] = {
    val e = edges.distinct
    require(e.nonEmpty, "pagerank needs a non-empty graph")
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.length.toDouble
    val out = e.groupBy(_._1).map { case (s, es) => (s, es.length) }
    var ranks = nodes.map(v => (v, 1.0 / n)).toMap
    var it = 0
    while (it < iters) {
      val dangling = nodes.iterator
        .filterNot(out.contains).map(ranks).sum
      val base = (1.0 - damping) / n + damping * dangling / n
      val in = e.groupBy(_._2).map { case (d, es) =>
        (d, es.iterator.map { case (s, _) => ranks(s) / out(s) }.sum)
      }
      ranks = nodes.iterator
        .map(v => (v, base + damping * in.getOrElse(v, 0.0))).toMap
      it += 1
    }
    ranks
  }
}
