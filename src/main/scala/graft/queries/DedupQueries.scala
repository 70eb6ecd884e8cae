package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fixtures
import graft.text.{MinHashLSH, SimHash}

/** Near-duplicate mining beyond the exact/oracle paths in
  * PipelineQueries: the three scalable detectors of an LLM-data
  * pipeline — MinHash-LSH (set overlap), SimHash (weighted token bags,
  * Hamming banding), and embedding-cosine (semantic). MinHash/SimHash
  * are hash-seeded → NATIVE (recall/consistency specs in
  * graft.text tests); the embedding path is pure arithmetic → ORACLE. */
object DedupQueries {

  /** MinHash-LSH near-dup pairs over the SAME df-capped shingle
    * universe as q_dedup_ngram, verified to exact Jaccard >= 0.35 —
    * so its rows are a subset of the exact join's, short of only LSH
    * misses (measured >= 0.9 recall in MinHashSpec). */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    MinHashLSH.nearDupPairs(PipelineQueries.keptShingles(spark, sfDir), 0.35)

  /** SimHash near-dups: 64-bit fingerprints over word tokens, all
    * pairs at Hamming distance <= 3 via the complete C(5,2) two-chunk
    * multi-index (pigeonhole: d<=3 leaves two untouched chunks). */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    SimHash.nearDupPairs(
      Fixtures.documents(spark, sfDir)
        .select($"doc_id", split(lower(trim($"text")), " ").as("tokens")))
  }

  /** Embedding-cosine near-dup pairs, banded by `label` (the IVF-style
    * coarse partition): within a label, pairs with cosine >= 0.35.
    * The label equi-key keeps the join linear per bucket at scale —
    * the unbanded all-pairs form is exactly the quadratic shape LSH/IVF
    * exist to avoid. */
  def dedupEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Fixtures.embeddings(spark, sfDir).select($"vec_id", $"label", $"embedding")
    val a = e.select($"label", $"vec_id".as("id_a"), $"embedding".as("va"))
    val b = e.select($"label", $"vec_id".as("id_b"), $"embedding".as("vb"))
    a.join(b, Seq("label"))
      .filter($"id_a" < $"id_b")
      // native codegen'd expression (graft.functions.CosineSim): one
      // fused loop per pair vs three interpreted HOF folds; identical
      // ascending accumulation order keeps the doubles — and the
      // DuckDB hash compare — bit-stable
      .withColumn("cos_raw", expr("cosine_sim(va, vb)"))
      .filter($"cos_raw" >= 0.35)
      .withColumn("cosine", round($"cos_raw", 4))
      .select($"label", $"id_a", $"id_b", $"cosine")
      .orderBy($"id_a", $"id_b")
  }

  val dedupEmbedSql: String =
    """SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(
      |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |   / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |    * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** Near-dup CLUSTERS: connected components over the exact n-gram
    * Jaccard pairs, each doc labelled with the min doc_id reachable in
    * its component — the step that turns pairwise similarity into
    * "keep one representative per duplicate group". Spark side:
    * iterative min-label propagation (each round = one edge join + one
    * min-agg; converges in O(component diameter) rounds — the standard
    * scalable CC, no driver-side graph). DuckDB side: recursive-CTE
    * transitive closure over the same pairs. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext

    // localCheckpoint (eager) materializes AND truncates the logical
    // plan — cache() alone keeps the full lineage, so each round's plan
    // would embed every prior round and planning cost grows per
    // iteration. The blocks of a truncated-lineage DF can never be
    // recomputed, so only DFs that are provably never read again may be
    // unpersisted — tracked here by diffing getPersistentRDDs around
    // each checkpoint (public API; no private LogicalRDD poking).
    // Serialized under DedupQueries.checkpointLock: a CONCURRENT
    // localCheckpoint landing between the snapshot and the diff would
    // otherwise be captured — and later unpersisted — by this call,
    // destroying blocks whose truncated lineage cannot recompute.
    def checkpointTracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) =
      DedupQueries.checkpointLock.synchronized {
        val before = sc.getPersistentRDDs.keySet
        val out = df.localCheckpoint()
        // the same job may also materialize OTHER persisted datasets
        // the plan reads (e.g. the shared shingle cache); keep only the
        // locally-checkpointed RDD this call created so we never free a
        // cache someone else still uses
        val added = (sc.getPersistentRDDs -- before).values
          .filter(_.isCheckpointed).toSeq
        (out, added)
      }

    // checkpoint the expensive dedupNgram subplan ONCE: both branches
    // of the bidirectional union below reference it, and without this
    // the shingle join + Jaccard agg would evaluate twice
    val (pairs, pairsBlocks) = checkpointTracked(
      PipelineQueries.dedupNgram(spark, sfDir).select($"id_a", $"id_b"))
    // edges: a CACHE pre-partitioned on the per-round join key (r22,
    // the PageRank discipline) — cache preserves hashpartitioning(src)
    // where the previous eager checkpoint dropped it, so every round's
    // label join runs shuffled-hash with NO exchange on the edge side.
    // Lineage stays one step deep (pairs is a checkpoint), and the
    // pairs blocks MUST stay pinned until the loop ends: the lazy cache
    // materializes on the first round's action and reads them —
    // truncated lineage cannot recompute a freed block.
    val edges = pairs
      .union(pairs.select($"id_b".as("id_a"), $"id_a".as("id_b")))
      .toDF("src", "dst")
      .repartition($"src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r22 NOTE: the PageRank-style AQE-off loop was tried here and
    // paired-measured SLOWER (0/4, +0.77 s; with data-sized shuffle
    // partitions still 2/4, +0.23 s — BENCH_r22_paired_batch3*.json):
    // on this pair graph AQE's runtime coalescing (≈1 post-shuffle
    // partition for ~1k edges) beats any statically chosen count, and
    // unlike pagerank the loop's plans are join-heavy node-scale
    // frames where per-stage scheduling is not the dominant term.
    // Reverted; AQE stays ON for this loop.
    var (labels, prevBlocks) = checkpointTracked(
      edges.select($"src".as("doc_id")).distinct()
        .withColumn("cluster", $"doc_id"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      // each node adopts the min label among itself and its neighbors
      val msgs = edges
        .join(labels.withColumnRenamed("doc_id", "src").hint("shuffle_hash"),
          Seq("src"))
        .groupBy($"dst".as("doc_id"))
        .agg(min($"cluster").as("nbr_min"))
      // cached within the round: the pointer-jump self-join references
      // `adopted` twice, and uncached the edge join + min-agg would run
      // twice per round
      val adopted = labels.join(msgs, Seq("doc_id"), "left")
        .select($"doc_id", $"cluster".as("old"),
          least($"cluster", coalesce($"nbr_min", $"cluster")).as("cluster"))
        .cache()
      // pointer-jump (label compression): cluster := label(cluster).
      // Labels only decrease, so the jump target's label is always <=
      // the current one; this shortcuts chain-shaped components,
      // halving the O(diameter) round count
      val (next, nextBlocks) = checkpointTracked(adopted
        .join(adopted.select($"doc_id".as("cluster"), $"cluster".as("jump")),
          Seq("cluster"), "left")
        .select($"doc_id", $"old",
          least($"cluster", coalesce($"jump", $"cluster")).as("cluster")))
      // convergence test scans the just-checkpointed blocks — no
      // recompute of the round's joins
      changed = next.filter($"cluster" =!= $"old").count()
      adopted.unpersist(blocking = false)
      // next is materialized: the previous round's label blocks are
      // unreachable from here on — O(1) storage across rounds instead
      // of one leaked block set per round
      prevBlocks.foreach(_.unpersist(blocking = false))
      prevBlocks = nextBlocks
      labels = next.select($"doc_id", $"cluster")
      iter += 1
    }
    // the returned DF reads only the FINAL round's blocks; edges and
    // the pairs checkpoint behind them are done. The final labels
    // blocks MUST stay persisted for the consumer (truncated lineage —
    // dropping them would break the result), so they are handed to the
    // retained registry for releaseClusterCheckpoints() to free once
    // results are consumed.
    edges.unpersist(blocking = false)
    pairsBlocks.foreach(_.unpersist(blocking = false))
    prevBlocks.foreach(retainedClusterBlocks.add)
    labels.orderBy($"doc_id")
  }

  /** Lock serializing getPersistentRDDs-diff checkpoint tracking. */
  private[queries] val checkpointLock = new Object

  // final-round label blocks of every dedupClusters call: query-scoped
  // (graft.Memo), pinned until the caller is done with the results
  private val retainedClusterBlocks = graft.Memo.blocks()

  /** Unpersist the final-round label blocks retained by prior
    * [[dedupClusters]] calls. Call ONLY after those results are fully
    * consumed — their lineage is truncated and cannot recompute. */
  def releaseClusterCheckpoints(): Unit = retainedClusterBlocks.release()

  val dedupClustersSql: String = {
    // transitive closure over the SAME exact-Jaccard pairs; cluster =
    // min reachable id (incl. self)
    val pairsCte = DedupOracleSql.ngramPairsCte
    s"""$pairsCte,
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs2
       |  UNION ALL SELECT id_b, id_a FROM pairs2),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, least(u, min(v)) AS cluster
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin
  }

  /** Unbanded embedding near-dup (no label column needed): IVF
    * 2-probe bucketing over hash-spread centroids — the scale path for
    * corpora WITHOUT a precomputed coarse partition. NATIVE: the
    * centroid sample is hash-seeded; recall >= 0.9 vs exact all-pairs
    * proven on planted clusters (EmbedIvfSpec), precision exact by
    * construction. */
  def dedupEmbedIvf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.similarity.Ann.ivfNearDupPairs(
      Fixtures.embeddings(spark, sfDir).select($"vec_id", $"embedding"),
      minCos = 0.35, nCentroids = 16)
  }

  // SemDeDup coarse fit, staged (graft.Memo): bit-deterministic (see
  // Kmeans scaladoc), and Bench's min-of-2 would otherwise pay the
  // 8-iteration fit twice.
  private val semanticModel = graft.Memo.staged[graft.similarity.Kmeans.Model]()

  /** SemDeDup — the published semantic-dedup composition (Abbas et
    * al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): k-means coarse clusters, exact
    * cosine pairs INSIDE each cluster only, then keep-one-per-
    * duplicate-group by the min-id rule (drop x iff a same-cluster
    * y < x has cos(x,y) ≥ τ). The cluster equi-key bounds pair work
    * at Σ(cluster size)², never corpus² — the composition's whole
    * point at 100 TB: the fit is one map-side-combined pass per
    * iteration, assignment is a broadcast narrow map, and the pair
    * stage is a plain equi-join (no cartesian — pinned). Differs from
    * q_dedup_embed_ivf by GOAL: IVF banding targets pair RECALL;
    * SemDeDup targets the kept-set (per-cluster prune-to-
    * representative), which is what an LLM-data pipeline actually
    * materializes. Output is the per-cluster keep/drop rollup.
    * NATIVE (SemDedupSpec: planted near-dup groups collapse to
    * exactly their min-id representative, the pair join carries the
    * cluster equi-key with no cartesian/BNLJ, and the kept set is
    * invariant under input repartitioning). */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Fixtures.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val model = semanticModel(spark, sfDir)(
      _ => graft.similarity.Kmeans.fit(emb, k = 16, iters = 8))
    semanticDedup(emb, model, tau = 0.35)
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n"),
        sum(when($"dropped", 0L).otherwise(1L)).as("n_kept"),
        sum(when($"dropped", 1L).otherwise(0L)).as("n_dropped"))
      .orderBy($"cluster")
  }

  // assignment frames pinned by semanticDedup (4 consumers: the salt
  // scan, both join sides, the verdict join): query-scoped (graft.Memo)
  private val retainedSemantic = graft.Memo.frames()

  /** The keep/drop frame behind [[dedupSemantic]], shared with the
    * spec's planted-corpus laws: (cluster, vec_id, dropped).
    *
    * Skew guard (`clusterCap`): a duplicate-heavy corpus concentrates
    * exactly where SemDeDup looks, so one mega-cluster would land its
    * whole quadratic pair work on ONE join task. Clusters above the
    * cap are salt-split with the same variable-salt scheme as
    * [[graft.similarity.Ann.saltedSides]] — left side hash-salted into
    * ceil(n/cap) groups, right side replicated to every salt — which
    * changes NOTHING about which pairs are compared (each same-cluster
    * pair meets in exactly one salt group), only bounds any single
    * task's left group at ~cap rows. */
  private[graft] def semanticDedup(emb: DataFrame,
      model: graft.similarity.Kmeans.Model, tau: Double,
      clusterCap: Int = 100000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    // cache: the salt-count scan, BOTH pair-join sides, and the final
    // verdict join all read this frame — uncached, the embeddings scan
    // + assignment map would run four times per call
    val assigned = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])]
      .map { case (id, v) => (bc.value.assign(v), id, v) }
      .toDF("cluster", "vec_id", "embedding")
      .cache()
    retainedSemantic.add(assigned)
    // oversize-cluster salt counts: O(k) rows to the driver
    val saltCount: Map[Int, Int] = assigned.groupBy($"cluster").count()
      .filter($"count" > clusterCap).select($"cluster", $"count")
      .as[(Int, Long)].collect()
      .map { case (c, n) => c -> ((n + clusterCap - 1) / clusterCap).toInt }
      .toMap
    val salts =
      if (saltCount.isEmpty) lit(1)
      else coalesce(element_at(typedLit(saltCount), $"cluster"), lit(1))
    val a = assigned.select($"cluster",
      pmod(xxhash64($"vec_id"), salts).cast("int").as("salt"),
      $"vec_id".as("id_a"), $"embedding".as("va"))
    val b = assigned.select($"cluster",
      explode(sequence(lit(0), salts - 1)).as("salt"),
      $"vec_id".as("id_b"), $"embedding".as("vb"))
    // a member is DROPPED iff any same-cluster smaller id is within τ
    // — semi-join shape, so the pair frame never materializes more
    // than the per-bucket qualifying pairs
    val dropped = a.join(b, Seq("cluster", "salt"))
      .filter($"id_a" < $"id_b")
      .filter(expr(s"cosine_sim(va, vb)") >= tau)
      .select($"id_b".as("vec_id"))
      .distinct()
      .withColumn("dropped", lit(true))
    assigned.select($"cluster", $"vec_id")
      .join(dropped, Seq("vec_id"), "left")
      .select($"cluster", $"vec_id",
        coalesce($"dropped", lit(false)).as("dropped"))
  }

  /** Train/eval SPLIT LEAKAGE — the contamination check a pipeline
    * must run before trusting any held-out metric: near-duplicate
    * pairs (the exact n-gram frame, shared with q_dedup_ngram via the
    * cached shingle universe) classified by the split each side lands
    * in. A `test`↔`train` row here means the eval set contains
    * near-copies of training documents and the benchmark number is
    * inflated — q_decontaminate guards against EXTERNAL benchmark
    * contamination; this guards the pipeline's own split. Split rule
    * identical to q_split_train. Pair work rides the already-bounded
    * shingle join; the classification is two broadcast-size joins. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // split is a PURE function of doc_id, and every pair id comes from
    // documents by construction — deriving the labels as expressions
    // instead of joining the documents frame twice removes two corpus
    // scans + two joins from the plan (guide §1.2), with identical
    // output (the joins could never drop or duplicate a pair).
    def splitOf(c: org.apache.spark.sql.Column) =
      when(c % 100 < 90, "train").when(c % 100 < 95, "val").otherwise("test")
    PipelineQueries.dedupNgram(spark, sfDir)
      .select($"id_a", $"id_b",
        splitOf($"id_a").as("sa"), splitOf($"id_b").as("sb"))
      .select(least($"sa", $"sb").as("split_a"),
        greatest($"sa", $"sb").as("split_b"), $"id_a", $"id_b")
      .groupBy($"split_a", $"split_b")
      // lexicographic struct min = a REAL leaked pair (independent
      // min(id_a), min(id_b) could name two ids that never paired)
      .agg(count(lit(1)).as("n_pairs"),
        min(struct($"id_a", $"id_b")).as("ex"))
      .select($"split_a", $"split_b", $"n_pairs",
        $"ex.id_a".as("example_a"), $"ex.id_b".as("example_b"))
      .orderBy($"split_a", $"split_b")
  }

  val splitLeakageSql: String =
    graft.queries.DedupOracleSql.ngramPairsCte + """,
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 100 < 90 THEN 'train'
      |         WHEN doc_id % 100 < 95 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |t AS (
      |  SELECT least(sa.split, sb.split) AS split_a,
      |    greatest(sa.split, sb.split) AS split_b, id_a, id_b
      |  FROM pairs2
      |  JOIN s sa ON sa.doc_id = id_a
      |  JOIN s sb ON sb.doc_id = id_b)
      |SELECT split_a, split_b, count(*) AS n_pairs,
      |  (min({'id_a': id_a, 'id_b': id_b})).id_a AS example_a,
      |  (min({'id_a': id_a, 'id_b': id_b})).id_b AS example_b
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_split_leakage" -> (splitLeakage _),
    "q_dedup_minhash" -> (dedupMinhash _),
    "q_dedup_simhash" -> (dedupSimhash _),
    "q_dedup_embed" -> (dedupEmbed _),
    "q_dedup_embed_ivf" -> (dedupEmbedIvf _),
    "q_dedup_semantic" -> (dedupSemantic _),
    "q_dedup_clusters" -> (dedupClusters _))

  val oracle: Map[String, String] = Map(
    "q_dedup_embed" -> dedupEmbedSql,
    "q_split_leakage" -> splitLeakageSql,
    "q_dedup_clusters" -> dedupClustersSql)
}

/** Shared CTE text so the clusters oracle reuses the exact pair
  * definition of q_dedup_ngram verbatim. */
object DedupOracleSql {
  val ngramPairsCte: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(string_split(lower(trim(text)), ' ')) - 1, 1)),
      |    i -> string_split(lower(trim(text)), ' ')[i] || ' ' ||
      |         string_split(lower(trim(text)), ' ')[i+1] || ' ' ||
      |         string_split(lower(trim(text)), ' ')[i+2])) AS shingles
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |kept AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 100),
      |kx AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN kept USING (shingle)),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM kx GROUP BY doc_id),
      |cand AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM kx a JOIN kx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs2 AS (
      |  SELECT id_a, id_b FROM cand
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.35)""".stripMargin
}
