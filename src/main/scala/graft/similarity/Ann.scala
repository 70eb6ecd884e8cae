package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate nearest neighbor over an embedding column.
  *
  * IVF-flat, Spark-first: coarse centroids are sampled
  * deterministically from the corpus (every n/k-th id — no training
  * pass), broadcast to executors; bucket assignment is a narrow map;
  * each query probes its `nProbe` nearest centroids and reranks
  * exactly inside those buckets only. At 10^9 vectors the exact scan
  * touches nProbe/nCentroids of the corpus (e.g. 8/256 = 3%), the
  * classic IVF trade — brute-force cosine (q_sim_topk) stays the
  * exact-rerank baseline and the recall oracle.
  *
  * Everything is Dataset ops: broadcast centroids + broadcast query
  * list, flatMap candidates, one groupBy(query) for the final top-k.
  * No driver-side loops over the corpus. */
object Ann {

  case class Neighbor(query_id: Long, vec_id: Long, cosine: Double, rank: Int)

  private[similarity] def normalize(v: Array[Float]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = if (n == 0) 0.0 else v(i) / n; i += 1 }
    out
  }

  @inline private[similarity] def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Deterministic hash-spread centroid sample shared by [[ivfTopK]]
    * and [[ivfNearDupPairs]]: rank by xxhash64 of the id — a uniform
    * pseudo-random draw independent of any id-correlated structure in
    * the data (a smallest-strided-ids sample skews probe buckets
    * whenever content correlates with insertion order, which corpus
    * ids usually do). orderBy+limit compiles to a distributed top-k
    * (TakeOrdered), so the driver receives n rows even at 10^9
    * vectors. */
  private[similarity] def sampleCentroids(emb: DataFrame, n: Int): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    // 2× oversample, then greedy near-duplicate merge: a duplicate-
    // heavy corpus (the very thing near-dup queries run on) otherwise
    // yields several near-identical centroids, and the probe ranking
    // among copies is noise — two near-dup vectors can draw disjoint
    // probe sets over the copies and never co-bucket (measured recall
    // 0.70 on a planted dense cluster without this). Keeping one
    // representative per >=0.98-cosine clique restores "dense region
    // = one bucket". Driver cost O((2n)^2 · dim) on the already-tiny
    // sample.
    val sampled = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(2 * n)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1).map { case (_, v) => normalize(v) }
    val kept = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var i = 0
    while (i < sampled.length && kept.length < n) {
      val c = sampled(i)
      if (!kept.exists(k => dot(k, c) >= 0.98)) kept += c
      i += 1
    }
    require(kept.nonEmpty, "no centroids sampled")
    kept.toArray
  }

  /** Indices of the `n` centroids nearest to `v` (linear partial
    * selection — no per-row full sort allocation). */
  private[similarity] def topCentroids(cent: Array[Array[Double]], v: Array[Double],
      n: Int): Array[Int] = {
    val k = math.min(n, cent.length)
    val out = new Array[Int](k)
    val taken = new Array[Boolean](cent.length)
    var s = 0
    while (s < k) {
      var best = -1
      var bestD = Double.NegativeInfinity
      var c = 0
      while (c < cent.length) {
        if (!taken(c)) {
          val d = dot(cent(c), v)
          if (d > bestD) { bestD = d; best = c }
        }
        c += 1
      }
      // NaN embeddings make every dot NaN so no candidate ever wins;
      // degrade to index order instead of crashing the job on taken(-1)
      if (best < 0) {
        var c2 = 0
        while (c2 < cent.length && taken(c2)) c2 += 1
        best = c2
      }
      taken(best) = true
      out(s) = best
      s += 1
    }
    out
  }

  /** Allocation-free single-nearest centroid — SAME selection rule as
    * `topCentroids(cent, v, 1).head` (highest dot, first index on
    * ties, index 0 when every dot is NaN) without the per-call
    * taken/out arrays, which are pure garbage when called once per
    * row of a corpus-scale scan (the ivf-pq encode path). */
  @inline private[similarity] def nearestCentroid(
      cent: Array[Array[Double]], v: Array[Double]): Int = {
    var best = -1
    var bestD = Double.NegativeInfinity
    var c = 0
    while (c < cent.length) {
      val d = dot(cent(c), v)
      if (d > bestD) { bestD = d; best = c }
      c += 1
    }
    if (best < 0) 0 else best // all-NaN: degrade to index 0, as above
  }

  /** Embedding near-dup PAIRS without a precomputed banding label —
    * the unbanded scale path complementing the label-banded
    * q_dedup_embed: every vector is assigned to its `nProbe` nearest
    * IVF centroids (multi-probe, so pairs split by a Voronoi boundary
    * still co-bucket), candidate pairs are generated per bucket by an
    * equi-self-join, scored EXACTLY with the codegen'd cosine_sim, and
    * deduped (a pair can share up to nProbe buckets). Precision is 1
    * by construction — every emitted pair carries its true cosine —
    * only recall is approximate (misses need all nProbe probes of both
    * sides disjoint; measured >= 0.9 on planted clusters in
    * EmbedIvfSpec). At 10^9 vectors the pair work is Σ bucket² instead
    * of corpus², the same bound IVF gives the top-k path. */
  def ivfNearDupPairs(emb: DataFrame, minCos: Double,
      nCentroids: Int, nProbe: Int = 2,
      /** Buckets above this size are salt-split before the self-join —
        * the skew guard MinHash gets from its df cap. One dense region
        * (exactly what a duplicate-heavy corpus has) otherwise lands
        * its whole quadratic pair work on ONE join task. The salt
        * scheme (left side hash-salted into ceil(n/cap) parts, right
        * side replicated to every salt) changes NOTHING about which
        * pairs are compared — recall and precision are bit-identical
        * to the uncapped join — it only bounds the left group feeding
        * any single task at `bucketCap` rows, spreading the bucket's
        * irreducible work across ceil(n/cap) tasks. (A 2nd-nearest-
        * centroid sub-key was tried and rejected: with centroids
        * sampled from the corpus, a dense region yields several
        * near-identical centroids and the 2nd-nearest rank becomes
        * noise, scattering exactly the duplicate groups the query
        * exists to find — measured recall 0.25 in EmbedIvfSpec.) */
      bucketCap: Int = 100000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (a, b) = saltedSides(emb, nCentroids, nProbe, bucketCap)
    a.join(b, Seq("bucket", "salt"))
      .filter($"id_a" < $"id_b")
      .withColumn("cos_raw", expr("cosine_sim(va, vb)"))
      .filter($"cos_raw" >= minCos)
      // co-probed pairs appear once per shared bucket: dedup; cosine is
      // identical across duplicates (same exact computation)
      .groupBy($"id_a", $"id_b")
      .agg(round(first($"cos_raw"), 4).as("cosine"))
      .orderBy($"id_a", $"id_b")
  }

  /** The two salted join sides behind [[ivfNearDupPairs]], both
    * (bucket, salt, id_?, v?) — the per-bucket-VARIABLE-salt form of
    * the skew pattern [[graft.operators.SaltedJoin]] applies to fixed
    * hot keys. Buckets at-or-under `bucketCap` use a
    * single salt 0; a bucket of n > bucketCap rows gets S = ceil(n /
    * bucketCap) salts — the LEFT side keeps one row per member (salt =
    * xxhash64(id) mod S, so each left group is ~bucketCap rows), the
    * RIGHT side replicates each member to all S salts. Every
    * same-bucket pair therefore meets in exactly one salt group, in
    * both orientations, exactly as in the unsalted join. cache(): the
    * size scan + both sides read the bucketed frame; pinned in query
    * scope ([[graft.Memo.releaseQuery]] frees it). Package-visible so
    * EmbedIvfSpec can assert the split structure directly. */
  private[similarity] def saltedSides(emb: DataFrame, nCentroids: Int,
      nProbe: Int, bucketCap: Int): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val typed = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
    val bcCent = spark.sparkContext.broadcast(sampleCentroids(emb, nCentroids))
    val bucketed = typed.flatMap { case (id, raw) =>
      val v = normalize(raw)
      topCentroids(bcCent.value, v, nProbe).iterator.map(b => (b, id, raw))
    }.toDF("bucket", "id", "embedding").cache()
    retainedBucketFrames.add(bucketed)

    // salt counts per oversize bucket: O(nCentroids) rows to the driver
    val saltCount: Map[Int, Int] = bucketed.groupBy($"bucket").count()
      .filter($"count" > bucketCap).select($"bucket", $"count")
      .as[(Int, Long)].collect()
      .map { case (bk, n) => bk -> ((n + bucketCap - 1) / bucketCap).toInt }
      .toMap
    val salts =
      if (saltCount.isEmpty) lit(1)
      else coalesce(element_at(typedLit(saltCount), $"bucket"), lit(1))

    val a = bucketed.select($"bucket",
      pmod(xxhash64($"id"), salts).cast("int").as("salt"),
      $"id".as("id_a"), $"embedding".as("va"))
    val b = bucketed.select($"bucket",
      explode(sequence(lit(0), salts - 1)).as("salt"),
      $"id".as("id_b"), $"embedding".as("vb"))
    (a, b)
  }

  // bucketed frames pinned by ivfNearDupPairs calls: query-scoped
  // (graft.Memo), plain cache so release is safe at any point
  private val retainedBucketFrames = graft.Memo.frames()

  /** Top-k probed-bucket neighbors for each query id.
    * `emb`: (vec_id: Long, embedding: Array[Float]). Queries are rows
    * of the same corpus (excluded from their own result). */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nCentroids: Int, nProbe: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val typed = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]

    val bcCent = spark.sparkContext.broadcast(sampleCentroids(emb, nCentroids))

    def nearestBuckets(v: Array[Double], n: Int): Array[Int] =
      topCentroids(bcCent.value, v, n)

    // queries: tiny collect + broadcast of (qid, unit vector, probe set)
    val qSet = queryIds.toSet
    val queries = typed.filter(t => qSet.contains(t._1))
      .map { case (id, v) => (id, normalize(v)) }.collect()
    val bcQ = spark.sparkContext.broadcast(
      queries.map { case (id, v) => (id, v, nearestBuckets(v, nProbe).toSet) })

    // narrow candidate generation: assign bucket, emit (query, cosine)
    // for every query probing that bucket
    val cands = typed.mapPartitions { it =>
      val cent = bcCent.value
      val qs = bcQ.value
      it.flatMap { case (id, raw) =>
        val v = normalize(raw)
        var best = 0
        var bestD = Double.NegativeInfinity
        var c = 0
        while (c < cent.length) {
          val d = dot(cent(c), v)
          if (d > bestD) { bestD = d; best = c }
          c += 1
        }
        qs.iterator.collect {
          case (qid, qv, probes) if probes.contains(best) && qid != id =>
            (qid, id, dot(qv, v))
        }
      }
    }

    // one small shuffle: top-k per query via the O(k)-memory heap — a
    // probed bucket at 10^9 vectors is millions of candidates for one
    // query; the group iterator must never materialize whole
    cands.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val top = new BoundedTopK(k)
        it.foreach { case (_, id, cos) => top.offer(id, cos) }
        top.result().iterator.zipWithIndex.map { case ((id, cos), r) =>
          Neighbor(qid, id, math.round(cos * 10000) / 10000.0, r + 1)
        }
      }
      .toDF()
      .orderBy($"query_id", $"rank")
  }
}
