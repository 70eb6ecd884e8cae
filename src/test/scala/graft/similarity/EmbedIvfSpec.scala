package graft.similarity

import graft.SparkSpec

/** Unbanded IVF near-dup pairs vs exact all-pairs on PLANTED clusters
  * (same generator shape as AnnSpec: the fixture embeddings are
  * near-uniform — no high-cosine pairs to find — so the guarantee is
  * proven on data that has structure). Precision must be exact (every
  * emitted pair carries its true cosine); recall is the approximate
  * part. */
class EmbedIvfSpec extends SparkSpec {

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def unit(seed: Long): Array[Double] = {
    val v = Array.tabulate(32)(j => mix(seed * 131 + j).toDouble / Long.MaxValue)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** 25 clusters × 24 points: point = centroid + small noise, so
    * within-cluster cosine ~0.95+ and cross-cluster well below. */
  def planted: Seq[(Long, Array[Float])] =
    for (c <- 0 until 25; p <- 0 until 24) yield {
      val cent = unit(c + 1)
      val noise = unit(c * 1000 + p + 7)
      val vec = cent.zip(noise).map { case (a, b) => a + 0.15 * b }
      ((c * 24 + p).toLong, vec.map(_.toFloat))
    }

  test("precision exact, recall >= 0.9 vs brute-force pairs at cos >= 0.9") {
    val s = spark
    import s.implicits._
    val data = planted
    val df = data.toDF("vec_id", "embedding")

    // brute-force truth on the driver (small planted set)
    def norm(v: Array[Float]) = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(_ / n)
    }
    val normed = data.map { case (id, v) => (id, norm(v)) }.toMap
    def cos(a: Long, b: Long): Double =
      normed(a).zip(normed(b)).map { case (x, y) => x * y }.sum
    val ids = data.map(_._1)
    val truth = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      if cos(ids(i), ids(j)) >= 0.9
    } yield (ids(i), ids(j))).toSet
    assert(truth.size > 100, s"planted data must contain many near-dup pairs, got ${truth.size}")

    val got = Ann.ivfNearDupPairs(df, minCos = 0.9, nCentroids = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    // precision 1: every emitted pair is a true pair with its true cosine
    for ((a, b, c) <- got) {
      assert(truth.contains((a, b)), s"false positive ($a,$b)")
      assert(math.abs(c - cos(a, b)) < 5e-4, s"cosine mismatch ($a,$b): $c vs ${cos(a, b)}")
    }
    // recall: multi-probe bucketing must catch nearly all true pairs
    val recall = got.count { case (a, b, _) => truth.contains((a, b)) }.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} true pairs")
  }

  test("dense planted cluster: bucket cap bounds join groups, recall intact") {
    val s = spark
    import s.implicits._
    // regular planted set + ONE dense region: 200 near-copies of a
    // single vector — the duplicate-heavy shape that makes an uncapped
    // bucket's pair work quadratic and its join key skewed
    val denseBase = 25 * 24
    val dense = (0 until 200).map { p =>
      val cent = unit(999)
      val noise = unit(5000 + p)
      val vec = cent.zip(noise).map { case (a, b) => a + 0.02 * b }
      ((denseBase + p).toLong, vec.map(_.toFloat))
    }
    val data = planted ++ dense
    val df = data.toDF("vec_id", "embedding")

    def norm(v: Array[Float]) = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(_ / n)
    }
    val normed = data.map { case (id, v) => (id, norm(v)) }.toMap
    def cos(a: Long, b: Long): Double =
      normed(a).zip(normed(b)).map { case (x, y) => x * y }.sum
    val ids = data.map(_._1)
    val truth = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      if cos(ids(i), ids(j)) >= 0.9
    } yield (ids(i), ids(j))).toSet
    assert(truth.size > 15000, s"dense cluster must dominate truth, got ${truth.size}")

    val cap = 64
    // split structure: the LEFT join side's (bucket, salt) groups are
    // what a single task consumes — hash-salting must bound them near
    // the cap even though the dense bucket has 200+ members
    val (left, right) = Ann.saltedSides(df, nCentroids = 20, nProbe = 2, bucketCap = cap)
    val leftGroups = left.groupBy($"bucket", $"salt")
      .agg(org.apache.spark.sql.functions.count("*").as("n")).collect()
    val maxLeft = leftGroups.map(_.getLong(2)).max
    assert(maxLeft <= 2L * cap,
      s"left join group of $maxLeft rows defeats the $cap cap")
    // the dense bucket actually tripped the cap (salts beyond 0 exist)
    assert(left.filter($"salt" > 0).count() > 0, "cap never tripped")
    // the right side replicates oversize-bucket members to every salt
    assert(right.count() > left.count(), "right side not replicated")

    // salting must change NOTHING about which pairs come back: the
    // capped result is bit-identical to the uncapped one
    val got = Ann.ivfNearDupPairs(df, minCos = 0.9, nCentroids = 20, bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val uncapped = Ann.ivfNearDupPairs(df, minCos = 0.9, nCentroids = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSet == uncapped.toSet, "capped result differs from uncapped")
    for ((a, b, c) <- got) {
      assert(truth.contains((a, b)), s"false positive ($a,$b)")
      assert(math.abs(c - cos(a, b)) < 5e-4, s"cosine mismatch ($a,$b)")
    }
    val recall = got.count { case (a, b, _) => truth.contains((a, b)) }.toDouble / truth.size
    assert(recall >= 0.9, s"capped recall $recall over ${truth.size} true pairs")
    graft.Memo.releaseQuery()
  }

  test("Memo.releaseQuery returns the pinned bucket storage to zero") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    graft.Memo.releaseQuery() // drain anything earlier tests pinned
    val before = sc.getPersistentRDDs.size
    val df = planted.toDF("vec_id", "embedding")
    Ann.ivfNearDupPairs(df, minCos = 0.9, nCentroids = 20).count()
    assert(sc.getPersistentRDDs.size > before, "expected pinned bucket frame")
    graft.Memo.releaseQuery()
    assert(sc.getPersistentRDDs.size == before, "bucket frames not released")
  }

  test("pair list is deduped and ordered") {
    val s = spark
    import s.implicits._
    val df = planted.toDF("vec_id", "embedding")
    val rows = Ann.ivfNearDupPairs(df, minCos = 0.9, nCentroids = 20).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length, "duplicate pairs")
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.sorted.sameElements(pairs), "not ordered by (id_a, id_b)")
  }
}
