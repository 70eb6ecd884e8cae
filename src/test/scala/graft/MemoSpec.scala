package graft

import graft.queries.{AnalyticsQueries, DedupQueries, TextQueries}

/** The two-scope memo registry: one [[Memo.releaseQuery]] frees what the
  * dedup family pins, a staged memo keeps exactly one entry and
  * rebuilds on a key switch, and nested staged builds complete from a
  * cold registry. */
class MemoSpec extends SparkSpec {

  test("one releaseQuery returns the dedup family's pinned storage") {
    val sc = spark.sparkContext
    Memo.releaseQuery() // drain anything earlier suites pinned
    val before = sc.getPersistentRDDs.size
    val runs = Seq[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame](
      DedupQueries.dedupClusters, DedupQueries.dedupMinhash,
      DedupQueries.dedupSimhash, DedupQueries.dedupEmbedIvf,
      DedupQueries.dedupSemantic)
    runs.foreach(q => assert(q(spark, sfDir).collect().nonEmpty))
    assert(sc.getPersistentRDDs.size > before, "expected pinned storage")
    Memo.releaseQuery()
    assert(sc.getPersistentRDDs.size == before,
      s"pinned RDDs left after releaseQuery: ${sc.getPersistentRDDs.size} vs $before")
  }

  test("a staged memo rebuilds on a key switch and holds one entry") {
    val builds = scala.collection.mutable.ArrayBuffer[String]()
    val unstaged = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val m = Memo.staged[String] { case ((_, d), v) => unstaged += d -> v }
    def get(d: String) = m(spark, d) { case (_, k) => builds += k; s"value-$k" }

    assert(get("a") == "value-a")
    assert(get("a") == "value-a")
    assert(builds == Seq("a"), "a repeated key must not rebuild")
    assert(get("b") == "value-b", "a second key must never see the first's value")
    assert(builds == Seq("a", "b"))
    assert(unstaged == Seq("a" -> "value-a"), "the key switch must release the old entry")
    assert(m.size == 1)
    // a new session is a new key too
    assert(m(spark.newSession(), "b") { _ => "other-session" } == "other-session")
    assert(m.size == 1)
  }

  test("nested staged builds complete from a cold registry") {
    // a fresh session is a key no staged memo holds, so the manifest
    // build stages the WARC shards inside its own build, and the eval
    // scores fit the split model inside theirs
    val cold = spark.newSession()
    val rows = spark.read.parquet(TextQueries.ensureWarcManifestRows(cold, sfDir))
    assert(rows.count() > 0)
    val scores = spark.read.parquet(AnalyticsQueries.ensureEvalScores(cold, sfDir))
    assert(scores.count() > 0)
  }
}
