package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fixtures

/** LLM-training-data pipeline operators over documents/embeddings
  * (SURVEY.md §2.2 dedup/similarity/text rows) — the ORACLE-checkable
  * subset. The hash-seeded MinHash-LSH near-dedup is NATIVE and lives
  * in graft.text (q_dedup_minhash); q_dedup_ngram below is its exact
  * small-SF oracle.
  *
  * Scale design: exact dedup is a hash groupBy (one shuffle on the
  * normalized-text hash); brute-force top-k is a broadcast of the single
  * query vector; the n-gram Jaccard join shuffles on shingle — all
  * shapes that survive a 1000-executor fan-out unchanged. */
object PipelineQueries {

  /** Exact dedup on normalized text. Deterministic representative
    * (min doc_id) rather than dropDuplicates' arbitrary row. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.documents(spark, sfDir)
      .withColumn("norm", lower(trim($"text")))
      .groupBy(md5($"norm").as("text_md5"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  val dedupExactSql: String =
    """SELECT md5(lower(trim(text))) AS text_md5,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin

  /** Cross-source contamination by PREFIX fingerprint: for every
    * source pair, how many normalized 64-char document prefixes they
    * share — the decontamination / shared-boilerplate question a
    * training-data pipeline asks before mixing corpora ("do src A and
    * src B open documents the same way?"). Prefix fingerprints rather
    * than full-text hashes because contamination rarely survives
    * verbatim (trailing edits, appended footers); the prefix is the
    * stable part. One shuffle on the fingerprint; the per-pair matrix
    * is at most |sources|², tiny. */
  def dedupCrossSource(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // One pass instead of a self-join (guide §2.3, r21): the self-join
    // consumed the uncached sigs frame twice — two corpus scans + two
    // distinct aggs + the sig exchange twice (no ReuseExchange; the
    // sides canonicalize differently). Collecting the distinct sources
    // per sig ONCE and expanding C(k,2) pairs locally yields the
    // identical pair multiset: the set is sorted so src_a < src_b by
    // construction, and k is bounded by the SOURCE count
    // (metadata-scale), never by the corpus.
    Fixtures.documents(spark, sfDir)
      .select(md5(lower(trim(substring($"text", 1, 64)))).as("sig"), $"source")
      .distinct()
      .groupBy($"sig")
      .agg(sort_array(collect_set($"source")).as("srcs"))
      .filter(size($"srcs") >= 2)
      .select(explode(expr(
        """flatten(transform(srcs, (x, i) ->
          |  transform(slice(srcs, i + 2, size(srcs) - i - 1), y ->
          |    struct(x AS src_a, y AS src_b))))""".stripMargin)).as("p"))
      .select($"p.src_a", $"p.src_b")
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"src_a", $"src_b")
  }

  val dedupCrossSourceSql: String =
    """WITH s AS (SELECT DISTINCT md5(lower(trim(substr(text, 1, 64)))) AS sig, source FROM documents)
      |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |FROM s a JOIN s b ON a.sig = b.sig AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  /** Max shingle document frequency: trigrams appearing in more docs
    * than this are boilerplate and are dropped from the Jaccard universe
    * on BOTH engines. This is what bounds the pair blow-up: pair work is
    * Σ df² over shingles, so capping df caps the quadratic term — the
    * standard stop-shingle trick for near-dup mining at corpus scale. */
  val NgramDfCap = 100

  // one cached shingle universe per (session, sfDir), query-scoped
  // (graft.Memo): dedupNgram and dedupMinhash both consume it — without
  // memoization each call would cache its own identical copy and
  // recompute the shingling. Values hold BOTH cached frames (kept join
  // + raw exploded) so release can unpersist everything the build pinned.
  private val shingleCache = graft.Memo.query[(DataFrame, DataFrame)] {
    case (kept, ex) =>
      kept.unpersist(blocking = false)
      ex.unpersist(blocking = false)
  }

  /** (doc_id, shingle) rows: distinct word trigrams per doc, with
    * boilerplate shingles (df > NgramDfCap) dropped — the shared
    * shingle universe of the exact-Jaccard oracle AND the MinHash-LSH
    * path (graft.text.MinHashLSH), so LSH recall is measured against
    * the identical definition. Cached: reused 3× within dedupNgram and
    * again by the LSH query. */
  def keptShingles(spark: SparkSession, sfDir: String): DataFrame =
    shingleCache(spark, sfDir) { case (s, d) => buildKeptShingles(s, d) }._1

  /** Unpersist and drop every memoized shingle universe
    * ([[graft.Memo.releaseQuery]] frees these along with every other
    * query-scoped pin). */
  def evictShingleCache(): Unit = shingleCache.release()

  private def buildKeptShingles(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    // Shingling is a typed flatMap (the Generator surface, SURVEY §2.2
    // row 33), NOT a SQL transform(sequence(...), lambda) expression:
    // higher-order-function lambdas evaluate interpreted per element —
    // measured 14.4s of the 16s dedup path at sf0.1, vs <1s for this
    // flatMap doing identical work.
    val ex = Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.trim.toLowerCase(java.util.Locale.ROOT).split(" ")
        if (w.length < 3) Iterator.empty
        else {
          val seen = new java.util.HashSet[String]()
          (0 to w.length - 3).iterator
            .map(i => w(i) + " " + w(i + 1) + " " + w(i + 2))
            .filter(seen.add)
            .map(sh => (id, sh))
        }
      }
      .toDF("doc_id", "shingle")
      // (doc, shingle) rows are reused 3× (pairs a/b + sizes): cache
      // once instead of re-shingling the corpus per use.
      .cache()
    val kept = ex.groupBy($"shingle")
      .agg(count(lit(1)).as("df"))
      .filter($"df" <= NgramDfCap)
      .select($"shingle")
    (ex.join(kept, Seq("shingle")).cache(), ex)
  }

  /** Co-occurrence counts (id_a < id_b, n_common) over the kept
    * shingle universe — the Σ df² pair stage shared by q_dedup_ngram
    * and q_dedup_containment. r21 shipped this as an equi-SELF-JOIN on
    * shingle: two reads of the cached universe, join machinery, and
    * Σ df² raw pair rows assembled by the join. The per-shingle doc
    * list is bounded by [[NgramDfCap]] (= 100), so collecting the
    * sorted list ONCE and expanding C(k, 2) locally (the proven
    * q_dedup_cross_source trick, guide §2.3/§2.4) yields the identical
    * pair multiset — ascending list ⇒ id_a < id_b by construction —
    * from ONE read, no join, and map-side partial counting before the
    * pair exchange. The expansion is a typed flatMap, not a nested SQL
    * transform(): HOF lambdas evaluate interpreted per element (the
    * 14.4 s shingling lesson above) and k reaches 100 ⇒ 4950 structs
    * per hot shingle. */
  private[queries] def shingleCooccur(keptEx: DataFrame): DataFrame = {
    val spark = keptEx.sparkSession
    import spark.implicits._
    keptEx.groupBy($"shingle")
      .agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") >= 2)
      .select($"ids").as[Seq[Long]]
      .flatMap { ids =>
        val a = ids.toArray
        java.util.Arrays.sort(a)
        for {
          i <- a.indices.iterator
          j <- (i + 1) until a.length
        } yield (a(i), a(j))
      }
      .toDF("id_a", "id_b")
      .groupBy($"id_a", $"id_b")
      .agg(count(lit(1)).as("n_common"))
  }

  /** Exact n-gram (word trigram) Jaccard near-dup pairs — the
    * hash-free oracle for the MinHash path: J(a,b) >= 0.35 on distinct
    * shingle sets with df <= NgramDfCap. Shuffle key = shingle, so the
    * pair stage is equi at scale, and the df cap bounds every bucket
    * (see [[shingleCooccur]]). */
  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val keptEx = keptShingles(spark, sfDir)
    val sizes = keptEx.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = shingleCooccur(keptEx)
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      // Filter on the UNROUNDED ratio (the oracle does too); round only
      // in the projected column — a ratio in [0.34995, 0.35) must be
      // dropped by both engines, not kept by one.
      .filter($"n_common".cast("double") / ($"n_a" + $"n_b" - $"n_common") >= 0.35)
      .withColumn("jaccard", round($"n_common".cast("double") /
        ($"n_a" + $"n_b" - $"n_common"), 4))
      .select($"id_a", $"id_b", $"n_common", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }

  val dedupNgramSql: String =
    """WITH sh AS (
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
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM kx a JOIN kx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, n_common,
      |  round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** Brute-force cosine top-k: 5 nearest neighbors of vec_id 0. The
    * single query vector joins via broadcast (crossJoin of a 1-row df);
    * at scale this is the exact-rerank baseline under the IVF path. */
  def simTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = Fixtures.embeddings(spark, sfDir)
    // cosine_sim recomputes the (constant) query norm per scanned row —
    // a known redundancy kept deliberately: the fused expression's
    // formulation must stay bit-identical to the DuckDB oracle's
    // dot/(sqrt*sqrt), and factoring the query norm out would change
    // the rounding boundary. At 64 dims the redundant norm is ~1/3 of
    // an already-memory-bound scan.
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    emb.crossJoin(broadcast(q))
      .filter($"vec_id" =!= 0)
      // native codegen'd expression (graft.functions.CosineSim) — one
      // fused loop; dot/(sqrt*sqrt) formulation is bit-identical to
      // the HOF/DuckDB form (CosineSimSpec)
      .withColumn("cosine", round(expr("cosine_sim(embedding, q_emb)"), 4))
      .select($"vec_id", $"cosine")
      .orderBy($"cosine".desc, $"vec_id")
      .limit(5)
  }

  val simTopkSql: String =
    """WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(
      |    list_sum(list_transform(list_zip(embedding, q_emb), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine
      |FROM embeddings, q WHERE vec_id <> 0
      |ORDER BY cosine DESC, vec_id LIMIT 5""".stripMargin

  /** Token frequency over documents (split → explode → count). */
  def textTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.documents(spark, sfDir)
      .select(explode(split(lower($"text"), " ")).as("token"))
      .filter(length($"token") > 0)
      .groupBy($"token")
      .agg(count(lit(1)).as("tf"))
      .orderBy($"tf".desc, $"token")
      .limit(50)
  }

  val textTokensSql: String =
    """SELECT token, count(*) AS tf FROM (
      |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
      |WHERE length(token) > 0
      |GROUP BY token ORDER BY tf DESC, token LIMIT 50""".stripMargin

  /** URL canonicalization + dedup — the other exact-dedup axis of a
    * crawl corpus: the same page arrives as `HTTPS://WWW.Example.com/
    * Path/?utm_source=...#frag` and `https://www.example.com/Path`,
    * and only canonical-URL grouping collapses them. URLs are PLANTED
    * deterministically from doc_id (case-noised host, tracking params,
    * fragments; collisions by construction), canonicalized with the
    * same regex steps on both engines — lowercase the host, keep the
    * path, drop query + fragment + trailing slash — then grouped.
    * Narrow string ops + one groupBy shuffle at any scale. */
  def dedupUrl(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.documents(spark, sfDir)
      .withColumn("url",
        concat(
          when($"doc_id" % 2 === 0, "https://WWW.Example")
            .otherwise(lit("https://www.example")),
          ($"doc_id" % 7).cast("string"), lit(".com/Path/"),
          ($"doc_id" % 50).cast("string"),
          when($"doc_id" % 3 === 0, "/?utm_source=feed&id=")
            .otherwise(lit("?id=")),
          $"doc_id", lit("#sec")))
      .withColumn("host", lower(regexp_extract($"url", "^https?://([^/?#]+)", 1)))
      .withColumn("path",
        rtrim(regexp_extract($"url", "^https?://[^/?#]+([^?#]*)", 1), "/"))
      .withColumn("canonical", concat(lit("https://"), $"host", $"path"))
      .groupBy($"canonical")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"))
      .orderBy($"canonical")
  }

  val dedupUrlSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.Example'
      |          ELSE 'https://www.example' END) ||
      |    CAST(doc_id % 7 AS VARCHAR) || '.com/Path/' ||
      |    CAST(doc_id % 50 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&id='
      |          ELSE '?id=' END) ||
      |    CAST(doc_id AS VARCHAR) || '#sec' AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    'https://' ||
      |    lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) ||
      |    rtrim(regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1), '/')
      |      AS canonical
      |  FROM u)
      |SELECT canonical, count(*) AS n_docs, min(doc_id) AS min_doc
      |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin

  /** URL quality filtering — the FETCH-LIST curation stage that runs
    * before a crawler spends bandwidth (CCNet/RefinedWeb-style URL
    * rules): parse each URL and reject, first matching reason wins,
    *   scheme    — not http(s),
    *   domain    — block-listed host suffix (.spam.com here),
    *   binary    — asset extensions a text pipeline never wants,
    *   depth     — path nesting > 5 (calendar/faceted-nav traps),
    *   params    — > 3 query params (session/tracking explosions).
    * URLs are synthesized from doc_id with every hazard planted (same
    * convention as q_dedup_url), and BOTH engines parse the actual
    * string — scheme/host/path/extension via regexp, depth and param
    * counts by character arithmetic — so the oracle verifies the
    * parsing, not just the plant. Narrow map + one rollup groupBy. */
  /** The synthesized fetch list shared by the crawl-curation trio
    * (q_filter_url / q_crawl_robots / q_crawl_schedule): every URL
    * parsed back from its string form with scheme/host/path/ext and
    * the depth/param counts, plus the first-match-wins filter
    * verdict. host_num rides along so per-host policy (robots
    * variants, crawl delays) derives without re-parsing. */
  private[queries] def crawlUrls(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val url = concat(
      when($"doc_id" % 31 === 0, "ftp://").otherwise(lit("https://")),
      lit("www.site"), ($"doc_id" % 11).cast("string"),
      when(($"doc_id" % 11).isin(4, 7), ".spam").otherwise(lit("")),
      lit(".com"),
      repeat(lit("/part"), (($"doc_id" % 8) + 1).cast("int")),
      lit("/page"),
      when($"doc_id" % 13 === 0, ".jpg").otherwise(lit(".html")),
      when($"doc_id" % 6 === 0, "?a=1&b=2&c=3&d=4")
        .when($"doc_id" % 6 === 3, "?a=1").otherwise(lit("")))
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", ($"doc_id" % 11).cast("int").as("host_num"),
        url.as("url"))
      .withColumn("scheme", regexp_extract($"url", "^([a-z]+)://", 1))
      .withColumn("host", regexp_extract($"url", "^[a-z]+://([^/?#]+)", 1))
      .withColumn("path", regexp_extract($"url", "^[a-z]+://[^/?#]+([^?#]*)", 1))
      .withColumn("ext", regexp_extract($"path", "\\.([a-z0-9]+)$", 1))
      .withColumn("depth",
        (length($"path") - length(regexp_replace($"path", "/", ""))))
      .withColumn("params",
        when(instr($"url", "?") === 0, 0)
          .otherwise(length(regexp_replace($"url", "[^&]", "")) + 1))
      .withColumn("verdict",
        when($"scheme" =!= "http" && $"scheme" =!= "https", "bad_scheme")
          .when($"host".endsWith(".spam.com"), "blocked_domain")
          .when($"ext".isin("jpg", "png", "gif", "exe", "zip"), "binary_ext")
          .when($"depth" > 5, "too_deep")
          .when($"params" > 3, "too_many_params")
          .otherwise(lit("kept")))
  }

  def filterUrl(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    crawlUrls(spark, sfDir)
      .groupBy($"verdict")
      .agg(count(lit(1)).as("n"), min($"doc_id").as("min_doc"))
      .orderBy($"verdict")
  }

  /** Per-host robots.txt bodies for the fetch list — three policy
    * variants cycling by host number, chosen to exercise the REP
    * corners RobotsSpec pins: wildcard-vs-anchor precedence by
    * pattern length (v0), a crawler-specific group overriding the
    * `*` group plus query-string blocking (v1), and an
    * empty-Disallow allow-all group beside a blocked stranger (v2). */
  private[queries] def robotsBody(hostNum: Int): String = (hostNum % 3) match {
    case 0 =>
      """# v0: precedence between a deep-path block and an anchored allow
        |User-agent: *
        |Disallow: /part/part/part
        |Allow: /*/page.html$
        |Crawl-delay: 2
        |""".stripMargin
    case 1 =>
      """User-agent: graftbot
        |Disallow: /*?
        |Crawl-delay: 1
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin
    case _ =>
      """User-agent: otherbot
        |Disallow: /
        |
        |User-agent: graftbot
        |Disallow:
        |""".stripMargin
  }

  /** Crawl-policy gate — RFC 9309 robots.txt decisions over the
    * fetch list, the stage between URL-quality filtering and the
    * fetch itself (q_crawl_warc ingests what survives). Policies are
    * parsed ONCE on the driver (one robots.txt per host — metadata
    * scale by construction: a crawl frontier has orders of magnitude
    * fewer hosts than URLs) and broadcast; the decision is a narrow
    * map, and the per-host rollup is the only shuffle. NATIVE: the
    * wildcard/anchor/longest-match precedence engine is Scala-side
    * (RobotsSpec pins RFC vectors + a differential property vs a
    * regex-compiled reference matcher). */
  def crawlRobots(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val policies: Map[Int, Vector[graft.text.Robots.Group]] =
      (0 until 11).map(h => h -> graft.text.Robots.parse(robotsBody(h))).toMap
    val bc = spark.sparkContext.broadcast(policies)
    crawlUrls(spark, sfDir)
      // rules match on path + query (fragments never reach the server)
      .withColumn("pathq", regexp_extract($"url", "^[a-z]+://[^/]+(/.*)$", 1))
      .select($"doc_id", $"host_num", $"host", $"pathq")
      .as[(Long, Int, String, String)]
      .map { case (id, hn, host, pathq) =>
        val d = graft.text.Robots.decide(bc.value(hn), "graftbot/1.0", pathq)
        (id, hn, host, d.allowed, d.matched, d.crawlDelay.getOrElse(-1.0))
      }
      .toDF("doc_id", "host_num", "host", "allowed", "matched", "delay_s")
      .groupBy($"host")
      .agg(max($"host_num" % 3).as("variant"),
        count(lit(1)).as("n_urls"),
        sum(when($"allowed", 1L).otherwise(0L)).as("n_allowed"),
        sum(when($"allowed", 0L).otherwise(1L)).as("n_blocked"),
        max($"delay_s").as("delay_s"),
        min(when(!$"allowed", $"doc_id")).as("first_blocked"),
        array_join(array_sort(collect_set(when(!$"allowed", $"matched"))), "|")
          .as("block_patterns"))
      .orderBy($"host")
  }

  /** Politeness scheduling — turn the filter-kept fetch list into a
    * per-host timeline: each host serves 2 parallel connections with
    * its own crawl delay (1 + host_num % 3 seconds between requests
    * per connection), so URL i of a host fetches at
    * t = ((rank-1) div 2) * delay. Reported per host: list size,
    * delay, makespan, and the busiest 10-second bucket — the numbers
    * a frontier scheduler balances shard assignments with. Shape at
    * 100 TB: one window keyed on host (the natural partition key of
    * a frontier) + two metadata-scale rollups; all-integer
    * arithmetic, so the DuckDB twin matches exactly. */
  def crawlSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val kept = crawlUrls(spark, sfDir).filter($"verdict" === "kept")
      .withColumn("delay_s", ($"host_num" % 3 + 1).cast("long"))
    val w = Window.partitionBy($"host").orderBy($"doc_id")
    val timed = kept.withColumn("rank", row_number().over(w))
      .withColumn("t_s", expr("((rank - 1) div 2) * delay_s"))
      .withColumn("bucket", expr("t_s div 10"))
    // Per-host stats and the busiest bucket both come off ONE
    // (host, bucket) rollup (guide §2.4, r21): the two-consumer shape
    // re-ran the regex-heavy URL lineage twice and joined the halves
    // back. The rollup keeps max(t_s)/max(delay_s) per bucket, so the
    // host-level numbers are window aggregates over the
    // hosts×buckets-scale frame — and groupBy(host, bucket) after the
    // host-partitioned rank window adds NO exchange.
    val wb = Window.partitionBy($"host")
      .orderBy(desc("busy_n"), asc("bucket"))
    val wh = Window.partitionBy($"host")
    timed.groupBy($"host", $"bucket")
      .agg(count(lit(1)).as("busy_n"), max($"t_s").as("mx"),
        max($"delay_s").as("dl"))
      .withColumn("rn", row_number().over(wb))
      .withColumn("n_urls", sum($"busy_n").over(wh))
      .withColumn("delay_s", max($"dl").over(wh))
      .withColumn("makespan_s", max($"mx").over(wh))
      .filter($"rn" === 1)
      .select($"host", $"n_urls", $"delay_s", $"makespan_s",
        $"bucket".as("busy_bucket"), $"busy_n")
      .orderBy($"host")
  }

  val crawlScheduleSql: String =
    """WITH u AS (
      |  SELECT doc_id, CAST(doc_id % 11 AS INT) AS host_num,
      |    (CASE WHEN doc_id % 31 = 0 THEN 'ftp://' ELSE 'https://' END) ||
      |    'www.site' || CAST(doc_id % 11 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 11 IN (4, 7) THEN '.spam' ELSE '' END) ||
      |    '.com' || repeat('/part', CAST(doc_id % 8 AS INT) + 1) || '/page' ||
      |    (CASE WHEN doc_id % 13 = 0 THEN '.jpg' ELSE '.html' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '?a=1&b=2&c=3&d=4'
      |          WHEN doc_id % 6 = 3 THEN '?a=1' ELSE '' END) AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, host_num, url,
      |    regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
      |    regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
      |    regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path
      |  FROM u),
      |q AS (
      |  SELECT doc_id, host_num, scheme, host, path,
      |    regexp_extract(path, '\.([a-z0-9]+)$', 1) AS ext,
      |    length(path) - length(regexp_replace(path, '/', '', 'g')) AS depth,
      |    CASE WHEN strpos(url, '?') = 0 THEN 0
      |         ELSE length(regexp_replace(url, '[^&]', '', 'g')) + 1 END
      |      AS params
      |  FROM p),
      |kept AS (
      |  SELECT doc_id, host_num, host, (host_num % 3 + 1) AS delay_s
      |  FROM q
      |  WHERE scheme IN ('http', 'https') AND host NOT LIKE '%.spam.com'
      |    AND ext NOT IN ('jpg', 'png', 'gif', 'exe', 'zip')
      |    AND depth <= 5 AND params <= 3),
      |timed AS (
      |  SELECT host, delay_s,
      |    ((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1) // 2)
      |      * delay_s AS t_s
      |  FROM kept),
      |per_host AS (
      |  SELECT host, count(*) AS n_urls, max(delay_s) AS delay_s,
      |    max(t_s) AS makespan_s
      |  FROM timed GROUP BY host),
      |buckets AS (
      |  SELECT host, t_s // 10 AS bucket, count(*) AS busy_n
      |  FROM timed GROUP BY host, t_s // 10),
      |busiest AS (
      |  SELECT host, bucket AS busy_bucket, busy_n,
      |    row_number() OVER (PARTITION BY host
      |      ORDER BY busy_n DESC, bucket) AS rn
      |  FROM buckets)
      |SELECT per_host.host, n_urls,
      |  CAST(per_host.delay_s AS BIGINT) AS delay_s,
      |  CAST(makespan_s AS BIGINT) AS makespan_s,
      |  CAST(busy_bucket AS BIGINT) AS busy_bucket, busy_n
      |FROM per_host JOIN busiest USING (host)
      |WHERE rn = 1 ORDER BY host""".stripMargin

  val filterUrlSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 31 = 0 THEN 'ftp://' ELSE 'https://' END) ||
      |    'www.site' || CAST(doc_id % 11 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 11 IN (4, 7) THEN '.spam' ELSE '' END) ||
      |    '.com' || repeat('/part', CAST(doc_id % 8 AS INT) + 1) || '/page' ||
      |    (CASE WHEN doc_id % 13 = 0 THEN '.jpg' ELSE '.html' END) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '?a=1&b=2&c=3&d=4'
      |          WHEN doc_id % 6 = 3 THEN '?a=1' ELSE '' END) AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, url,
      |    regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
      |    regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
      |    regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path
      |  FROM u),
      |q AS (
      |  SELECT doc_id, scheme, host, path,
      |    regexp_extract(path, '\.([a-z0-9]+)$', 1) AS ext,
      |    length(path) - length(regexp_replace(path, '/', '', 'g')) AS depth,
      |    CASE WHEN strpos(url, '?') = 0 THEN 0
      |         ELSE length(regexp_replace(url, '[^&]', '', 'g')) + 1 END
      |      AS params
      |  FROM p)
      |SELECT CASE
      |    WHEN scheme NOT IN ('http', 'https') THEN 'bad_scheme'
      |    WHEN host LIKE '%.spam.com' THEN 'blocked_domain'
      |    WHEN ext IN ('jpg', 'png', 'gif', 'exe', 'zip') THEN 'binary_ext'
      |    WHEN depth > 5 THEN 'too_deep'
      |    WHEN params > 3 THEN 'too_many_params'
      |    ELSE 'kept' END AS verdict,
      |  count(*) AS n, min(doc_id) AS min_doc
      |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  /** In-job observability: `observe()` attaches metric aggregates to a
    * running job — row counts, quality-gate counters, extrema — that
    * are collected AS THE JOB RUNS, not by a second pass over the
    * data. At 100 TB that second pass is exactly what a monitoring
    * query can't afford: here the pipeline action (a count over the
    * filtered frame) and the metrics (total rows seen pre-filter,
    * high-discount rows, date extrema) come out of ONE scan. ORACLE
    * since r18: the observed metrics row is plain aggregates, so the
    * DuckDB twin is the direct aggregation SQL — cross-engine proof
    * that observe() reports the true values; ObserveSpec retains the
    * same-scan law (metrics equal independently-computed aggregates
    * without a second pass). */
  def pipelineObserve(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    val li = Fixtures.lineitem(spark, sfDir)
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(when($"l_discount" > 0.05, 1L).otherwise(0L)).as("high_discount"),
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"))
    // the pipeline's real action: rows surviving the quality filter
    val kept = li.filter($"l_quantity" >= 10.0).count()
    val m = obs.get
    Seq((kept, m("rows_seen").asInstanceOf[Long],
      m("high_discount").asInstanceOf[Long],
      m("min_qty").asInstanceOf[Double], m("max_qty").asInstanceOf[Double]))
      .toDF("rows_kept", "rows_seen", "high_discount", "min_qty", "max_qty")
  }

  val pipelineObserveSql: String =
    """SELECT
      |  (SELECT count(*) FROM lineitem WHERE l_quantity >= 10.0)
      |    AS rows_kept,
      |  count(*) AS rows_seen,
      |  CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS high_discount,
      |  min(l_quantity) AS min_qty,
      |  max(l_quantity) AS max_qty
      |FROM lineitem""".stripMargin

  /** Corpus-level span dedup, the C4-style sibling of whole-document
    * dedup: chop each document into consecutive non-overlapping 8-word
    * spans, count how many DISTINCT documents each normalized span
    * occurs in corpus-wide, and report per-document the fraction of
    * its spans shared with at least one other document — the signal
    * behind "remove any three-sentence span occurring twice" rules.
    * Shape at 100 TB: explode is narrow, the span table groups on a
    * well-distributed hash-like key (spans), the doc re-aggregation
    * groups on doc_id — two honest shuffles, no quadratic term, and
    * span cardinality ≈ token count / 8. */
  def dedupSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val spans = Fixtures.documents(spark, sfDir)
      .withColumn("w", split(lower(trim($"text")), "\\s+"))
      .withColumn("span", explode(expr(
        "transform(sequence(0, greatest(size(w) div 8 - 1, 0)), i -> array_join(slice(w, i * 8 + 1, 8), ' '))")))
      .select($"doc_id", $"span")
    // aggregate BEFORE the span-keyed shuffle (guide §2.3, r21): one
    // (doc, span) pre-reduce makes the explode run ONCE and every
    // later operator ride multiplicity-carrying (doc, span, n) rows
    // instead of re-exploding the corpus per consumer branch (the
    // pre-r21 shape paid the explode twice — shared-counts branch +
    // join branch). Since g is unique per (doc, span), count(*) per
    // span IS the distinct-doc count, and the per-doc rollup recovers
    // the exact pre-r21 row counts from n_in_doc sums.
    val g = spans.groupBy($"doc_id", $"span")
      .agg(count(lit(1)).as("n_in_doc"))
    val shared = g.groupBy($"span")
      .agg(count(lit(1)).as("n_docs"))
      .where($"n_docs" >= 2)
    g.join(shared, Seq("span"), "left")
      .groupBy($"doc_id")
      .agg(sum($"n_in_doc").as("n_spans"),
        sum(when($"n_docs".isNotNull, $"n_in_doc").otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        round($"n_shared".cast("double") / $"n_spans", 4))
      .where($"n_shared" > 0)
      .select($"doc_id", $"n_spans", $"n_shared", $"shared_frac")
      .orderBy($"doc_id")
  }

  val dedupSpansSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, greatest(len(w) // 8 - 1, 0) + 1),
      |    i -> array_to_string(w[i * 8 + 1 : i * 8 + 8], ' '))) AS span
      |  FROM d),
      |g AS (
      |  SELECT span, count(DISTINCT doc_id) AS n_docs
      |  FROM s GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
      |j AS (
      |  SELECT s.doc_id, count(*) AS n_spans,
      |    CAST(sum(CASE WHEN g.n_docs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      |  FROM s LEFT JOIN g USING (span)
      |  GROUP BY s.doc_id)
      |SELECT doc_id, n_spans, n_shared,
      |  round(CAST(n_shared AS DOUBLE) / n_spans, 4) AS shared_frac
      |FROM j WHERE n_shared > 0 ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination — the eval-set overlap scrub every
    * training corpus runs before a model trains: any document sharing
    * a 5-word shingle with the held-out benchmark set (stand-in:
    * doc_id % 97 == 0, ~1% of the corpus) is flagged with its hit
    * count. Plan shape at 100 TB: the benchmark side is FIXED-SIZE →
    * its distinct shingles broadcast; the corpus side is one narrow
    * flatMap + a broadcast semi-ish join + one groupBy(doc_id) — no
    * corpus self-join anywhere. Planted near-dup pairs make some
    * contamination real in the fixture. */
  private[queries] def shingle5(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.trim.toLowerCase(java.util.Locale.ROOT).split(" ")
        if (w.length < 5) Iterator.empty
        else {
          val seen = new java.util.HashSet[String]()
          (0 to w.length - 5).iterator
            .map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)} ${w(i + 3)} ${w(i + 4)}")
            .filter(seen.add)
            .map(sh => (id, sh))
        }
      }
      .toDF("doc_id", "shingle")
  }

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Fixtures.documents(spark, sfDir)
    val bench = shingle5(spark, docs.filter($"doc_id" % 97 === 0))
      .select($"shingle").distinct()
    shingle5(spark, docs.filter($"doc_id" % 97 =!= 0))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits")) // shingles are per-doc distinct
      .orderBy($"doc_id")
  }

  /** q_decontaminate's 100 TB form: the benchmark shingle set rides as
    * a BLOOM FILTER, not an exact broadcast set — a real benchmark
    * suite's 5-gram universe is GBs as strings but MBs as a 1% -FPP
    * filter, and the corpus side drops from a broadcast JOIN to a
    * narrow mightContain FILTER (no join at all; candidate docs then
    * get the exact check only if a second pass wants it). Guarantee:
    * zero false NEGATIVES — every exact hit from q_decontaminate is
    * found; candidates are a small superset bounded by the configured
    * false-positive rate (DecontaminateBloomSpec measures both).
    * NATIVE: the filter's hash bits are engine-side. */
  def decontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Fixtures.documents(spark, sfDir)
    val bench = shingle5(spark, docs.filter($"doc_id" % 97 === 0))
      .select($"shingle").distinct()
    // sizing: expected items from a cheap count of the SMALL side; the
    // fpp knob trades filter MBs against second-pass work
    val nBench = math.max(bench.count(), 1L)
    val bloom = bench.stat.bloomFilter("shingle", nBench, 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    shingle5(spark, docs.filter($"doc_id" % 97 =!= 0))
      .as[(Long, String)]
      .filter(t => bc.value.mightContainString(t._2))
      .toDF("doc_id", "shingle")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_candidate_hits"))
      .orderBy($"doc_id")
  }

  val decontaminateSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS shingles
      |  FROM w WHERE len(w) >= 5),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |bench AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 97 = 0)
      |SELECT ex.doc_id, count(*) AS n_hits
      |FROM ex JOIN bench USING (shingle)
      |WHERE ex.doc_id % 97 <> 0
      |GROUP BY ex.doc_id ORDER BY doc_id""".stripMargin

  /** Maximal duplicated-RUN detection — the "remove any 50-token span
    * occurring twice" rule (Lee et al. 2022 exact-substring dedup) in
    * its distributed form: q_dedup_spans marks which 8-word spans are
    * shared corpus-wide; this query merges CONSECUTIVE shared spans
    * into maximal runs per document (classic gaps-and-islands:
    * span_idx − row_number is constant within a run) and reports each
    * doc's longest duplicated stretch in words. A doc whose max run
    * is ≥ 2 spans carries a ≥ 16-word verbatim duplicate — the actual
    * removal threshold a production pass would cut at. Shape at
    * 100 TB: the span-sharing shuffle q_dedup_spans already pays,
    * plus one per-doc window and two keyed aggs — no new quadratic
    * term anywhere. */
  def dedupSubstring(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val spans = Fixtures.documents(spark, sfDir)
      .withColumn("w", split(lower(trim($"text")), "\\s+"))
      .select($"doc_id", posexplode(expr(
        "transform(sequence(0, greatest(size(w) div 8 - 1, 0)), i -> array_join(slice(w, i * 8 + 1, 8), ' '))")))
      .toDF("doc_id", "span_idx", "span")
    // The distinct-doc count per span comes from WINDOWS over one span
    // exchange (max(dense_rank ordered by doc_id) == countDistinct),
    // not a groupBy + join back: the join-back shape fed the span frame
    // to two consumers, so the corpus explode ran twice and span rows
    // crossed a span-keyed exchange twice (guide §2.3; the q_dedup_spans
    // pre-reduce does not transfer here because gaps-and-islands needs
    // every (doc_id, span_idx) row, not (doc, span) multiplicities).
    val wSpanOrd = Window.partitionBy($"span").orderBy($"doc_id")
    val wSpan = Window.partitionBy($"span")
    val mine = spans
      .withColumn("n_docs", max(dense_rank().over(wSpanOrd)).over(wSpan))
      .where($"n_docs" >= 2)
      .withColumn("grp", $"span_idx" -
        row_number().over(Window.partitionBy($"doc_id").orderBy($"span_idx")))
    val runs = mine.groupBy($"doc_id", $"grp")
      .agg(count(lit(1)).as("run_len"),
        min($"span_idx").cast("long").as("run_start"))
    runs.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_runs"),
        sum($"run_len").as("n_shared_spans"),
        max($"run_len").as("max_run_spans"),
        (max($"run_len") * 8).as("max_run_words"),
        min(when($"run_len" >= 2, $"run_start")).as("first_long_run_at"))
      .where($"max_run_spans" >= 2)
      .orderBy($"doc_id")
  }

  val dedupSubstringSql: String =
    """WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    unnest(range(0, greatest(len(w) // 8 - 1, 0) + 1)) AS span_idx,
      |    unnest(list_transform(range(0, greatest(len(w) // 8 - 1, 0) + 1),
      |      i -> array_to_string(w[i * 8 + 1 : i * 8 + 8], ' '))) AS span
      |  FROM d),
      |g AS (
      |  SELECT span FROM s GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
      |mine AS (
      |  SELECT s.doc_id, s.span_idx,
      |    s.span_idx - row_number() OVER (
      |      PARTITION BY s.doc_id ORDER BY s.span_idx) AS grp
      |  FROM s JOIN g USING (span)),
      |runs AS (
      |  SELECT doc_id, grp, count(*) AS run_len, min(span_idx) AS run_start
      |  FROM mine GROUP BY doc_id, grp)
      |SELECT doc_id, count(*) AS n_runs,
      |  CAST(sum(run_len) AS BIGINT) AS n_shared_spans,
      |  max(run_len) AS max_run_spans,
      |  max(run_len) * 8 AS max_run_words,
      |  min(CASE WHEN run_len >= 2 THEN run_start END) AS first_long_run_at
      |FROM runs GROUP BY doc_id HAVING max(run_len) >= 2
      |ORDER BY doc_id""".stripMargin

  /** Incremental (delta) dedup — the PRODUCTION dedup shape: a new
    * batch arrives and is checked against the standing corpus's
    * fingerprint store, never re-clustering the whole corpus. The
    * arriving 20% (high-bit multiplicative hash split — doc_id % m
    * correlates with `source` in this fixture) anti-joins the
    * standing set on the normalized-text md5. Shape at 100 TB: the
    * fingerprint store is far too big to broadcast — this is an
    * honest shuffle join keyed on the hash itself (perfectly spread
    * by construction); only the DELTA's size drives the work. */
  def dedupDelta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val hashed = Fixtures.documents(spark, sfDir)
      .withColumn("sig", md5(lower(trim($"text"))))
      .withColumn("arriving",
        shiftright($"doc_id" * lit(2654435761L), 20) % 5 === 0)
    val standing = hashed.filter(!$"arriving")
      .select($"sig").distinct().withColumn("known", lit(true))
    hashed.filter($"arriving")
      .join(standing, Seq("sig"), "left")
      .select($"doc_id", $"sig",
        when($"known", "dup_of_corpus").otherwise(lit("new")).as("status"))
      .orderBy($"doc_id")
  }

  val dedupDeltaSql: String =
    """WITH h AS (
      |  SELECT doc_id, md5(lower(trim(text))) AS sig,
      |    ((doc_id * 2654435761) >> 20) % 5 = 0 AS arriving
      |  FROM documents),
      |standing AS (SELECT DISTINCT sig FROM h WHERE NOT arriving)
      |SELECT h.doc_id, h.sig,
      |  CASE WHEN standing.sig IS NOT NULL THEN 'dup_of_corpus'
      |       ELSE 'new' END AS status
      |FROM h LEFT JOIN standing USING (sig)
      |WHERE h.arriving ORDER BY h.doc_id""".stripMargin

  /** Asymmetric containment dedup — the axis symmetric Jaccard
    * misses: a short document wholly embedded in a longer one scores
    * low Jaccard (the union is large) but containment
    * |A∩B| / min(|A|,|B|) ≈ 1. The standard quote/excerpt/boilerplate-
    * wrapper detector. Same df-capped shingle universe and pair join
    * as q_dedup_ngram (the cached frame is shared — no extra
    * shingling, no extra quadratic term); only the verdict changes,
    * and the contained side is named (the smaller set). */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val keptEx = keptShingles(spark, sfDir)
    val sizes = keptEx.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = shingleCooccur(keptEx)
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("id_b"))
      .filter($"n_common".cast("double") / least($"n_a", $"n_b") >= 0.6)
      .withColumn("containment",
        round($"n_common".cast("double") / least($"n_a", $"n_b"), 4))
      .withColumn("contained_id",
        when($"n_a" <= $"n_b", $"id_a").otherwise($"id_b"))
      .select($"id_a", $"id_b", $"n_common", $"containment", $"contained_id")
      .orderBy($"id_a", $"id_b")
  }

  val dedupContainmentSql: String =
    """WITH sh AS (
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
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      |  FROM kx a JOIN kx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, n_common,
      |  round(CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4)
      |    AS containment,
      |  CASE WHEN sa.n_sh <= sb.n_sh THEN id_a ELSE id_b END AS contained_id
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_containment" -> (dedupContainment _),
    "q_dedup_substring" -> (dedupSubstring _),
    "q_dedup_delta" -> (dedupDelta _),
    "q_decontaminate" -> (decontaminate _),
    "q_decontaminate_bloom" -> (decontaminateBloom _),
    "q_pipeline_observe" -> (pipelineObserve _),
    "q_dedup_url" -> (dedupUrl _),
    "q_filter_url" -> (filterUrl _),
    "q_crawl_robots" -> (crawlRobots _),
    "q_crawl_schedule" -> (crawlSchedule _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_cross_source" -> (dedupCrossSource _),
    "q_dedup_ngram" -> (dedupNgram _),
    "q_dedup_spans" -> (dedupSpans _),
    "q_sim_topk" -> (simTopk _),
    "q_text_tokens" -> (textTokens _))

  val oracle: Map[String, String] = Map(
    "q_pipeline_observe" -> pipelineObserveSql,
    "q_dedup_containment" -> dedupContainmentSql,
    "q_dedup_substring" -> dedupSubstringSql,
    "q_dedup_delta" -> dedupDeltaSql,
    "q_decontaminate" -> decontaminateSql,
    "q_dedup_url" -> dedupUrlSql,
    "q_filter_url" -> filterUrlSql,
    "q_crawl_schedule" -> crawlScheduleSql,
    "q_dedup_exact" -> dedupExactSql,
    "q_dedup_cross_source" -> dedupCrossSourceSql,
    "q_dedup_ngram" -> dedupNgramSql,
    "q_dedup_spans" -> dedupSpansSql,
    "q_sim_topk" -> simTopkSql,
    "q_text_tokens" -> textTokensSql)
}
