package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Fixtures
import graft.text.{Bpe, LangId, Winnowing}

/** Text-analysis operators of the LLM-data pipeline: quality scoring
  * (ORACLE — pure string arithmetic both engines express identically),
  * heuristic language-ID and winnowing fingerprints (NATIVE — the
  * classifier tables / hash values are engine-side; correctness in
  * LangIdSpec / WinnowingSpec). Token counting is q_text_tokens in
  * PipelineQueries. */
object TextQueries {

  /** THE whitespace token count — shared by packing, mixture weights,
    * and any future consumer so the token definition cannot drift
    * between the corpus stats and the decisions made from them.
    * Oracle twin: `len(regexp_split_to_array(trim(text), '\s+'))`. */
  def tokenCount(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(split(trim(c), "\\s+")).cast("long")

  /** Per-document quality signals: word/BPE-ish token counts, distinct
    * ratio (soup repetition), stopword ratio, mean word length, and a
    * bounded composite score. All narrow ops over one scan — at 100 TB
    * this is a single map stage, no shuffle at all except the
    * oracle-imposed final sort. */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.documents(spark, sfDir)
      .withColumn("w", split(lower(trim($"text")), " "))
      .withColumn("n_words", size($"w").cast("long"))
      .withColumn("n_bpe",
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).cast("long"))
      // raw (unrounded) ratios; each output column is rounded exactly
      // once — feeding rounded values back into arithmetic parks sums on
      // .00005 boundaries where engine round() impls differ by 1 ulp
      .withColumn("dr", size(array_distinct($"w")).cast("double") / $"n_words")
      .withColumn("sr",
        size(expr("filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))"))
          .cast("double") / $"n_words")
      .withColumn("distinct_ratio", round($"dr", 4))
      .withColumn("stop_ratio", round($"sr", 4))
      .withColumn("avg_wlen",
        round(length(regexp_replace($"text", " ", "")).cast("double") / $"n_words", 4))
      .withColumn("quality_score",
        round(least($"n_words".cast("double") / 100.0, lit(1.0)) * 0.4 +
          $"sr" * 0.3 + $"dr" * 0.3, 4))
      .select($"doc_id", $"n_words", $"n_bpe", $"distinct_ratio",
        $"stop_ratio", $"avg_wlen", $"quality_score")
      .orderBy($"doc_id")
  }

  val textQualitySql: String =
    """WITH d AS (
      |  SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, text, w,
      |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dr,
      |    CAST(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE) / len(w) AS sr
      |  FROM d)
      |SELECT doc_id,
      |  len(w) AS n_words,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
      |  round(dr, 4) AS distinct_ratio,
      |  round(sr, 4) AS stop_ratio,
      |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w), 4) AS avg_wlen,
      |  round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4 + sr * 0.3 + dr * 0.3, 4) AS quality_score
      |FROM r ORDER BY doc_id""".stripMargin

  /** Heuristic language-ID vs the fixture's `lang` column: confusion
    * counts per (labelled, predicted). The fixture text is one shared
    * English-ish vocabulary, so the classifier legitimately predicts
    * 'en'/'und' everywhere — real multilingual behavior is asserted in
    * LangIdSpec on genuine sentences. ORACLE since r18 (the
    * eval-metrics staging pattern): the per-doc predictions are staged
    * as parquet — the n-gram tables stay engine-side — and DuckDB
    * re-derives the confusion rollup from the identical bytes, so the
    * dump/rollup leg is cross-engine while LangIdSpec keeps owning the
    * classifier itself. */
  private val langidStage = graft.Memo.staged[String]()

  private[graft] def ensureLangidPredictions(spark: SparkSession,
      sfDir: String): String =
    langidStage(spark, sfDir) { case (s, d) =>
      import s.implicits._
      val base = graft.TmpDirs.fixed("langid")
      Fixtures.documents(s, d)
        .select($"doc_id", $"lang", $"text").as[(Long, String, String)]
        .map { case (id, lang, text) => (id, lang, LangId.classify(text)) }
        .toDF("doc_id", "lang", "predicted")
        .coalesce(1).write.mode("overwrite").parquet(base)
      base
    }

  def textLangid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(ensureLangidPredictions(spark, sfDir))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"predicted")
  }

  def textLangidSql: String = {
    val base = graft.TmpDirs.fixed("langid")
    s"""SELECT lang, predicted, count(*) AS n_docs
      |FROM read_parquet('$base/*.parquet')
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Winnowing fingerprints per document: k-gram count, fingerprint
    * count, selection density (expected ≈ 2/(w+1)), and the min
    * fingerprint (stable doc identity). NATIVE (rolling-hash values). */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", lower(trim($"text")).as("t")).as[(Long, String)]
      .map { case (id, t) =>
        val kg = Winnowing.kgramHashes(t)
        val fp = Winnowing.fingerprints(t)
        (id, kg.length.toLong, fp.length.toLong,
          if (kg.isEmpty) 0.0 else math.round(fp.length.toDouble / kg.length * 10000) / 10000.0,
          if (fp.isEmpty) "" else java.lang.Long.toUnsignedString(fp.head, 16))
      }
      .toDF("doc_id", "n_kgrams", "n_fp", "density", "min_fp")
      .orderBy($"doc_id")
  }

  /** GPT-2-style pretokenizer regex — canonical definition in
    * [[graft.text.Bpe.PretokenPattern]] so the count estimator and the
    * real tokenizer cannot drift apart. The "how many BPE-ish tokens
    * is this document" estimator a training-data pipeline budgets
    * with. */
  val BpeishPattern: String = Bpe.PretokenPattern

  /** Per-document token counts: whitespace tokens AND BPE-ish
    * pretokenizer matches — both single-pass narrow maps. */
  def textTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Fixtures.documents(spark, sfDir)
      .selectExpr("doc_id",
        // BIGINT casts: DuckDB's len() is BIGINT and the driver compare
        // is type-strict
        "CAST(size(filter(split(text, ' '), x -> length(x) > 0)) AS BIGINT) AS n_ws_tokens",
        s"""CAST(size(regexp_extract_all(text, "$BpeishPattern", 0)) AS BIGINT) AS n_bpe_tokens""")
      .orderBy($"doc_id")
  }

  val textTokenCountSql: String = {
    val sqlPat = BpeishPattern.replace("'", "''")
    s"""SELECT doc_id,
       |  len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '$sqlPat')) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Email regex shared by both engines: ASCII char classes only —
    * identical semantics under Java regex and DuckDB's RE2 (no
    * lookaround, no shorthand classes whose Unicode width differs). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone regex (the fixture-planted +1-555-XXXX shape). */
  val PhonePattern = "\\+1-555-[0-9][0-9][0-9][0-9]"

  /** PII detection + redaction — the scrub pass every training-data
    * pipeline runs before anything ships. The fixtures are synthetic
    * word soup, so the PII is PLANTED deterministically (both engines
    * build the same contact string from doc_id, then detect and redact
    * it out of the combined text): detection = regexp count, redaction
    * = regexp_replace to a class tag. All narrow single-pass string
    * ops — at 100 TB this is a map stage with zero shuffle beyond the
    * oracle-imposed sort. DuckDB replaces first-match-only by default,
    * hence the 'g' flag; Java regexp_replace is always global. */
  def textPii(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.Fixtures.documents(spark, sfDir)
      .withColumn("msg",
        concat(lit("contact user"), $"doc_id", lit("@example.com or +1-555-"),
          lpad($"doc_id".cast("string"), 4, "0"), lit(" :: "),
          substring($"text", 1, 120)))
      .withColumn("redacted",
        regexp_replace(regexp_replace($"msg", EmailPattern, "[EMAIL]"),
          PhonePattern, "[PHONE]"))
      .select($"doc_id",
        regexp_count($"msg", lit(EmailPattern)).cast("long").as("n_emails"),
        regexp_count($"msg", lit(PhonePattern)).cast("long").as("n_phones"),
        length($"redacted").cast("long").as("redacted_len"),
        substring($"redacted", 1, 40).as("redacted_head"))
      .orderBy($"doc_id")
  }

  val textPiiSql: String = {
    // DuckDB single-quoted literals pass backslashes through verbatim,
    // so the Scala pattern strings embed unchanged
    val email = EmailPattern
    val phone = PhonePattern
    s"""WITH m AS (
       |  SELECT doc_id,
       |    'contact user' || doc_id || '@example.com or +1-555-' ||
       |    lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' :: ' ||
       |    substr(text, 1, 120) AS msg
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, msg,
       |    regexp_replace(regexp_replace(msg, '$email', '[EMAIL]', 'g'),
       |      '$phone', '[PHONE]', 'g') AS redacted
       |  FROM m)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(msg, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(msg, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(length(redacted) AS BIGINT) AS redacted_len,
       |  substr(redacted, 1, 40) AS redacted_head
       |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Gopher-style intra-document repetition signals: duplicate word /
    * 2-gram / 3-gram fractions plus the keep decision the quality
    * filter would take. Boilerplate and looped generations score high
    * and get dropped before training. Narrow per-row ops over one
    * scan — zero shuffles at any scale beyond the oracle-imposed
    * final sort. */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def dupFrac(col: String) =
      round(when(size(expr(col)) > 0,
        lit(1.0) - size(array_distinct(expr(col))).cast("double") /
          size(expr(col)).cast("double")).otherwise(lit(0.0)), 4)
    Fixtures.documents(spark, sfDir)
      .withColumn("w", split(lower(trim($"text")), " "))
      // element_at is 1-based; sequence() picks a NEGATIVE step when
      // stop < start, so short docs must short-circuit to empty
      .withColumn("g2", when(size($"w") >= 2, expr(
        "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .otherwise(array().cast("array<string>")))
      .withColumn("g3", when(size($"w") >= 3, expr(
        "transform(sequence(1, size(w) - 2), i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2)))"))
        .otherwise(array().cast("array<string>")))
      .withColumn("dup_word_frac", dupFrac("w"))
      .withColumn("dup_2gram_frac", dupFrac("g2"))
      .withColumn("dup_3gram_frac", dupFrac("g3"))
      .select($"doc_id", size($"w").cast("long").as("n_words"),
        $"dup_word_frac", $"dup_2gram_frac", $"dup_3gram_frac",
        ($"dup_word_frac" <= 0.3 && $"dup_2gram_frac" <= 0.2 &&
          $"dup_3gram_frac" <= 0.18).as("keep"))
      .orderBy($"doc_id")
  }

  val textRepetitionSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, w,
      |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]) AS g2,
      |    list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS g3
      |  FROM d),
      |r AS (
      |  SELECT doc_id, len(w) AS n_words,
      |    round(CASE WHEN len(w) > 0
      |      THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
      |      ELSE 0.0 END, 4) AS dup_word_frac,
      |    round(CASE WHEN len(g2) > 0
      |      THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
      |      ELSE 0.0 END, 4) AS dup_2gram_frac,
      |    round(CASE WHEN len(g3) > 0
      |      THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
      |      ELSE 0.0 END, 4) AS dup_3gram_frac
      |  FROM g)
      |SELECT doc_id, n_words, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
      |  (dup_word_frac <= 0.3 AND dup_2gram_frac <= 0.2 AND
      |   dup_3gram_frac <= 0.18) AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** Token-budget sequence packing: assign each document an offset in
    * a fixed-size context window stream (budget 2048 whitespace
    * tokens), packing greedily in doc_id order WITHIN EACH
    * (source, shard) — packing is inherently sequential within its
    * stream, so the scale unit is the shard (250 docs here, a file in
    * production): windows parallelize across shards where a per-source
    * (low-cardinality) or global pack would serialize into a handful
    * of giant partitions. pack_id = exclusive-prefix-sum div budget;
    * a document longer than the budget still gets a pack of its own. */
  /** The packing plan given per-doc token counts (a `tokens` column
    * alongside source/doc_id): one window per (source, shard). */
  private def packPlan(spark: SparkSession, docsWithTokens: DataFrame,
      budget: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docsWithTokens
      .withColumn("shard", expr("doc_id div 250").cast("long"))
      .withColumn("pre", coalesce(sum($"tokens").over(w), lit(0L)))
      .select($"source", $"shard", $"doc_id", $"tokens",
        ($"pre" / budget).cast("long").as("pack_id"),
        ($"pre" % budget).as("pack_offset"))
      .orderBy($"source", $"shard", $"doc_id")
  }

  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    packPlan(spark, Fixtures.documents(spark, sfDir)
      .withColumn("tokens", tokenCount($"text")), budget = 2048L)
  }

  val packSequencesSql: String =
    """WITH t AS (
      |  SELECT source, CAST(doc_id // 250 AS BIGINT) AS shard, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
      |  FROM documents),
      |p AS (
      |  SELECT source, shard, doc_id, tokens,
      |    COALESCE(SUM(tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      |  FROM t)
      |SELECT source, shard, doc_id, tokens,
      |  CAST(pre // 2048 AS BIGINT) AS pack_id,
      |  CAST(pre % 2048 AS BIGINT) AS pack_offset
      |FROM p ORDER BY source, shard, doc_id""".stripMargin

  /** Length-bucketed batching audit — the OTHER way to spend a token
    * budget (q_pack_sequences concatenates; THIS pads): docs are routed
    * to power-of-two length buckets (32..2048, the dynamic-batching
    * scheme of every serving/finetune stack) and the rollup prices the
    * padding: per bucket the doc count, real tokens, padded slots
    * (cap × docs) and the waste ratio — the number that decides
    * between bucketed padding and sequence packing for a corpus. The
    * bucket ladder is explicit integer CASE arms (no float log2 —
    * cross-engine exactness); docs beyond the top cap are truncated to
    * it, exactly like a max_seq_len trainer. One map-side bucket key +
    * one 7-row groupBy: nothing here shuffles more than the bucket
    * cardinality at any corpus size. ORACLE: DuckDB replays the ladder
    * and the integer padding algebra. */
  def packBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = Fixtures.documents(spark, sfDir)
      .withColumn("tokens", tokenCount($"text"))
    val cap = when($"tokens" <= 32, 32L).when($"tokens" <= 64, 64L)
      .when($"tokens" <= 128, 128L).when($"tokens" <= 256, 256L)
      .when($"tokens" <= 512, 512L).when($"tokens" <= 1024, 1024L)
      .otherwise(2048L)
    t.withColumn("cap", cap)
      .withColumn("eff", least($"tokens", lit(2048L)))
      .groupBy($"cap")
      .agg(count(lit(1)).as("n_docs"),
        sum($"eff").as("real_tokens"))
      .withColumn("padded_tokens", $"cap" * $"n_docs")
      .select($"cap", $"n_docs", $"real_tokens", $"padded_tokens",
        round(($"padded_tokens" - $"real_tokens").cast("double") /
          $"padded_tokens", 4).as("waste_pct"))
      .orderBy($"cap")
  }

  val packBucketsSql: String =
    """WITH t AS (
      |  SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      AS tokens
      |  FROM documents),
      |b AS (
      |  SELECT CASE WHEN tokens <= 32 THEN 32 WHEN tokens <= 64 THEN 64
      |              WHEN tokens <= 128 THEN 128 WHEN tokens <= 256 THEN 256
      |              WHEN tokens <= 512 THEN 512 WHEN tokens <= 1024 THEN 1024
      |              ELSE 2048 END AS cap,
      |    least(tokens, 2048) AS eff
      |  FROM t),
      |g AS (
      |  SELECT CAST(cap AS BIGINT) AS cap, count(*) AS n_docs,
      |    CAST(sum(eff) AS BIGINT) AS real_tokens,
      |    CAST(cap * count(*) AS BIGINT) AS padded_tokens
      |  FROM b GROUP BY cap)
      |SELECT cap, n_docs, real_tokens, padded_tokens,
      |  round(CAST(padded_tokens - real_tokens AS DOUBLE) / padded_tokens, 4)
      |    AS waste_pct
      |FROM g ORDER BY cap""".stripMargin

  /** Materialize the packed sequences: concatenate each pack's
    * documents with an <eod> separator in doc_id order — the step that
    * turns the packing PLAN (q_pack_sequences) into actual training
    * payloads. Deterministic ordered concat in a distributed engine
    * needs sort-then-join over collected structs (collect_list alone
    * is merge-order-nondeterministic — same discipline as
    * q_agg_string_agg). Output carries sizes + a payload prefix, not
    * the whole payload, so the oracle hash stays row-shaped. */
  def packMaterialize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val packed = packSequences(spark, sfDir)
      .select($"source", $"shard", $"doc_id", $"tokens", $"pack_id")
    val docs = Fixtures.documents(spark, sfDir).select($"doc_id", $"text")
    packed.join(docs, Seq("doc_id"))
      .groupBy($"source", $"shard", $"pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"tokens").as("pack_tokens"),
        array_join(
          expr("transform(array_sort(collect_list(struct(doc_id, text))), x -> x.text)"),
          "<eod>").as("payload"))
      .select($"source", $"shard", $"pack_id", $"n_docs", $"pack_tokens",
        length($"payload").cast("long").as("payload_len"),
        substring($"payload", 1, 64).as("payload_head"))
      .orderBy($"source", $"shard", $"pack_id")
  }

  val packMaterializeSql: String =
    s"""WITH packed AS ($packSequencesSql)
       |SELECT p.source, p.shard, p.pack_id, count(*) AS n_docs,
       |  CAST(sum(p.tokens) AS BIGINT) AS pack_tokens,
       |  CAST(length(string_agg(d.text, '<eod>' ORDER BY p.doc_id)) AS BIGINT) AS payload_len,
       |  substr(string_agg(d.text, '<eod>' ORDER BY p.doc_id), 1, 64) AS payload_head
       |FROM packed p JOIN documents d USING (doc_id)
       |GROUP BY p.source, p.shard, p.pack_id
       |ORDER BY p.source, p.shard, p.pack_id""".stripMargin

  /** Unigram-LM scoring: per-document mean negative log-likelihood
    * under the corpus's own unigram distribution — the cheap
    * perplexity-style quality signal (rare-word soup scores high,
    * stopword-heavy boilerplate low) every curation pipeline computes
    * before a real LM ever runs. Plan at 100 TB: the corpus total is a
    * driver literal off one narrow scan, then ONE word explode → one
    * (doc, w) pre-reduce → n_w as a window sum on the w exchange → one
    * groupBy(doc_id). Every word exists in its own corpus, so no OOV
    * smoothing term. */
  def textNll(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Corpus word total as a driver literal (the bm25/tfidf pattern,
    // r22): Σ size(split(text)) over one NARROW scan equals the
    // exploded word-row count exactly (size() counts every element
    // explode emits, empties included), which equals the old
    // sum(n_w) OVER () — same integer, without funneling the whole
    // vocabulary through ONE empty-partition window (guide §2.5/§5:
    // that single partition is a genuine scale-killer at 100 TB
    // vocabularies).
    val total = Fixtures.documents(spark, sfDir)
      .agg(sum(size(split(lower(trim($"text")), " ")).cast("long")))
      .head().getLong(0)
    // ONE lineage (guide §2.4, r22): the r21 shape fed the (doc, w, k)
    // pre-reduce to two consumers (vocab agg + the scoring join) and
    // relied on ReuseExchange to dedupe them — the committed plan showed
    // it never fired (2 scans, 2 Generates, 6 Exchanges). n_w is the
    // same sum(k) as a window over the w-partitioning the scoring
    // needs anyway, so the explode provably runs ONCE and the join
    // disappears: scan → explode → (doc,w) pre-reduce → w window →
    // doc rollup, 3 Exchanges total. The hot-word partition groups this
    // buffers are the SAME rows the old join shuffled to one reducer —
    // no new skew, one fewer corpus pass.
    val g = Fixtures.documents(spark, sfDir)
      .select($"doc_id", explode(split(lower(trim($"text")), " ")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("k"))
    g.withColumn("n_w", sum($"k").over(Window.partitionBy($"w")))
      .withColumn("logp", log($"n_w".cast("double") / lit(total)))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_words"),
        round(-(sum($"k" * $"logp") / sum($"k")), 4).as("nll_nats"))
      .orderBy($"doc_id")
  }

  val textNllSql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
      |  FROM documents),
      |vocab AS (
      |  SELECT w, count(*) AS n_w FROM words GROUP BY w),
      |v AS (
      |  SELECT w, ln(CAST(n_w AS DOUBLE) / sum(n_w) OVER ()) AS logp
      |  FROM vocab)
      |SELECT doc_id, count(*) AS n_words,
      |  round(-avg(logp), 4) AS nll_nats
      |FROM words JOIN v USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- byte-level BPE: train distributed-histogram -> driver merge
  // loop -> broadcast table -> narrow encode map ----

  /** Merges trained per corpus. The distributed half is ONE flatMap +
    * groupBy count whose output is the pretoken HISTOGRAM — bounded by
    * vocabulary (Zipf), not corpus size, so the driver collect stays
    * ~MB at 100 TB. The driver-side merge loop then runs on that
    * histogram alone. Memoized per (session, sfDir): verify + bench
    * call three BPE consumers against the same corpus. */
  val BpeMerges = 512

  // staged (graft.Memo): one table at a time; a new corpus refits
  private val bpeMemo = graft.Memo.staged[Bpe.Table]()

  def bpeTable(spark: SparkSession, sfDir: String): Bpe.Table =
    bpeMemo(spark, sfDir) { _ =>
      import spark.implicits._
      val histogram = Fixtures.documents(spark, sfDir)
        .select($"text").as[String]
        .flatMap(t => Bpe.pretokenize(t))
        .groupBy($"value").agg(count(lit(1)).as("n"))
        // deterministic top-K: ties on count break on the token itself
        .orderBy(desc("n"), asc("value"))
        .limit(Bpe.MaxTrainWords)
        .as[(String, Long)].collect().toMap
      Bpe.train(histogram, BpeMerges)
    }

  /** Per-doc REAL BPE token counts next to the whitespace estimate —
    * the budget correction the packer and mixer consume. Encoding is a
    * narrow map with the broadcast merge table: zero shuffles beyond
    * the final sort at any corpus size. NATIVE (the merge table is
    * engine-side state; determinism/round-trip/goldens in
    * TokenizerSpec). */
  def textBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = spark.sparkContext.broadcast(bpeTable(spark, sfDir))
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) =>
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
        val bpe = Bpe.countTokens(t, table.value)
        val ws = t.trim.split("\\s+").length.toLong
        (id, ws, bpe, bytes,
          if (bpe == 0) 0.0 else math.round(bytes.toDouble / bpe * 10000) / 10000.0)
      }
      .toDF("doc_id", "n_ws_tokens", "n_bpe_tokens", "n_bytes", "bytes_per_token")
      .orderBy($"doc_id")
  }

  /** q_pack_sequences with the trained tokenizer supplying the budget
    * currency — same plan shape, real token counts. NATIVE. */
  def packSequencesBpe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = spark.sparkContext.broadcast(bpeTable(spark, sfDir))
    val docs = Fixtures.documents(spark, sfDir)
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .map { case (src, id, t) => (src, id, Bpe.countTokens(t, table.value)) }
      .toDF("source", "doc_id", "tokens")
    packPlan(spark, docs, budget = 2048L)
  }

  /** Materialize BPE packs as TOKEN-ID payloads — the artifact a
    * training job actually consumes (q_pack_materialize concatenates
    * text; this emits the ids). Each pack's documents are encoded with
    * the broadcast table (narrow map), ordered deterministically by
    * doc_id (array_sort over collected structs — collect_list alone is
    * merge-order-nondeterministic), and joined by the <eod> separator
    * id = vocabSize (the first id outside the trained vocab, the
    * GPT-2 convention of a reserved special token). Output carries
    * sizes + an id-prefix, not whole payloads, so results stay
    * row-shaped. NATIVE: ids are table-dependent; TokenizerSpec checks
    * the id-count law and decodes a pack back to its source texts. */
  def packTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val table = spark.sparkContext.broadcast(bpeTable(spark, sfDir))
    val eodId = bpeTable(spark, sfDir).vocabSize
    val encoded = Fixtures.documents(spark, sfDir)
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .map { case (src, id, t) =>
        (src, id, Bpe.encode(t, table.value)) }
      .toDF("source", "doc_id", "ids")
    val plan = packSequencesBpe(spark, sfDir)
      .select($"source", $"shard", $"doc_id", $"tokens", $"pack_id")
    plan.join(encoded.drop("source"), Seq("doc_id"))
      .groupBy($"source", $"shard", $"pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"tokens").as("pack_tokens"),
        expr(s"flatten(transform(array_sort(collect_list(struct(doc_id, ids))), " +
          s"x -> concat(x.ids, array($eodId))))").as("payload"))
      .select($"source", $"shard", $"pack_id", $"n_docs", $"pack_tokens",
        size($"payload").cast("long").as("n_ids"),
        array_join(slice($"payload", 1, 8), "-").as("ids_head"))
      .orderBy($"source", $"shard", $"pack_id")
  }

  /** TF-IDF top terms per document — the classic keyword extractor a
    * curation pipeline runs for topic tagging / domain routing. Plan at
    * 100 TB: one word explode whose groupBy keys on (doc_id, term)
    * (well-distributed), a vocabulary-scale document-frequency
    * aggregate BROADCAST back onto the term-frequency side (the tf
    * side keeps its partitioning — no second corpus shuffle), the
    * 1-row corpus count crossed in as a broadcast, and one window on
    * doc_id for the top-3 cut. Ranking uses the ROUNDED score, then
    * INTEGER keys (tf desc, df asc, term) so every tie among
    * equal-rounded scores is decided by exact arithmetic both engines
    * share. Accepted residual risk: the pre-round double comes from
    * log(), so a score landing EXACTLY on a .00005 boundary could
    * round differently if the two engines' log differ by 1 ulp there
    * — that would flip the rounded VALUE itself (a hash risk no sort
    * key ordering can absorb); no fixture score sits on a boundary. */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Fixtures.documents(spark, sfDir)
      .select($"doc_id",
        explode(expr("filter(split(lower(trim(text)), '\\\\s+'), x -> length(x) > 0)")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    // corpus count as a driver-collected literal (the decontaminate-
    // Bloom/bm25 pattern): the pre-r21 1-row crossJoin planned a
    // BroadcastNestedLoopJoin over the whole tf⋈df frame — harmless
    // for a 1-row build side but an extra broadcast + join node the
    // literal expresses for free. Exact integer either way.
    val nDocs = Fixtures.documents(spark, sfDir).count()
    val w = Window.partitionBy($"doc_id")
      .orderBy(desc("tfidf"), desc("tf"), asc("df"), asc("term"))
    tf.join(broadcast(df), Seq("term"))
      .withColumn("tfidf",
        round($"tf" * log(lit(nDocs).cast("double") / $"df"), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df", $"tfidf")
      .orderBy($"doc_id", $"rank")
  }

  val textTfidfSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> len(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf DESC, tf DESC, df, term) AS rank
      |  FROM s)
      |SELECT doc_id, rank, term, tf, df, tfidf
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Per-document character entropy — the Shannon-entropy quality
    * signal (near-zero for looped garbage, ~4.2 nats for natural
    * English; binary junk mislabeled as text scores far higher). The
    * Spark side is the 100 TB-right plan: a NARROW typed map building
    * each doc's code-point histogram in one pass — no explode, zero
    * shuffles beyond the final sort. The oracle recomputes it the
    * SQL-only way (position explode + two groupBys); equality of the
    * two plans is exactly the check. */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.documents(spark, sfDir)
      .filter(length($"text") > 0)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) =>
        val counts = new java.util.TreeMap[Int, Long]()
        val it = t.codePoints().iterator()
        var n = 0L
        while (it.hasNext) {
          counts.merge(it.next(), 1L, (a, b) => a + b); n += 1
        }
        var h = 0.0
        counts.values().forEach { c =>
          val p = c.toDouble / n; h -= p * math.log(p)
        }
        (id, n, counts.size.toLong, math.round(h * 10000) / 10000.0)
      }
      .toDF("doc_id", "n_chars_seen", "n_distinct_chars", "char_entropy")
      .orderBy($"doc_id")
  }

  val textEntropySql: String =
    """WITH i AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1, length(text))) AS pos
      |  FROM documents WHERE length(text) > 0),
      |c AS (SELECT doc_id, substr(text, pos, 1) AS ch FROM i),
      |h AS (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY 1, 2),
      |n AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS n_distinct
      |  FROM h GROUP BY 1)
      |SELECT h.doc_id, n.n AS n_chars_seen, n.n_distinct AS n_distinct_chars,
      |  round(-sum((CAST(cnt AS DOUBLE) / n.n) * ln(CAST(cnt AS DOUBLE) / n.n)), 4)
      |    AS char_entropy
      |FROM h JOIN n ON h.doc_id = n.doc_id
      |GROUP BY h.doc_id, n.n, n.n_distinct ORDER BY h.doc_id""".stripMargin

  /** Overlapping token-window chunking — the RAG / long-context
    * preprocessing step that slices each document into windows of 50
    * tokens advancing by 40 (10-token overlap so no sentence is lost
    * at a boundary). Entirely narrow at any scale: split + sequence +
    * posexplode + slice are all per-row; chunk count is ⌈n/stride⌉ so
    * output rows ≈ 1.25 tokens/40 per doc — linear, no shuffle beyond
    * the oracle-imposed sort. */
  def chunkDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val win = 50
    val stride = 40
    Fixtures.documents(spark, sfDir)
      .withColumn("w", expr("filter(split(trim(text), '\\\\s+'), x -> length(x) > 0)"))
      .withColumn("n", size($"w"))
      .filter($"n" >= 1)
      .select($"doc_id", $"w", $"n",
        posexplode(expr(s"sequence(0, n - 1, $stride)")).as(Seq("chunk_id", "start")))
      .select($"doc_id",
        $"chunk_id".cast("long").as("chunk_id"),
        $"start".cast("long").as("start"),
        least(lit(win), $"n" - $"start").cast("long").as("n_tokens"),
        array_join(slice($"w", $"start" + 1, lit(win)), " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val chunkDocsSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> len(x) > 0) AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, w, len(w) AS n,
      |    unnest(generate_series(0, len(w) - 1, 40)) AS start
      |  FROM d WHERE len(w) >= 1)
      |SELECT doc_id,
      |  CAST(start // 40 AS BIGINT) AS chunk_id,
      |  CAST(start AS BIGINT) AS start,
      |  CAST(least(50, n - start) AS BIGINT) AS n_tokens,
      |  array_to_string(list_slice(w, start + 1, start + 50), ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  /** HTML → text extraction over a synthetic crawl: every document's
    * text is wrapped in a deterministic page (nav, script, style,
    * comment, link-dense ad line, footer — the chrome a crawl really
    * carries; see [[graft.text.HtmlExtract.syntheticPage]]) and
    * extraction must shed ALL of it while preserving the body
    * paragraphs exactly. A narrow map at any corpus size — the first
    * stage of a web-crawl curation pipeline. NATIVE (HtmlExtractSpec:
    * goldens for tags/entities/comments, the anchor-density
    * boilerplate law, malformed-markup degradation; the rollup here
    * pins exact body recovery on the whole corpus). */
  def textExtractHtml(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.text.HtmlExtract
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)]
      .map { case (id, src, text) =>
        val extracted = HtmlExtract.extract(HtmlExtract.syntheticPage(id, text))
        // the body the page embedded, post the same whitespace collapse
        val words = text.split(" ")
        val half = math.max(1, words.length / 2)
        val expect = Seq(words.take(half).mkString(" "),
            words.drop(half).mkString(" ") + " & more")
          .map(_.split("\\s+").filter(_.nonEmpty).mkString(" "))
          .filter(_.nonEmpty).mkString("\n")
        (src, if (extracted == expect) 1L else 0L,
          extracted.length.toLong, text.length.toLong)
      }
      .toDF("source", "exact", "n_extracted", "n_original")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"exact").as("n_exact"),
        round(sum($"n_extracted").cast("double") / sum($"n_original"), 4)
          .as("char_ratio"))
      .orderBy($"source")
  }

  /** End-to-end crawl ingest — the shape CommonCrawl data actually
    * arrives in: fixed-capacity WARC shards (per-record-gzipped
    * members, ISO 28500 framing; [[graft.text.Warc]]), each record an
    * HTTP response carrying a synthetic HTML page around the
    * document's text. The pipeline reads every shard back, parses the
    * WARC + HTTP framing, extracts text through [[graft.text
    * .HtmlExtract]], and rolls up per crawl host: records seen, exact
    * body recoveries, extracted bytes. Shard build and read are
    * narrow per-group/map stages around ONE fixed-capacity keyed
    * shuffle (the mmShards determinism pattern — shard membership is
    * a pure function of doc_id). NATIVE (WarcSpec: framing goldens,
    * truncation/corruption refusals, Python-gzip interop; the rollup
    * pins whole-corpus exact recovery). */
  /** One synthetic corpus WARC record — the ONE definition shared by
    * [[warcShardDs]] (batch shards) and
    * [[graft.streaming.WarcStreamIngest]] (streaming): WarcStreamSpec
    * pins stream-vs-batch equality at the BYTE level, which only holds
    * while both paths build records identically. */
  private[graft] def corpusWarcRecord(id: Long, src: String,
      text: String): Array[Byte] =
    graft.text.Warc.writeRecord(s"https://$src.example/doc/$id",
      f"$id%032x",
      graft.text.HtmlExtract.syntheticPage(id, text).getBytes("UTF-8"))

  /** The corpus as fixed-capacity WARC shards, keyed by shard id —
    * shared by q_crawl_warc (in-memory round-trip) and the staged
    * file layout the `warc` DSv2 source reads (q_scan_warc_dsv2). */
  private[queries] def warcShardDs(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    import graft.text.Warc
    val shardCapacity = 128L
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text")
      .as[(Long, String, String)]
      .map { case (id, src, text) => (id / shardCapacity, id, src, text) }
      .groupByKey(_._1)
      .mapGroups { (sid, it) =>
        val recs = it.toSeq.sortBy(_._2).map { case (_, id, src, text) =>
          corpusWarcRecord(id, src, text)
        }
        (sid, Warc.writeShard(recs))
      }
  }

  // staged .warc.gz files for the DSv2 source — one file per shard,
  // written from executors, staged (graft.Memo); TmpDirs
  // sweeps the directory at JVM exit (engine-only: no oracle reads it)
  private val warcStage = graft.Memo.staged[String]()

  private[graft] def ensureWarcShards(spark: SparkSession, sfDir: String): String =
    warcStage(spark, sfDir) { case (s, d) =>
      val dir = graft.TmpDirs.create("warc_shards")
      // ship the SESSION Hadoop conf (a bare Configuration drops s3a
      // credentials / custom filesystems on executor-side writes)
      val bcConf = graft.sources.SessionConf.broadcast(s)
      warcShardDs(s, d).foreachPartition {
        it: Iterator[(Long, Array[Byte])] =>
          val conf = new org.apache.hadoop.conf.Configuration()
          bcConf.value.foreach { case (k, v) => conf.set(k, v) }
          it.foreach { case (sid, bytes) =>
            val p = new org.apache.hadoop.fs.Path(s"$dir/shard-$sid.warc.gz")
            val fs = p.getFileSystem(conf)
            val out = fs.create(p, true)
            try out.write(bytes) finally out.close()
          }
      }
      dir
    }

  /** The crawl corpus through `spark.read.format("warc")` — the DSv2
    * face of the WARC stack ([[graft.sources.WarcDataSource]]): a
    * host-filtered per-host yield rollup over the staged shard files.
    * The selective host IN-list is PUSHED to the scan (visible in the
    * scan description) so non-matching records skip the HTTP split and
    * HtmlExtract entirely, and column pruning keeps `body` out of the
    * read path — the two savings that matter when the corpus is 100 TB
    * of CommonCrawl shards. NATIVE (no DuckDB WARC reader;
    * WarcSourceSpec pins scan-vs-reference equality, pruning, pushdown
    * and loud corruption). */
  def scanWarcDsv2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = ensureWarcShards(spark, sfDir)
    spark.read.format("warc").load(dir)
      .filter($"host".isin("src0.example", "src1.example", "src2.example",
        "src3.example", "src4.example"))
      .select($"host", $"url", $"text")
      .groupBy($"host")
      .agg(count(lit(1)).as("n_records"),
        sum(length($"text")).as("extracted_chars"),
        countDistinct($"url").as("n_urls"))
      .orderBy($"host")
  }

  // staged rows of the manifest-joined DSv2 scan (graft.Memo); the
  // DuckDB twin re-reads the same bytes
  private val warcManifestStage = graft.Memo.staged[String]()

  private[graft] def ensureWarcManifestRows(spark: SparkSession,
      sfDir: String): String =
    warcManifestStage(spark, sfDir) { case (s, d) =>
      import s.implicits._
      val dir = ensureWarcShards(s, d)
      val dp = new org.apache.hadoop.fs.Path(dir)
      val fs = dp.getFileSystem(s.sparkContext.hadoopConfiguration)
      val srcs = fs.listStatus(dp)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".warc.gz"))
        .map(_.getPath.toString).sorted
      // the manifest: every other shard, by deterministic rank — the
      // "re-process this subset" selection a real pipeline derives from
      // a catalog; parquet-backed so the broadcast join hands the scan
      // a runtime In(src) filter (a LocalRelation would constant-fold)
      val kept = srcs.zipWithIndex.collect { case (p, i) if i % 2 == 0 => p }
      val manifestPath = graft.TmpDirs.fixed("warc_manifest")
      s.createDataset(kept.toSeq).toDF("shard")
        .coalesce(1).write.mode("overwrite").parquet(manifestPath)
      val manifest = s.read.parquet(manifestPath)
      val joined = s.read.format("warc").load(dir)
        .select($"src", $"host", $"url", $"text")
        .join(org.apache.spark.sql.functions.broadcast(manifest),
          $"src" === $"shard")
        .select($"host", $"url", length($"text").cast("long").as("n_chars"))
      val out = graft.TmpDirs.fixed("warc_manifest_rows")
      // coalesce(1) is the fixture-scale STAGING convention (one file
      // for the DuckDB twin to glob), not the production shape — the
      // manifest join above (broadcast + runtime file pruning) is the
      // shape that scales; a production pipeline writes the joined
      // rows at natural parallelism
      joined.coalesce(1).write.mode("overwrite").parquet(out)
      out
    }

  /** Selective re-crawl through the manifest join — the "process only
    * THESE shards" shape every incremental 100 TB pipeline runs: a
    * parquet shard manifest broadcast-joins the WARC DSv2 corpus, and
    * the scan's runtime `src` filtering turns the join into whole-file
    * pruning (a million-shard corpus joined to a 100-shard manifest
    * reads 100 files — WarcSourceSpec pins the executed-partition
    * URIs). The joined per-record rows STAGE as parquet and DuckDB
    * re-derives this per-host ROLLUP from identical bytes (the
    * staged-twin convention) — so the rollup math is cross-engine over
    * the staged post-join rows, while the join and its file pruning
    * are engine-side, pinned by WarcSourceSpec (no DuckDB WARC reader
    * exists to twin the scan itself). */
  def scanWarcManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(ensureWarcManifestRows(spark, sfDir))
      .groupBy($"host")
      .agg(count(lit(1)).as("n_records"),
        countDistinct($"url").as("n_urls"),
        sum($"n_chars").as("n_chars"))
      .orderBy($"host")
  }

  def scanWarcManifestSql: String = {
    val base = graft.TmpDirs.fixed("warc_manifest_rows")
    s"""SELECT host, count(*) AS n_records,
      |  count(DISTINCT url) AS n_urls,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM read_parquet('$base/*.parquet')
      |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Streaming WARC ingest — crawl results arrive over a REAL
    * two-batch MemoryStream run and land as batch-id-tagged `.warc.gz`
    * part files ([[graft.streaming.WarcStreamIngest]]: names AND bytes
    * are pure functions of (batch, rows), so a replayed batch
    * rewrites itself — exactly-once without a log), including a
    * deliberately re-delivered batch; the finalize read goes through
    * the `warc` DSv2 source and rolls up per host. The MemoryStream
    * feed is driver-fed by design (it simulates a source); a
    * production crawler swaps in Kafka/files and everything
    * downstream is identical. NATIVE (streaming runtime;
    * WarcStreamSpec pins stream-vs-batch corpus equality and
    * re-delivery idempotence at the BYTE level). */
  def streamWarc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"source", $"text").as[(Long, String, String)]
      .collect().sortBy(_._1)
    val dir = graft.TmpDirs.create("warc_stream")
    val mem = MemoryStream[(Long, String, String)]
    // the wrapper must cover the WHOLE run (micro-batches plan during
    // processAllAvailable, not at start()) — the sibling streaming
    // queries' discipline
    graft.Conf.scoped(spark, "spark.sql.shuffle.partitions" -> "4") {
      val q = mem.toDF().toDF("doc_id", "source", "text")
        .writeStream
        .foreachBatch(graft.streaming.WarcStreamIngest.stageBatch(dir) _)
        .start()
      try {
        val half = docs.length / 2
        mem.addData(docs.take(half): _*)
        q.processAllAvailable()
        mem.addData(docs.drop(half): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    // restart semantics: replay batch 0 out-of-band — byte-identical
    // files overwrite themselves, the read below must see no dupes
    graft.streaming.WarcStreamIngest.stageBatch(dir)(
      spark.createDataset(docs.take(docs.length / 2))
        .toDF("doc_id", "source", "text"), 0L)
    spark.read.format("warc").load(dir)
      .groupBy($"host")
      .agg(count(lit(1)).as("n_records"),
        countDistinct($"url").as("n_urls"),
        sum(length($"text")).as("extracted_chars"))
      .orderBy($"host")
  }

  def crawlWarc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.text.{HtmlExtract, Warc}
    val shards = warcShardDs(spark, sfDir).map(_._2)
    // originals keyed by id so the read side can prove EXACT body
    // recovery, not just a 200 status: ok = the extracted text equals
    // the body the page embedded, post the extractor's whitespace
    // collapse (same construction as q_text_extract's law)
    val expected = Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val words = text.split(" ")
        val half = math.max(1, words.length / 2)
        (id, Seq(words.take(half).mkString(" "),
            words.drop(half).mkString(" ") + " & more")
          .map(_.split("\\s+").filter(_.nonEmpty).mkString(" "))
          .filter(_.nonEmpty).mkString("\n"))
      }
      .toDF("doc_id", "expect")
    shards
      .flatMap { shard =>
        Warc.readShard(shard).iterator.map { r =>
          val (status, body) = Warc.httpBody(r.payload)
          val host = r.targetUri.stripPrefix("https://").takeWhile(_ != '/')
          val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
          val extracted = HtmlExtract.extract(new String(body, "UTF-8"))
          (host, status.startsWith("HTTP/1.1 200"),
            extracted, extracted.length.toLong, id)
        }
      }
      .toDF("host", "status_ok", "extracted", "n_extracted", "doc_id")
      .join(expected, Seq("doc_id"))
      .withColumn("ok",
        when($"status_ok" && $"extracted" === $"expect", 1L).otherwise(0L))
      .groupBy($"host")
      .agg(count(lit(1)).as("n_records"), sum($"ok").as("n_ok"),
        sum($"n_extracted").as("extracted_chars"),
        countDistinct($"doc_id").as("n_docs"))
      .orderBy($"host")
  }

  /** Sliding-window chunking WITH overlap — the RAG/embedding prep
    * step (q_chunk_docs is the non-overlapping packer): 300-char
    * windows every 200 chars, so consecutive chunks share 100 chars
    * of context and no boundary sentence is ever lost to a cut.
    * Emitted per chunk with the md5 of its ACTUAL text, so the DuckDB
    * oracle verifies the extraction arithmetic character-for-character
    * (both engines index 1-based by character; the fixture is ASCII so
    * the unit agrees). Typed flatMap per the HOF-performance lesson —
    * a narrow 1→⌈n/stride⌉ expansion, no shuffle before the sort. */
  def chunkOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val size = 300
    val stride = 200
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val n = text.length
        val nChunks = math.max(1L, (n.toLong + stride - 1) / stride)
        (0L until nChunks).iterator.map { i =>
          val start = (i * stride).toInt
          val chunk = text.substring(start, math.min(start + size, n))
          (id, i, start.toLong, chunk.length.toLong, chunk)
        }
      }
      .toDF("doc_id", "chunk_id", "start", "chunk_len", "chunk")
      .select($"doc_id", $"chunk_id", $"start", $"chunk_len",
        md5($"chunk").as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val chunkOverlapSql: String =
    """WITH c AS (
      |  SELECT doc_id, text,
      |    unnest(range(greatest((length(text) + 199) // 200, 1))) AS chunk_id
      |  FROM documents)
      |SELECT doc_id, chunk_id, chunk_id * 200 AS start,
      |  length(substr(text, CAST(chunk_id * 200 + 1 AS INT), 300)) AS chunk_len,
      |  md5(substr(text, CAST(chunk_id * 200 + 1 AS INT), 300)) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** Inverted-index build — the retrieval side of the RAG prep that
    * q_chunk_docs/q_chunk_overlap feed: per term, document frequency,
    * total term frequency, and the head of the sorted posting list
    * (first 20 doc_ids). Plan shape at 100 TB: the posting head goes
    * through `row_number() <= 20` on (term, doc_id) — Spark 4 lowers
    * that to WindowGroupLimit, so every map partition keeps at most
    * 20 rows per term BEFORE the shuffle and a stopword-hot term
    * never funnels its full posting list through one reducer; df and
    * tf_total are plain count aggs (map-side combined). Production
    * indexes range-shard full postings; the cap marks that seam. */
  def textInvert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val words = Fixtures.documents(spark, sfDir)
      .select($"doc_id", explode(split(lower(trim($"text")), " ")).as("term"))
    // df and tf_total ride ONE aggregation (countDistinct plans its
    // own two-phase expand); posts then has a single consumer, so the
    // distinct shuffle runs exactly once — re-deriving the narrow
    // explode twice is cheap, duplicating shuffles is not
    val stats = words.groupBy($"term")
      .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("tf_total"))
    val posts = words.select($"term", $"doc_id").distinct()
    val head = posts
      .withColumn("rn",
        row_number().over(Window.partitionBy($"term").orderBy($"doc_id")))
      .filter($"rn" <= 20)
      .groupBy($"term")
      .agg(array_join(
        transform(array_sort(collect_list($"doc_id")), _.cast("string")),
        ",").as("postings_head"))
    stats.join(head, Seq("term"))
      .select($"term", $"df", $"tf_total", $"postings_head")
      .orderBy($"term")
  }

  val textInvertSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
      |  FROM documents),
      |p AS (SELECT DISTINCT term, doc_id FROM w),
      |df AS (SELECT term, count(*) AS df FROM p GROUP BY term),
      |tf AS (SELECT term, count(*) AS tf_total FROM w GROUP BY term),
      |r AS (
      |  SELECT term, doc_id,
      |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      |  FROM p),
      |h AS (
      |  SELECT term, array_to_string(list(doc_id ORDER BY doc_id), ',')
      |    AS postings_head
      |  FROM r WHERE rn <= 20 GROUP BY term)
      |SELECT term, df, tf_total, postings_head
      |FROM df JOIN tf USING (term) JOIN h USING (term)
      |ORDER BY term""".stripMargin

  /** BM25 top-10 retrieval for a fixed 3-term query — the scoring
    * half of the retrieval pair (q_text_invert builds the index).
    * Lucene's positive-idf form: ln(1 + (N - df + .5)/(df + .5)),
    * k1 = 1.2, b = 0.75. Determinism across engines: every float op
    * mirrors the oracle's association exactly, the 3 per-term
    * contributions are PIVOTED into columns and added in fixed
    * left-to-right order (a float `sum()` re-associates per
    * partitioning and can park on a rounding boundary), the final
    * score rounds ONCE, and ranking uses the ROUNDED score with
    * doc_id tiebreak. Shape at 100 TB: corpus stats (N, Σdl) are
    * driver-collected scalars (one metadata-scale action), the
    * per-query-term df is a broadcast; tf is one
    * groupBy over the query-term-filtered explode (the filter prunes
    * the corpus to matching postings first); top-10 lowers to
    * TakeOrderedAndProject — no global sort materializes. */
  def textBm25(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qterms = Seq("spark", "merge", "window")
    val words = Fixtures.documents(spark, sfDir)
      .select($"doc_id", explode(split(lower(trim($"text")), " ")).as("w"))
    // doc_ids are unique (pinned by q_check_quality), so dl per doc is
    // size(split(..)) on the document ROW itself — the pre-r21 explode
    // + groupBy(doc_id) re-ran the full explode and paid a doc-keyed
    // exchange to recover a number each row already knows (guide §1.2)
    val dl = Fixtures.documents(spark, sfDir)
      .select($"doc_id",
        size(split(lower(trim($"text")), " ")).cast("long").as("dl"))
    // corpus stats are scalars, driver-collected and embedded as
    // literals (a 1-row crossJoin would plan a BroadcastNestedLoopJoin,
    // and deriving them from dl would run dl's shuffle twice): N = one
    // doc count — split() always yields ≥ 1 token so every doc has a
    // dl row — and Σdl = Σ size(split), which equals the exploded
    // word-row count exactly (size() counts every element explode
    // emits, empties included). ONE narrow scan computes both; the
    // pre-r21 words.count() ran the full explode a second time just
    // to fold it to one number (guide §1.2).
    val bmStats = Fixtures.documents(spark, sfDir)
      .select(size(split(lower(trim($"text")), " ")).as("n"))
      .agg(count(lit(1)).as("nd"), sum($"n").as("sdl")).head()
    val nDocs = bmStats.getLong(0)
    val sumDl = bmStats.getLong(1)
    val tf = words.filter($"w".isin(qterms: _*))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val contrib =
      log(((lit(nDocs) - $"df").cast("double") + lit(0.5)) /
            ($"df".cast("double") + lit(0.5)) + lit(1.0)) *
        (($"tf" * lit(2.2)) /
          ($"tf" + (lit(1.2) * (lit(0.25) +
            (lit(0.75) * (($"dl" * lit(nDocs)).cast("double") / lit(sumDl)))))))
    val perTerm = tf.join(broadcast(df), Seq("w"))
      .join(dl, Seq("doc_id"))
      .withColumn("c", contrib)
    perTerm.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"),
        max(when($"w" === qterms(0), $"c")).as("c1"),
        max(when($"w" === qterms(1), $"c")).as("c2"),
        max(when($"w" === qterms(2), $"c")).as("c3"))
      .withColumn("score",
        round(coalesce($"c1", lit(0.0)) + coalesce($"c2", lit(0.0)) +
          coalesce($"c3", lit(0.0)), 4))
      .select($"doc_id", $"n_terms", $"score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(10)
  }

  val textBm25Sql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      |tf AS (
      |  SELECT doc_id, w, count(*) AS tf FROM w
      |  WHERE w IN ('spark', 'merge', 'window') GROUP BY doc_id, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |c AS (
      |  SELECT tf.doc_id, tf.w,
      |    ln((CAST(n_docs - df AS DOUBLE) + 0.5) /
      |         (CAST(df AS DOUBLE) + 0.5) + 1.0) *
      |      ((tf * 2.2) /
      |        (tf + (1.2 * (0.25 +
      |          (0.75 * (CAST(dl * n_docs AS DOUBLE) / sum_dl)))))) AS c
      |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats),
      |g AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |    max(CASE WHEN w = 'spark' THEN c END) AS c1,
      |    max(CASE WHEN w = 'merge' THEN c END) AS c2,
      |    max(CASE WHEN w = 'window' THEN c END) AS c3
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, n_terms,
      |  round(coalesce(c1, 0.0) + coalesce(c2, 0.0) + coalesce(c3, 0.0), 4)
      |    AS score
      |FROM g ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** Compression-ratio quality gate — deflate compressibility as the
    * cheap entropy probe (the CCNet/Gopher-era trick): looped
    * boilerplate compresses to a sliver, encrypted/garbled text
    * barely compresses, clean prose sits between. One narrow typed
    * map (Deflater per row, released in a finally), zero shuffle
    * before the output sort — the 100 TB shape is embarrassingly
    * parallel. NATIVE: compressed lengths are zlib-build-specific;
    * DeflateSpec pins the response laws (repetition → tiny ratio,
    * high-entropy → near-raw, duplication bounded by the 32 KiB
    * window, stored-block ceiling). */
  def textCompress(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, t) =>
        val nBytes =
          t.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
        val cLen = graft.text.Deflate.compressedLen(t)
        val r = if (nBytes == 0) 1.0 else cLen.toDouble / nBytes
        val verdict =
          if (r < 0.25) "too_repetitive"
          else if (r > 0.8) "high_entropy"
          else "kept"
        (id, nBytes, cLen, math.round(r * 10000).toDouble / 10000, verdict)
      }
      .toDF("doc_id", "n_bytes", "c_len", "ratio", "verdict")
      .orderBy($"doc_id")
  }

  /** Bigram-LM scoring with add-one smoothing — the next rung above
    * q_text_nll's unigram gate: per-doc mean negative log-likelihood
    * under P(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V), where c(w1·)
    * counts bigram STARTS (the proper conditioning denominator) and
    * V is the corpus vocabulary. Every ratio entering ln() is
    * exact-integer (the log-oracle discipline), rounded ONCE. Shape
    * at 100 TB: one bigram explode, one (doc, w1, w2) pre-reduce, the
    * model counts read in place as chained window sums over one w1
    * exchange, one groupBy(doc_id); V and nothing else is a driver
    * scalar. */
  def textNll2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // (doc, w1, w2) pre-reduce (guide §2.3, r21): the raw bigram frame
    // fed THREE consumers (c2 + c1 + the scoring join), so the bigram
    // explode ran three times. All consumers now hang off ONE
    // (doc, w1, w2, k) exchange (ReuseExchange — explode runs once);
    // c2 = sum(k) per pair, c1 derives from c2 itself as a window sum
    // over w1 (bigram-type scale, no third corpus pass), and the
    // per-doc mean is the k-weighted mean of the k duplicate rows it
    // replaces.
    val g = Fixtures.documents(spark, sfDir)
      .select($"doc_id", split(lower(trim($"text")), " ").as("w"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
      .groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("k"))
    // V is ONE scalar — driver-collected and embedded (the 1-row
    // crossJoin alternative plans a BroadcastNestedLoopJoin); it must
    // count UNIGRAM vocabulary, which bigrams cannot recover (a
    // one-word doc contributes no bigram but may hold a unique word)
    val v = Fixtures.documents(spark, sfDir)
      .select(explode(split(lower(trim($"text")), " ")).as("w"))
      .agg(countDistinct($"w")).head().getLong(0)
    // ONE lineage (guide §2.4, r22): the r21 shape derived the model
    // from a second read of g and joined it back, counting on
    // ReuseExchange to dedupe the two subplans — the committed plan
    // showed it never fired (2 Generates, 0 ReusedExchange). Both model
    // counts are window sums over g itself: c1 = Σk over w1, and the
    // (w1, w2) window rides the SAME w1 exchange (hashpartitioning(w1)
    // satisfies the (w1, w2) clustering — a sort, not a shuffle), so
    // the bigram explode provably runs ONCE and the join disappears:
    // scan → explode → (doc,w1,w2) pre-reduce → w1 exchange → two
    // chained windows → doc rollup. c2 per (w1,w2) and c1 per w1 are
    // the identical integers the model table held; every (doc, bigram)
    // row reads them in place instead of through a join.
    val wByW1 = org.apache.spark.sql.expressions.Window.partitionBy($"w1")
    val wByBigram =
      org.apache.spark.sql.expressions.Window.partitionBy($"w1", $"w2")
    g.withColumn("c1", sum($"k").over(wByW1))
      .withColumn("c2", sum($"k").over(wByBigram))
      .withColumn("logp",
        log(($"c2" + 1).cast("double") / ($"c1" + lit(v))))
      .groupBy($"doc_id")
      .agg(sum($"k").as("n_bigrams"),
        round(-(sum($"k" * $"logp") / sum($"k")), 4).as("nll2_nats"))
      .orderBy($"doc_id")
  }

  val textNll2Sql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
      |    unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS w2
      |  FROM d WHERE len(w) >= 2),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
      |v AS (
      |  SELECT count(DISTINCT word) AS v FROM (
      |    SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
      |    FROM documents)),
      |model AS (
      |  SELECT w1, w2, ln(CAST(c2 + 1 AS DOUBLE) / (c1 + v)) AS logp
      |  FROM c2 JOIN c1 USING (w1) CROSS JOIN v)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  round(-avg(logp), 4) AS nll2_nats
      |FROM bi JOIN model USING (w1, w2)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Host-level link graph from the synthetic crawl — the web
    * pipeline's last missing stage (filter → robots → fetch → extract
    * → LINK GRAPH → rank): every page's hrefs extracted by the same
    * single-pass scanner family as the text extractor (all three
    * attribute-quoting forms), relative links resolved against the
    * page's own host, cross-host edges ranked by the shared PageRank
    * power method. Shape at 100 TB: link extraction is a narrow
    * flatMap; ONE distributed groupBy collapses page-scale links to
    * the domains²-bounded host-pair matrix; everything after —
    * degrees AND the rank fixed point ([[graft.graph.PageRank.runLocal]],
    * pinned ≡ the distributed operator in PageRankSpec) — is
    * driver-side arithmetic on that metadata-scale matrix, so the
    * rank iterations cost microseconds instead of 2·iters shuffles —
    * GATED on the matrix's measured size ([[crawlLinksGated]]): past
    * 10⁶ pairs (a real web-host graph) the identical math runs
    * through the distributed operator instead of the driver.
    * NATIVE: page synthesis and the href scanner are engine-side
    * (LinkGraphSpec: scanner goldens, per-page link census,
    * distributed-vs-driver edge equality, Σrank = 1). */
  def crawlLinks(spark: SparkSession, sfDir: String): DataFrame =
    crawlLinksGated(spark, sfDir, maxLocalPairs = 1000000L)

  /** [[crawlLinks]] with an explicit driver-rank gate. The host-pair
    * matrix is "domains²-bounded = metadata-scale" at THIS pipeline's
    * host cardinality, but a real web corpus has ~10⁸ hosts and a
    * 10⁹-edge host graph — collecting that to the driver is the
    * classic silent scale-killer. So the collect is GATED on the
    * matrix's measured row count: at or below `maxLocalPairs` the
    * rank fixed point runs driver-local (microseconds, no per-
    * iteration job overhead); above it the SAME math runs through the
    * distributed [[graft.graph.PageRank.run]] operator and the degree
    * columns come from distributed aggregations of the staged matrix
    * — identical output (LinkGraphSpec pins forced-fallback equality),
    * different execution shape. */
  private[graft] def crawlLinksGated(spark: SparkSession, sfDir: String,
      maxLocalPairs: Long): DataFrame = {
    import spark.implicits._
    val edges = Fixtures.documents(spark, sfDir)
      .select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val src = id % 11
        graft.text.HtmlExtract
          .links(graft.text.HtmlExtract.linkedPage(id, text))
          .iterator.map { href =>
            val dst =
              if (href.startsWith("https://www.site"))
                // toLongOption: a corpus document whose TEXT embeds a
                // www.site… URL with no digits would otherwise throw
                // inside the task; unresolvable hosts fall back to a
                // self-link (dropped from the external graph)
                href.stripPrefix("https://www.site")
                  .takeWhile(_.isDigit).toLongOption.getOrElse(src)
              else src // relative: resolves against the page's host
            (src, dst)
          }
      }
      .toDF("src", "dst")
    // ONE distributed aggregation collapses page-scale links to the
    // domains²-bounded host-pair matrix; it is STAGED (the DuckDB twin
    // re-reads the same bytes and re-runs degrees + the 10-iteration
    // power method as a recursive CTE) and a single collect of it
    // feeds the degree columns AND the rank fixed point — no further
    // cluster round-trips
    val base = graft.TmpDirs.fixed("crawl_pairs")
    edges.groupBy($"src", $"dst")
      .agg(count(lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(base)
    val pairDf = spark.read.parquet(base)
    // the gate: ONE metadata-scale count decides whether the rank
    // fixed point may run driver-local at all
    val nPairs = pairDf.count()
    if (nPairs <= maxLocalPairs) {
      val pairCounts = pairDf.as[(Long, Long, Long)].collect()
      val extPairs = pairCounts.collect {
        case (s, d, _) if s != d => (s, d)
      }.toSeq
      val ranks = graft.graph.PageRank.runLocal(extPairs, iters = 10)
      // hosts with only self-links have no rank (same semantics as the
      // old inner join onto the distributed rank frame)
      val hosts = pairCounts.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      // one linear pre-grouping pass, then O(1) lookups per host — the
      // naive per-host filter scan is O(hosts × pairs), which at the
      // thousands-of-hosts scale this rollup advertises would dwarf the
      // rank fixed point itself
      def grouped(f: ((Long, Long, Long)) => Boolean,
          key: ((Long, Long, Long)) => Long): Map[Long, Long] =
        pairCounts.filter(f).groupBy(key).map { case (k, ps) =>
          k -> ps.map(_._3).sum
        }
      val outAllBy = grouped(_ => true, _._1)
      val extOutBy = grouped(p => p._1 != p._2, _._1)
      val extInBy = grouped(p => p._1 != p._2, _._2)
      val stats = hosts.filter(ranks.contains).map { h =>
        (h, outAllBy.getOrElse(h, 0L), extOutBy.getOrElse(h, 0L),
          extInBy.getOrElse(h, 0L), math.round(ranks(h) * 1e6) / 1e6)
      }.toSeq
      // pr_rank, not rank: a bare `rank` identifier reads as the window
      // function in DuckDB re-selects (the q_graph_pagerank lesson)
      spark.createDataset(stats)
        .toDF("host_num", "out_links", "ext_out", "ext_in", "pr_rank")
        .orderBy($"host_num")
    } else {
      // distributed fallback: identical math, never collects the
      // matrix — ranks from the distributed power-method operator,
      // degrees from three shuffle aggregations of the staged matrix
      val ext = pairDf.filter($"src" =!= $"dst")
      val ranks = graft.graph.PageRank.run(
        ext.select($"src", $"dst"), iters = 10)
      val outAll = pairDf.groupBy($"src".as("host_num"))
        .agg(sum($"n").as("out_links"))
      val extOut = ext.groupBy($"src".as("host_num"))
        .agg(sum($"n").as("ext_out"))
      val extIn = ext.groupBy($"dst".as("host_num"))
        .agg(sum($"n").as("ext_in"))
      ranks.select($"node".as("host_num"), $"rank")
        .join(outAll, Seq("host_num"), "left")
        .join(extOut, Seq("host_num"), "left")
        .join(extIn, Seq("host_num"), "left")
        .select($"host_num",
          coalesce($"out_links", lit(0L)).as("out_links"),
          coalesce($"ext_out", lit(0L)).as("ext_out"),
          coalesce($"ext_in", lit(0L)).as("ext_in"),
          (round($"rank" * 1e6) / 1e6).as("pr_rank"))
        .orderBy($"host_num")
    }
  }

  /** ORACLE twin (r18): DuckDB re-derives the degree columns from the
    * staged pair matrix and re-runs the SAME damping-0.85,
    * 10-iteration power method as a recursive CTE — including the
    * dangling-mass redistribution [[graph.PageRank.runLocal]] does,
    * expressed as explicit dangling→all-nodes edges of weight 1/n so
    * the recursive term keeps its single `pr` reference (DuckDB's
    * restriction); zero-weight self-edges keep in-edge-less nodes
    * alive at their base rank. Cross-engine this proves the
    * driver-local rank replica, not just the scanner. */
  def crawlLinksSql: String = {
    val base = graft.TmpDirs.fixed("crawl_pairs")
    s"""WITH RECURSIVE
      |pc AS MATERIALIZED (SELECT src, dst, n FROM read_parquet('$base/*.parquet')),
      |e AS MATERIALIZED (SELECT src, dst FROM pc WHERE src <> dst),
      |nodes AS MATERIALIZED (
      |  SELECT DISTINCT node FROM (
      |    SELECT src AS node FROM e UNION SELECT dst FROM e)),
      |deg AS MATERIALIZED (
      |  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
      |params AS MATERIALIZED (
      |  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |e2 AS MATERIALIZED (
      |  SELECT e.src AS src, e.dst AS dst, 1.0/d.deg AS w
      |  FROM e JOIN deg d ON d.src = e.src
      |  UNION ALL
      |  SELECT dn.node, n2.node, 1.0/(SELECT n FROM params)
      |  FROM (SELECT node FROM nodes
      |        WHERE node NOT IN (SELECT src FROM e)) dn, nodes n2
      |  UNION ALL
      |  SELECT node, node, 0.0 FROM nodes),
      |pr(it, node, r) AS (
      |  SELECT 0, node, 1.0/(SELECT n FROM params) FROM nodes
      |  UNION ALL
      |  SELECT it + 1, dst, 0.15/(SELECT n FROM params) + 0.85*mass FROM (
      |    SELECT p.it AS it, e2.dst AS dst, sum(p.r * e2.w) AS mass
      |    FROM pr p JOIN e2 ON e2.src = p.node
      |    WHERE p.it < 10
      |    GROUP BY 1, 2)),
      |stats AS (
      |  SELECT nd.node AS host_num,
      |    CAST(COALESCE((SELECT sum(pc.n) FROM pc
      |        WHERE pc.src = nd.node), 0) AS BIGINT) AS out_links,
      |    CAST(COALESCE((SELECT sum(pc.n) FROM pc
      |        WHERE pc.src = nd.node AND pc.dst <> nd.node), 0) AS BIGINT)
      |      AS ext_out,
      |    CAST(COALESCE((SELECT sum(pc.n) FROM pc
      |        WHERE pc.dst = nd.node AND pc.src <> nd.node), 0) AS BIGINT)
      |      AS ext_in
      |  FROM nodes nd)
      |SELECT s.host_num, s.out_links, s.ext_out, s.ext_in,
      |  round(p.r, 6) AS pr_rank
      |FROM stats s JOIN pr p ON p.node = s.host_num AND p.it = 10
      |ORDER BY s.host_num""".stripMargin
  }

  /** PMI-ranked collocations — the corpus-lexicon probe (Church &
    * Hanks 1990): top-20 bigrams by pointwise mutual information
    * ln(p(w1 w2) / (p(w1)p(w2))) with a min-count floor of 5 (PMI is
    * degenerate on hapaxes). Every probability is an exact-integer
    * ratio entering ln() once (the log-oracle discipline); ranking
    * uses the once-rounded PMI with (w1, w2) tiebreak and lowers to
    * TakeOrderedAndProject. Shape at 100 TB: two count shuffles on
    * well-spread n-gram keys; the ranked frame is vocab²-bounded. */
  def textCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val words = Fixtures.documents(spark, sfDir)
      .select($"doc_id", split(lower(trim($"text")), " ").as("w"))
    val bi = words.filter(size($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("b"))
      .select($"b.w1", $"b.w2")
    val uni = words.select(explode($"w").as("word"))
      .groupBy($"word").agg(count(lit(1)).as("c1"))
    // both corpus scalars fall out of ONE narrow scan: Σ size(w) is
    // exactly sum(uni.c1) (explode emits every element size() counts,
    // empties included) and Σ max(size(w)-1, 0) is exactly sum(c2.c2)
    // (each ≥2-word doc contributes size-1 bigrams; the sums run
    // BEFORE the c2 >= 5 filter). Deriving them from uni/c2 instead
    // (the pre-r21 form) re-ran both explode+groupBy pipelines a
    // second time just to fold each to one number — guide §1.2: don't
    // compute things you throw away. Literals unchanged, so the
    // DuckDB hash is untouched.
    val totals = words.agg(
      sum(size($"w")).as("tw"),
      sum(when(size($"w") >= 2, size($"w") - 1).otherwise(0)).as("tb")).head()
    val totalWords = totals.getLong(0)
    val totalBi = totals.getLong(1)
    val c2 = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    c2.filter($"c2" >= 5)
      .join(uni.withColumnRenamed("word", "w1")
        .withColumnRenamed("c1", "c1a"), Seq("w1"))
      .join(uni.withColumnRenamed("word", "w2")
        .withColumnRenamed("c1", "c1b"), Seq("w2"))
      .withColumn("pmi", round(
        log(($"c2".cast("double") / lit(totalBi)) /
          (($"c1a".cast("double") / lit(totalWords)) *
            ($"c1b".cast("double") / lit(totalWords)))), 4))
      .select($"w1", $"w2", $"c2", $"c1a", $"c1b", $"pmi")
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(20)
  }

  val textCollocationsSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
      |  FROM documents),
      |uni AS (
      |  SELECT word, count(*) AS c1 FROM (
      |    SELECT unnest(w) AS word FROM d) GROUP BY word),
      |tw AS (SELECT CAST(sum(c1) AS BIGINT) AS total_words FROM uni),
      |bi AS (
      |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
      |    unnest(list_transform(range(1, len(w)), i -> w[i + 1])) AS w2
      |  FROM d WHERE len(w) >= 2),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
      |tb AS (SELECT CAST(sum(c2) AS BIGINT) AS total_bi FROM c2),
      |j AS (
      |  SELECT c2.w1, c2.w2, c2.c2, a.c1 AS c1a, b.c1 AS c1b,
      |    round(ln((CAST(c2.c2 AS DOUBLE) / total_bi) /
      |      ((CAST(a.c1 AS DOUBLE) / total_words) *
      |        (CAST(b.c1 AS DOUBLE) / total_words))), 4) AS pmi
      |  FROM c2 JOIN uni a ON c2.w1 = a.word
      |  JOIN uni b ON c2.w2 = b.word
      |  CROSS JOIN tw CROSS JOIN tb
      |  WHERE c2.c2 >= 5)
      |SELECT w1, w2, c2, c1a, c1b, pmi
      |FROM j ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  /** Flesch reading-ease scoring — the classic text-difficulty gate:
    * words, sentence marks (floored at 1 — the fixture's word soup
    * has none), vowel-group syllable estimate, and the published
    * 206.835 − 1.015·(W/S) − 84.6·(Syl/W) formula, every term an
    * exact-integer ratio and the score rounded once. Zero-shuffle
    * narrow map + the output sort. */
  def textReadability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Fixtures.documents(spark, sfDir)
      .select($"doc_id", lower(trim($"text")).as("t"))
      .withColumn("n_words", size(split($"t", " ")).cast("long"))
      .withColumn("n_sentences",
        greatest(size(expr("regexp_extract_all(t, '[.!?]+', 0)")), lit(1))
          .cast("long"))
      .withColumn("n_syllables",
        size(expr("regexp_extract_all(t, '[aeiou]+', 0)")).cast("long"))
      .withColumn("flesch", round(
        lit(206.835) -
          lit(1.015) * ($"n_words".cast("double") / $"n_sentences") -
          lit(84.6) * ($"n_syllables".cast("double") / $"n_words"), 4))
      .select($"doc_id", $"n_words", $"n_sentences", $"n_syllables", $"flesch")
      .orderBy($"doc_id")
  }

  val textReadabilitySql: String =
    """WITH t AS (
      |  SELECT doc_id, lower(trim(text)) AS t FROM documents)
      |SELECT doc_id,
      |  CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
      |  CAST(greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS BIGINT)
      |    AS n_sentences,
      |  CAST(len(regexp_extract_all(t, '[aeiou]+')) AS BIGINT)
      |    AS n_syllables,
      |  round(206.835 -
      |    1.015 * (CAST(len(string_split(t, ' ')) AS DOUBLE) /
      |      greatest(len(regexp_extract_all(t, '[.!?]+')), 1)) -
      |    84.6 * (CAST(len(regexp_extract_all(t, '[aeiou]+')) AS DOUBLE) /
      |      len(string_split(t, ' '))), 4) AS flesch
      |FROM t ORDER BY doc_id""".stripMargin

  /** Zipf rank-frequency fit — is the corpus naturally distributed or
    * synthetic/templated? ln(freq) regressed on ln(rank) over the
    * top-100 vocabulary: natural language slopes ≈ −1, boilerplate
    * and generated spam flatten or cliff. Exercises `regr_slope` /
    * `regr_r2` parity between engines (both implement the same
    * least-squares moments); ranks and counts are exact integers
    * entering ln(), results rounded once. Vocab-scale after one count
    * shuffle. */
  def textZipf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val freq = Fixtures.documents(spark, sfDir)
      .select(explode(split(lower(trim($"text")), " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
    val ranked = freq
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("f"), asc("w"))).cast("long"))
      .filter($"rank" <= 100)
      .withColumn("ln_rank", log($"rank".cast("double")))
      .withColumn("ln_f", log($"f".cast("double")))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      round(expr("regr_slope(ln_f, ln_rank)"), 4).as("zipf_slope"),
      round(expr("regr_intercept(ln_f, ln_rank)"), 4).as("zipf_intercept"),
      round(expr("regr_r2(ln_f, ln_rank)"), 4).as("r2"))
  }

  val textZipfSql: String =
    """WITH freq AS (
      |  SELECT w, count(*) AS f FROM (
      |    SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
      |    FROM documents) GROUP BY w),
      |ranked AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rank
      |  FROM freq),
      |top AS (
      |  SELECT ln(CAST(rank AS DOUBLE)) AS ln_rank,
      |    ln(CAST(f AS DOUBLE)) AS ln_f
      |  FROM ranked WHERE rank <= 100)
      |SELECT count(*) AS n_terms,
      |  round(regr_slope(ln_f, ln_rank), 4) AS zipf_slope,
      |  round(regr_intercept(ln_f, ln_rank), 4) AS zipf_intercept,
      |  round(regr_r2(ln_f, ln_rank), 4) AS r2
      |FROM top""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_zipf" -> (textZipf _),
    "q_text_collocations" -> (textCollocations _),
    "q_text_readability" -> (textReadability _),
    "q_crawl_links" -> (crawlLinks _),
    "q_text_nll2" -> (textNll2 _),
    "q_text_compress" -> (textCompress _),
    "q_text_invert" -> (textInvert _),
    "q_text_bm25" -> (textBm25 _),
    "q_chunk_overlap" -> (chunkOverlap _),
    "q_crawl_warc" -> (crawlWarc _),
    "q_scan_warc_dsv2" -> (scanWarcDsv2 _),
    "q_scan_warc_manifest" -> (scanWarcManifest _),
    "q_stream_warc" -> (streamWarc _),
    "q_text_extract" -> (textExtractHtml _),
    "q_text_quality" -> (textQuality _),
    "q_text_nll" -> (textNll _),
    "q_text_tfidf" -> (textTfidf _),
    "q_text_entropy" -> (textEntropy _),
    "q_chunk_docs" -> (chunkDocs _),
    "q_text_langid" -> (textLangid _),
    "q_text_fingerprint" -> (textFingerprint _),
    "q_text_token_count" -> (textTokenCount _),
    "q_text_repetition" -> (textRepetition _),
    "q_pack_sequences" -> (packSequences _),
    "q_pack_buckets" -> (packBuckets _),
    "q_pack_materialize" -> (packMaterialize _),
    "q_text_bpe" -> (textBpe _),
    "q_pack_sequences_bpe" -> (packSequencesBpe _),
    "q_pack_tokens" -> (packTokens _),
    "q_text_pii" -> (textPii _))

  val oracle: Map[String, String] = Map(
    "q_text_zipf" -> textZipfSql,
    "q_text_collocations" -> textCollocationsSql,
    "q_text_readability" -> textReadabilitySql,
    "q_text_nll2" -> textNll2Sql,
    "q_text_invert" -> textInvertSql,
    "q_text_bm25" -> textBm25Sql,
    "q_chunk_overlap" -> chunkOverlapSql,
    "q_text_quality" -> textQualitySql,
    "q_text_langid" -> textLangidSql,
    "q_scan_warc_manifest" -> scanWarcManifestSql,
    "q_crawl_links" -> crawlLinksSql,
    "q_text_nll" -> textNllSql,
    "q_text_tfidf" -> textTfidfSql,
    "q_text_entropy" -> textEntropySql,
    "q_chunk_docs" -> chunkDocsSql,
    "q_text_token_count" -> textTokenCountSql,
    "q_text_repetition" -> textRepetitionSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_pack_buckets" -> packBucketsSql,
    "q_pack_materialize" -> packMaterializeSql,
    "q_text_pii" -> textPiiSql)
}
