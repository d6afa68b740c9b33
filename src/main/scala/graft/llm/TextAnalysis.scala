package graft.llm

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis for training-data curation: quality scoring, language ID,
  * token counting, all as pure codegen'd column expressions (no UDFs) with
  * DuckDB oracle mirrors. Single-pass per document, trivially
  * data-parallel — no shuffles at all except the final presentation sort.
  *
  * Ratio outputs divide exact integers in double precision, so both engines
  * produce bit-identical values without rounding tricks.
  */
object TextAnalysis {

  /** Stopword list shared with the SQL mirror. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "or", "in", "to")

  private def stopArray = array(Stopwords.map(lit): _*)

  /** Quality metrics per document: length, word counts, average word length,
    * stopword ratio, type-token ratio. */
  def quality(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(
        col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("n_chars"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct_words"),
        (size(array_distinct(col("ws"))).cast(DoubleType) / size(col("ws")))
          .as("type_token_ratio"),
        ((length(col("text")) - size(col("ws")) + 1).cast(DoubleType) / size(col("ws")))
          .as("avg_word_len"),
        (size(filter(col("ws"), w => array_contains(stopArray, w))).cast(DoubleType)
          / size(col("ws"))).as("stopword_ratio"))
      .orderBy("doc_id")

  val qualitySql: String = {
    val stopList = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (SELECT doc_id, lang, source, text, string_split(text, ' ') AS ws
                   FROM documents)
        SELECT doc_id, lang, source,
          CAST(length(text) AS INT) AS n_chars,
          CAST(len(ws) AS INT) AS n_words,
          CAST(len(list_distinct(ws)) AS INT) AS n_distinct_words,
          CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS type_token_ratio,
          CAST(length(text) - len(ws) + 1 AS DOUBLE) / len(ws) AS avg_word_len,
          CAST(len(list_filter(ws, x -> x IN ($stopList))) AS DOUBLE) / len(ws)
            AS stopword_ratio
        FROM w ORDER BY doc_id"""
  }

  /** Language-ID heuristic: marker-word hit counts per language family,
    * argmax with deterministic tie-break (en > es > de > und). The corpus is
    * synthetic English-ish word soup, so the interesting part is the shape:
    * O(1) marker lookups per token, no model, streamable at 100 TB. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val en = Seq("the", "a", "and", "of")
    val es = Seq("el", "la", "y", "de")
    val de = Seq("der", "die", "das", "und")
    def hits(ws: Seq[String]) =
      size(filter(col("ws"), w => array_contains(array(ws.map(lit): _*), w)))
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(
        col("doc_id"), col("lang").as("labeled_lang"),
        hits(en).as("en_hits"), hits(es).as("es_hits"), hits(de).as("de_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits")
          && col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") > 0, "es")
          .when(col("de_hits") > 0, "de")
          .otherwise("und"))
      .orderBy("doc_id")

  }

  val langIdSql: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        h AS (SELECT doc_id, lang AS labeled_lang,
                CAST(len(list_filter(ws, x -> x IN (${inList(Seq("the", "a", "and", "of"))}))) AS INT) AS en_hits,
                CAST(len(list_filter(ws, x -> x IN (${inList(Seq("el", "la", "y", "de"))}))) AS INT) AS es_hits,
                CAST(len(list_filter(ws, x -> x IN (${inList(Seq("der", "die", "das", "und"))}))) AS INT) AS de_hits
              FROM w)
        SELECT doc_id, labeled_lang, en_hits, es_hits, de_hits,
          CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
               WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
               WHEN de_hits > 0 THEN 'de'
               ELSE 'und' END AS pred_lang
        FROM h ORDER BY doc_id"""
  }

  /** Token counting: whitespace tokens vs BPE-ish regex tokens (alpha runs,
    * digit runs, other non-space singletons) vs a chars/4 approximation. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]', 0)"))
          .as("re_tokens"),
        floor(length(col("text")) / 4).cast(IntegerType).as("approx_bpe"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    """SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS INT) AS re_tokens,
       CAST(floor(length(text) / 4.0) AS INT) AS approx_bpe
       FROM documents ORDER BY doc_id"""

  /** Deterministic hash sampling — the reproducible subsampling every
    * training-data pipeline needs (a seeded random sample differs per engine
    * and per partitioning; a content-hash systematic sample is stable
    * everywhere): keep documents whose md5(doc_id) bucket is 0 mod 10. */
  def hashSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 7), 16, 10)
          .cast(LongType) % 10)
      .filter(col("bucket") === 0)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  val hashSampleSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
       WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10 = 0
       ORDER BY doc_id"""

  /** Stratified deterministic sampling: k docs per language, selected by
    * hash order (uniform within stratum, reproducible across engines). */
  def stratifiedSample(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("h"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 7), 16, 10)
          .cast(LongType))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy("lang", "rk")
  }

  val stratifiedSampleSql: String =
    """WITH h AS (
         SELECT doc_id, lang,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
         FROM documents),
       r AS (
         SELECT doc_id, lang,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS INT) AS rk
         FROM h)
       SELECT doc_id, lang, rk FROM r WHERE rk <= 20 ORDER BY lang, rk"""

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before anything else. The synthetic corpus contains no PII, so the
    * query PLANTS it deterministically (an email and a numeric id derived
    * from doc_id, identical in both engines) and then scrubs it; the oracle
    * must redact byte-identically for the row to hash-match, which makes
    * the regex semantics — not just the plumbing — the thing under test.
    * Patterns are kept in the Java-regex/RE2 common subset; DuckDB needs
    * the 'g' flag (it replaces first-match-only by default, Spark replaces
    * all). Pure per-row expressions: zero shuffles, streams at any scale. */
  def piiScrub(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("dirty", concat(
        col("text"),
        lit(" contact user_"), col("doc_id"), lit("@example.com"),
        lit(" ref "), (col("doc_id") * 7919 % 100000000).cast(StringType)))
      .select(
        col("doc_id"),
        size(expr("regexp_extract_all(dirty, '[a-z0-9_]+@[a-z]+\\\\.[a-z]+', 0)"))
          .as("n_emails"),
        size(expr("regexp_extract_all(dirty, '[0-9]{4,}', 0)")).as("n_long_nums"),
        substring(
          regexp_replace(
            regexp_replace(col("dirty"), "[a-z0-9_]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
            "[0-9]{4,}", "<NUM>"),
          -40, 40).as("scrub_tail"))
      .orderBy("doc_id")

  val piiScrubSql: String =
    """WITH dirty AS (
         SELECT doc_id,
           text || ' contact user_' || doc_id || '@example.com ref ' ||
             CAST(doc_id * 7919 % 100000000 AS VARCHAR) AS dirty
         FROM documents)
       SELECT doc_id,
         CAST(len(regexp_extract_all(dirty, '[a-z0-9_]+@[a-z]+\.[a-z]+')) AS INT) AS n_emails,
         CAST(len(regexp_extract_all(dirty, '[0-9]{4,}')) AS INT) AS n_long_nums,
         CASE WHEN length(s) <= 40 THEN s ELSE substr(s, length(s) - 39, 40) END AS scrub_tail
       FROM (SELECT doc_id, dirty,
               regexp_replace(regexp_replace(dirty,
                 '[a-z0-9_]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
                 '[0-9]{4,}', '<NUM>', 'g') AS s
             FROM dirty)
       ORDER BY doc_id"""

  /** Boilerplate block width (words) and the cross-document frequency at
    * which a block counts as boilerplate. MinDf = 2 is the aggressive
    * C4-style setting: any block shared verbatim by two documents is
    * template/boilerplate material, not content. */
  val BoilerplateBlock = 10
  val BoilerplateMinDf = 2

  /** C4/CCNet-style boilerplate REMOVAL — the rewrite stage, not just a
    * score ([[graft.llm.Dedup.dupNgramFraction]] measures; this cleans):
    * split every document into non-overlapping [[BoilerplateBlock]]-word
    * blocks, count each distinct block's document frequency across the
    * corpus, drop blocks appearing in ≥ [[BoilerplateMinDf]] documents
    * (navigation chrome, footers, template text — the repeated-line
    * removal C4/CCNet run on web text, expressed over this corpus's
    * space-token structure), and reassemble each document from its kept
    * blocks in order. Returns (doc_id, n_blocks, n_removed, clean_text),
    * one row per document — clean_text is '' when everything was
    * boilerplate.
    *
    * Scale shape: one explode to corpus-tokens/B block rows; block df is
    * one map-side-combined groupBy on the block text; the keep-join is
    * SKEW-FREE BY CONSTRUCTION (it joins only blocks with df <
    * MinDf — the hot high-df blocks are exactly the rows that never
    * enter the join); reassembly is a per-document groupBy whose payload
    * is bounded by document length. No windows, no driver state. */
  def boilerplateScrub(s: SparkSession, d: String): DataFrame = {
    val B = BoilerplateBlock
    // The block frame fans out to THREE consumers (the df vocabulary, the
    // keep-join, the per-doc block count) — cache it so the corpus scan
    // and the per-row split/explode run once, and every doc appears in it
    // (sequence(0, (toks-1) div B) is non-empty for toks >= 1, and split
    // of even an empty text yields one element).
    val b = graft.TrackedCaches.track(
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("toks", size(col("ws")).cast(LongType))
        .select(col("doc_id"), col("ws"), col("toks"),
          explode(sequence(lit(0L), expr(s"(toks - 1) div $B")))
            .as("block_id"))
        .select(col("doc_id"), col("block_id"),
          array_join(slice(col("ws"),
              (col("block_id") * B + 1).cast(IntegerType),
              least(lit(B.toLong), col("toks") - col("block_id") * B)
                .cast(IntegerType)),
            " ").as("bt"))
        .cache())
    val keepVocab = b.groupBy("bt")
      .agg(countDistinct("doc_id").as("bdf"))
      .filter(col("bdf") < BoilerplateMinDf).select("bt")
    val kept = b.join(keepVocab, Seq("bt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(block_id, bt))), x -> x.bt), ' ')")
          .as("clean_text"))
    b.groupBy("doc_id")
      .agg((max("block_id") + 1).as("n_blocks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        (col("n_blocks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Oracle-side block enumeration ceiling: generate_series is a constant
    * series (the WHERE guard trims per doc), so the bound only needs to
    * EXCEED every oracle corpus's blocks-per-document. 64 blocks = 640
    * words per doc against the generator's ≤100 — if a future corpus
    * ever approaches it, the oracle silently truncating tails would read
    * as a Spark bug, so keep the slack wide. The Spark side enumerates
    * exactly per row and has no ceiling. ENFORCED: CurationSpec's
    * "boilerplate oracle ceiling" gate asserts max blocks/doc stays
    * under this bound for every fixture SF, so a grown corpus fails
    * loudly in CI instead of as a false cross-engine diff. */
  val BoilerplateOracleMaxBlocks = 64

  /** Oracle mirror of [[boilerplateScrub]]. */
  val boilerplateScrubSql: String = {
    val B = BoilerplateBlock
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
          FROM documents),
        b AS (SELECT doc_id, j AS block_id,
                array_to_string(list_slice(ws, CAST(j * $B + 1 AS INT),
                  CAST(least((j + 1) * $B, toks) AS INT)), ' ') AS bt
              FROM w CROSS JOIN
                generate_series(0, ${BoilerplateOracleMaxBlocks - 1}) g(j)
              WHERE j * $B < toks),
        bdf AS (SELECT bt, count(DISTINCT doc_id) AS bdf FROM b GROUP BY bt),
        kept AS (SELECT doc_id, count(*) AS n_kept,
                   array_to_string(list(bt ORDER BY block_id), ' ') AS clean_text
                 FROM b JOIN bdf USING (bt)
                 WHERE bdf < $BoilerplateMinDf GROUP BY doc_id)
        SELECT w.doc_id,
          CAST((toks + ${B - 1}) // $B AS BIGINT) AS n_blocks,
          CAST((toks + ${B - 1}) // $B - coalesce(n_kept, 0) AS BIGINT)
            AS n_removed,
          coalesce(clean_text, '') AS clean_text
        FROM w LEFT JOIN kept ON w.doc_id = kept.doc_id
        ORDER BY w.doc_id"""
  }

  /** Intra-document repetition score (the Gopher-style quality signal):
    * fraction of word-3-grams that are repeats of an earlier 3-gram in the
    * SAME document. Boilerplate and generator loops light this up while
    * cross-doc dedup misses them. Pure per-row array expressions. */
  def repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("grams",
        graft.functions.TextFunctions.wordWindows(col("ws"), 3))
      .select(
        col("doc_id"),
        size(col("grams")).as("n_grams"),
        (size(col("grams")) - size(array_distinct(col("grams")))).as("n_dup_grams"),
        when(size(col("grams")) > 0,
          (size(col("grams")) - size(array_distinct(col("grams")))).cast(DoubleType)
            / size(col("grams")))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .orderBy("doc_id")

  val repetitionSql: String =
    """WITH g AS (
         SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN list_transform(generate_series(1, len(ws) - 2),
                                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [] END AS grams
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
       SELECT doc_id,
         CAST(len(grams) AS INT) AS n_grams,
         CAST(len(grams) - len(list_distinct(grams)) AS INT) AS n_dup_grams,
         CASE WHEN len(grams) > 0
              THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
              ELSE CAST(0 AS DOUBLE) END AS rep_ratio
       FROM g ORDER BY doc_id"""

  /** Benchmark-contamination check: which training documents share word-
    * 3-grams with a held-out eval set? The eval set here is the
    * [[hashSample]] bucket (a deterministic ~10% of the corpus); its
    * distinct shingle set is eval-sized — broadcastable at any corpus
    * scale — so the check is one broadcast semi-join-with-count over the
    * training side's exploded shingles: corpus-linear, no shuffle of text. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    def shingles(df: DataFrame) = df
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextFunctions.wordWindows(col("ws"), 3))).as("sh"))
    val docs = Tables.documents(s, d)
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 7), 16, 10)
          .cast(LongType) % 10)
    val evalSh = shingles(docs.filter(col("bucket") === 0))
      .select("sh").distinct()
    val train = shingles(docs.filter(col("bucket") =!= 0))
    train.join(broadcast(evalSh), "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_grams"))
      .orderBy("doc_id")
  }

  val contaminationSql: String =
    """WITH b AS (
         SELECT doc_id, text,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10 AS bucket
         FROM documents),
       sh AS (
         SELECT doc_id, bucket, unnest(list_distinct(
           CASE WHEN len(ws) >= 3
                THEN list_transform(generate_series(1, len(ws) - 2),
                                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [] END)) AS sh
         FROM (SELECT doc_id, bucket, string_split(text, ' ') AS ws FROM b)),
       ev AS (SELECT DISTINCT sh FROM sh WHERE bucket = 0)
       SELECT t.doc_id, count(*) AS n_eval_grams
       FROM sh t JOIN ev ON t.sh = ev.sh
       WHERE t.bucket <> 0
       GROUP BY t.doc_id ORDER BY t.doc_id"""

  /** Token-budget sampling: admit documents in deterministic hash-priority
    * order until a global token budget is spent — how a training mix is cut
    * to "the first N tokens" reproducibly. The running total goes through
    * [[graft.ops.Analytics.scalableCumSum]] (range-partition + per-partition
    * offsets), NOT a single-partition window, so the cut distributes. */
  val TokenBudget = 5000L

  def tokenBudgetSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 7), 16, 10)
          .cast(LongType).as("h"),
        size(split(col("text"), " ")).cast(LongType).as("tokens"))
    graft.ops.Analytics.scalableCumSum(docs, Seq("h", "doc_id"), "tokens", "cum_tokens")
      .filter(col("cum_tokens") <= TokenBudget)
      .select("doc_id", "h", "tokens", "cum_tokens")
      .orderBy("h", "doc_id")
  }

  val tokenBudgetSampleSql: String =
    s"""WITH t AS (
          SELECT doc_id,
            CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
          FROM documents),
        c AS (SELECT doc_id, h, tokens,
                CAST(sum(tokens) OVER (ORDER BY h, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM t)
        SELECT doc_id, h, tokens, cum_tokens FROM c
        WHERE cum_tokens <= $TokenBudget ORDER BY h, doc_id"""

  // =========================================================================
  // Deterministic train/val/test split + fixed-budget output sharding —
  // the last mile of a curation pipeline: every admitted doc needs a split
  // and a shard, both reproducible from the doc's identity alone.
  // =========================================================================

  /** Split percentages (train gets the rest). The split hash is SALTED
    * ("split:" prefix) so membership is independent of every other
    * md5(doc_id) ordering in the pipeline — an unsalted reuse of the
    * sampling hash would make "the first N tokens" systematically drain
    * one split's low-hash region. */
  val ValPct = 2
  val TestPct = 2

  /** (split, source) manifest of the deterministic hash split: each doc's
    * salted md5 bucket (mod 100) assigns train/val/test; the rollup is a
    * split x source aggregate. 100 TB: the assignment is a pure per-row
    * projection (no shuffle, no state — any executor recomputes it from
    * doc_id alone, which is what makes the split stable across reruns and
    * cluster sizes); the single shuffle is the final arity-bounded
    * aggregate. */
  def trainSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"),
      (conv(substring(md5(concat(lit("split:"), col("doc_id").cast(StringType))), 1, 7), 16, 10)
        .cast(LongType) % 100).as("b"),
      size(split(col("text"), " ")).cast(LongType).as("tokens"))
    docs.withColumn("split",
        when(col("b") < ValPct, "val")
          .when(col("b") < ValPct + TestPct, "test")
          .otherwise("train"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("n_tokens"))
      .orderBy("split", "source")
  }

  val trainSplitSql: String =
    s"""WITH t AS (
          SELECT source,
            CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
              % 100 AS b,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
          FROM documents)
        SELECT CASE WHEN b < $ValPct THEN 'val'
                    WHEN b < ${ValPct + TestPct} THEN 'test'
                    ELSE 'train' END AS split,
               source, count(*) AS n_docs,
               CAST(sum(tokens) AS BIGINT) AS n_tokens
        FROM t GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Tokens per output shard. Sized so the test SFs produce a multi-shard
    * manifest; a production run sets this to the data-loader's shard size
    * (e.g. ~100M tokens per file). */
  val ShardTokens = 2000L

  /** Fixed-token-budget shard manifest: docs take the SAME deterministic
    * hash order as [[tokenBudgetSample]] (one canonical shuffle order for
    * the whole pipeline), the running token total goes through the
    * distributed cumsum, and a doc belongs to the shard its STARTING
    * offset falls in (floor((cum - tokens) / ShardTokens) — the standard
    * sequential-writer rule, so a shard may exceed the budget by at most
    * one document's tail). Output is the shard-arity manifest a data
    * loader consumes: doc count, token count, and the doc_id range per
    * shard. 100 TB: cumsum is the two-pass range-partition pattern (never
    * a single-partition window); the manifest is corpus_tokens/ShardTokens
    * rows — a table, not a collect. */
  def shardManifest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 7), 16, 10)
          .cast(LongType).as("h"),
        size(split(col("text"), " ")).cast(LongType).as("tokens"))
    graft.ops.Analytics.scalableCumSum(docs, Seq("h", "doc_id"), "tokens", "cum_tokens")
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("tokens")).cast(DoubleType) / ShardTokens)
          .cast(LongType))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("shard_tokens"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("shard_id")
  }

  val shardManifestSql: String =
    s"""WITH t AS (
          SELECT doc_id,
            CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
          FROM documents),
        c AS (SELECT doc_id, tokens,
                CAST(sum(tokens) OVER (ORDER BY h, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM t)
        SELECT CAST(floor(CAST(cum_tokens - tokens AS DOUBLE) / $ShardTokens) AS BIGINT)
                 AS shard_id,
               count(*) AS n_docs,
               CAST(sum(tokens) AS BIGINT) AS shard_tokens,
               min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        FROM c GROUP BY 1 ORDER BY 1"""

  /** TF-IDF top term per document — the inverted-index scoring pattern:
    * explode tokens -> per-(doc, term) TF -> per-term DF (one small
    * aggregate) -> score = tf * ln(N/df). The DF side is corpus-vocabulary
    * sized — broadcastable at any corpus scale. Scores are rounded before
    * ranking (ln is libm-dependent in the last ulp); ties break on the term. */
  def tfidfTop(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.count()
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tokens.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df_), "term")
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("tfidf"))
      .orderBy("doc_id")
  }

  val tfidfTopSql: String =
    """WITH tokens AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
       df AS (SELECT term, count(*) AS df
              FROM (SELECT DISTINCT doc_id, term FROM tokens) GROUP BY term),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       scored AS (
         SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n / df.df), 6) AS tfidf
         FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
       ranked AS (
         SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
         FROM scored)
       SELECT doc_id, term AS top_term, tfidf FROM ranked
       WHERE rk = 1 ORDER BY doc_id"""

  /** Curation funnel: the end-to-end keep/drop report a training-data run
    * starts from — docs and total tokens surviving each cumulative stage
    * (ingest → length floor → language gate → exact-dup keeper). ONE corpus
    * scan computes all per-doc flags; each doc then explodes into the
    * stages it survives and a single groupBy rolls the funnel up (no
    * per-stage rescans). The keeper flag joins the md5 digest's min doc_id
    * back — the same hash-groupBy shape as [[Dedup.exactDedup]]. Stage
    * predicates reuse [[langId]]'s marker argmax and [[quality]]'s
    * whitespace tokenization exactly. */
  val FunnelMinChars = 200

  def curationFunnel(s: SparkSession, d: String): DataFrame = {
    val en = Seq("the", "a", "and", "of")
    val es = Seq("el", "la", "y", "de")
    val de = Seq("der", "die", "das", "und")
    def hits(ws: Seq[String]) =
      size(filter(col("ws"), w => array_contains(array(ws.map(lit): _*), w)))
    val flagged = Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), size(col("ws")).as("nw"),
        (length(col("text")) >= FunnelMinChars).as("f_len"),
        (hits(en) >= hits(es) && hits(en) >= hits(de) && hits(en) > 0).as("f_en"),
        md5(col("text")).as("dg"))
    val keepers = flagged.groupBy("dg").agg(min("doc_id").as("keep_id"))
    val staged = flagged.join(keepers, "dg")
      .withColumn("f_keep", col("doc_id") === col("keep_id"))
      .select(col("nw"), explode(array(
        struct(lit(0).as("stage_no"), lit("ingest").as("stage"),
          lit(true).as("pass")),
        struct(lit(1).as("stage_no"), lit("min_length").as("stage"),
          col("f_len").as("pass")),
        struct(lit(2).as("stage_no"), lit("lang_en").as("stage"),
          (col("f_len") && col("f_en")).as("pass")),
        struct(lit(3).as("stage_no"), lit("exact_keeper").as("stage"),
          (col("f_len") && col("f_en") && col("f_keep")).as("pass"))))
        .as("s"))
      .filter(col("s.pass"))
    staged.groupBy(col("s.stage_no").as("stage_no"), col("s.stage").as("stage"))
      .agg(count(lit(1)).as("docs"), sum(col("nw").cast(LongType)).as("tokens"))
      .orderBy("stage_no")
  }

  val curationFunnelSql: String = {
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                   FROM documents),
        f AS (SELECT doc_id,
                CAST(len(ws) AS INT) AS nw,
                (length(text) >= $FunnelMinChars) AS f_len,
                (len(list_filter(ws, x -> x IN (${inList(Seq("the", "a", "and", "of"))}))) >=
                 len(list_filter(ws, x -> x IN (${inList(Seq("el", "la", "y", "de"))})))
                 AND
                 len(list_filter(ws, x -> x IN (${inList(Seq("the", "a", "and", "of"))}))) >=
                 len(list_filter(ws, x -> x IN (${inList(Seq("der", "die", "das", "und"))})))
                 AND
                 len(list_filter(ws, x -> x IN (${inList(Seq("the", "a", "and", "of"))}))) > 0)
                  AS f_en,
                md5(text) AS dg
              FROM w),
        k AS (SELECT dg, min(doc_id) AS keep_id FROM f GROUP BY dg),
        fl AS (SELECT f.*, (f.doc_id = k.keep_id) AS f_keep
               FROM f JOIN k ON f.dg = k.dg)
        SELECT 0 AS stage_no, 'ingest' AS stage, count(*) AS docs,
               CAST(sum(nw) AS BIGINT) AS tokens FROM fl
        UNION ALL
        SELECT 1, 'min_length', count(*), CAST(sum(nw) AS BIGINT)
        FROM fl WHERE f_len
        UNION ALL
        SELECT 2, 'lang_en', count(*), CAST(sum(nw) AS BIGINT)
        FROM fl WHERE f_len AND f_en
        UNION ALL
        SELECT 3, 'exact_keeper', count(*), CAST(sum(nw) AS BIGINT)
        FROM fl WHERE f_len AND f_en AND f_keep
        ORDER BY stage_no"""
  }

  /** Target token shares for the training-mix rebalance — the knob a data
    * team turns ("40% English, 15% each of the rest"). Shared with the
    * SQL mirror via a generated CASE. */
  val MixTargets: Seq[(String, Double)] =
    Seq("en" -> 0.40, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** Training-mix rebalance by downsampling: find the largest total token
    * budget K such that every language can fill its target share WITHOUT
    * upsampling (K = min over langs of tokens/target), then keep each
    * language's documents at rate target*K/tokens via the deterministic
    * md5 hash — the reproducible mix cut. Reports per language the plan
    * (keep_rate) AND the realized sample (kept docs/tokens, achieved
    * share). All aggregates are language-arity (5 rows) — every join here
    * is a broadcast; the only full-corpus passes are the two scans. */
  def mixtureRebalance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("toks"),
        (conv(substring(md5(col("doc_id").cast(StringType)), 1, 7), 16, 10)
          .cast(LongType) % 1000000L).as("h"))
    import s.implicits._
    val targets = MixTargets.toDF("lang", "target_share")
    val cur = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
      .join(broadcast(targets), "lang")
    val k = cur.agg(min(col("tokens") / col("target_share")).as("k"))
    val rates = cur.crossJoin(broadcast(k))
      .withColumn("keep_rate",
        least(lit(1.0), col("target_share") * col("k") / col("tokens")))
    val kept = docs
      .join(broadcast(rates.select("lang", "keep_rate")), "lang")
      .filter(col("h") < floor(col("keep_rate") * 1000000L))
      .groupBy("lang")
      .agg(count(lit(1)).as("kept_docs"), sum("toks").as("kept_tokens"))
    val keptTot = kept.agg(sum("kept_tokens").as("kt"))
    rates.join(kept, "lang").crossJoin(broadcast(keptTot))
      .select(col("lang"), col("n_docs"), col("tokens"), col("target_share"),
        col("keep_rate"), col("kept_docs"), col("kept_tokens"),
        (col("kept_tokens").cast(DoubleType) / col("kt")).as("achieved_share"))
      .orderBy("lang")
  }

  /** Laplace smoothing pseudo-count for the bigram LM. */
  val LmAlpha = 1.0

  /** Self-trained bigram language-model perplexity per document — the
    * CCNet-style fluency signal (a doc whose word transitions are improbable
    * under the corpus LM is boilerplate, spam, or noise; perplexity buckets
    * are the classic keep/drop axis next to [[quality]]'s surface ratios).
    * No external model: the LM IS the corpus's own bigram counts, so the
    * whole pipeline stays inside the engine.
    *
    * Shape: exactly TWO corpus passes. Pass one explodes the (doc, w1, w2)
    * bigram relation and aggregates it to the model table c2(w1, w2, count)
    * — vocab²-bounded, partial-aggregated map-side. The left-context counts
    * c1(w1) and the vocabulary size V are then derived FROM c2 (a sum and a
    * distinct over the model table, not the corpus), so the model costs one
    * shuffle total. Pass two re-explodes and joins the bigrams against the
    * model on its keys. The model sides are broadcast — c1 is vocab-arity
    * and c2 vocab²-bounded (sub-GB for any language-bounded vocabulary; for
    * an open web vocabulary drop the hints and the identical plan runs as a
    * shuffle equi-join on (w1, w2)). Never a cross product, never a driver
    * data path. P(w2|w1) = (c2 + α) / (c1 + α·V), α = [[LmAlpha]], with V =
    * distinct tokens participating in bigrams (derived from c2's key set).
    *
    * Determinism across engines: each bigram's log-prob is rounded to 6
    * decimals (ln is libm-dependent in the last ulp — same discipline as
    * [[tfidfTop]]), then summed as DECIMAL(20,6) so the per-doc sum is exact
    * and addition-order-free; the average is that exact sum over the bigram
    * count rounded half away from zero at the sixth decimal ([[pplOf]]),
    * and the perplexity rounds once more after the single exp. */
  def lmPerplexity(s: SparkSession, d: String): DataFrame = {
    val bigrams = bigramsOf(Tables.documents(s, d).select("doc_id", "text"))
    val (c2, c1, vocab) = bigramModel(bigrams)
    scorePpl(bigrams, c2, c1, vocab).orderBy("doc_id")
  }

  /** The (doc_id, w1, w2) bigram relation of a doc frame — one explode pass.
    * sequence(0, size-2) runs DESCENDING for a 1-token doc (Spark infers
    * step -1), so the guard keeps the ≥2-token docs the oracles' range()
    * also keeps. */
  private[graft] def bigramsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Bigram model of a corpus: the cached (and release-tracked) count table
    * c2(w1, w2, c2) plus its derived marginals — left-context counts c1 and
    * the vocabulary size — so the whole model costs ONE corpus aggregation. */
  private[graft] def bigramModel(bigrams: DataFrame): (DataFrame, DataFrame, Long) = {
    val c2 = graft.TrackedCaches.track(
      bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2")).cache())
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val vocab = c2.select(col("w1").as("w")).union(c2.select(col("w2").as("w")))
      .agg(countDistinct(col("w"))).head().getLong(0)
    (c2, c1, vocab)
  }

  /** Per-doc (n_bigrams, avg_logprob, ppl) of a bigram stream against a
    * model. LEFT joins + coalesce(…, 0) so bigrams UNSEEN by the model fall
    * back to the pure Laplace floor α/(αV) — a no-op when scoring the
    * training corpus itself, load-bearing when screening new arrivals. */
  private[graft] def scorePpl(bigrams: DataFrame, c2: DataFrame,
      c1: DataFrame, vocab: Long): DataFrame =
    pplAgg(bigrams.join(broadcast(c2), Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left"), vocab)

  /** Open-vocabulary scoring path: identical arithmetic to [[scorePpl]],
    * but the model joins run as SHUFFLE equi-joins (shuffle_hash hints,
    * model tables as build sides) — the shape for a web-scale vocabulary
    * where c2 is far beyond broadcast range. Both the bigram stream and the
    * model partition on the join key, so cost is one co-partitioned
    * shuffle per model table; no plan node ever holds the whole model.
    * PlanShapeSpec gates that NO broadcast appears in this plan — the
    * scaladoc claim of round 6 ("drop the hints and it shuffles") is now an
    * executed, gated variant rather than prose. */
  private[graft] def scorePplOpenVocab(bigrams: DataFrame, c2: DataFrame,
      c1: DataFrame, vocab: Long): DataFrame =
    pplAgg(bigrams.join(c2.hint("shuffle_hash"), Seq("w1", "w2"), "left")
      .join(c1.hint("shuffle_hash"), Seq("w1"), "left"), vocab)

  /** The scoring arithmetic both model-join strategies share. */
  private def pplAgg(joined: DataFrame, vocab: Long): DataFrame =
    pplOf(joined
      .withColumn("logp", round(log(
        (coalesce(col("c2"), lit(0L)) + lit(LmAlpha)) /
          (coalesce(col("c1"), lit(0L)) + lit(LmAlpha * vocab))), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_bigrams"),
        sum(col("logp").cast(DecimalType(20, 6))).as("slp")))

  /** (doc_id, n_bigrams, slp) -> (doc_id, n_bigrams, avg_logprob, ppl).
    * avg_logprob is slp / n_bigrams rounded half away from zero at the
    * sixth decimal, computed EXACTLY: slp is a DECIMAL(20,6) sum, so
    * slp * 1e6 is an exact long m and round(m / n) = sign(m) *
    * floor((2|m| + n) / 2n) in integer arithmetic. A double quotient
    * cannot do this at a true tie: -156.436161 / 42 = -3.7246705 exactly,
    * but the double is -3.72467049999..., which Spark rounded to -3.72467
    * and DuckDB to -3.724671. [[AvgLogprobSql]] is the same integer
    * arithmetic on the oracle side. */
  private[graft] def pplOf(agg: DataFrame): DataFrame = {
    val q = expr("(2 * abs(m) + n_bigrams) div (2 * n_bigrams)")
    val avg = when(col("m") < 0, -q).otherwise(q).cast(DoubleType) / lit(1000000.0)
    agg.withColumn("m", (col("slp") * lit(1000000)).cast(LongType))
      .select(col("doc_id"), col("n_bigrams"), avg.as("avg_logprob"),
        round(exp(-avg), 6).as("ppl"))
  }

  /** DuckDB twin of [[pplOf]]'s avg_logprob over columns slp and
    * n_bigrams (`//` is DuckDB's integer division). */
  private[graft] val AvgLogprobSql: String = {
    val m = "CAST(slp * 1000000 AS BIGINT)"
    s"(CAST(sign($m) * ((2 * abs($m) + n_bigrams) // (2 * n_bigrams)) AS DOUBLE) / 1000000)"
  }

  /** [[lmPerplexity]] through the open-vocabulary scoring path — bit-equal
    * results (same counts, same rounding discipline), different physical
    * plan, so the standing batch oracle gates it directly. */
  def lmPerplexityOpenVocab(s: SparkSession, d: String): DataFrame = {
    val bigrams = bigramsOf(Tables.documents(s, d).select("doc_id", "text"))
    val (c2, c1, vocab) = bigramModel(bigrams)
    scorePplOpenVocab(bigrams, c2, c1, vocab).orderBy("doc_id")
  }

  val lmPerplexitySql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                FROM toks, unnest(range(1, len(t))) AS u(i)),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
        c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT w1 AS w FROM c2 UNION ALL SELECT w2 FROM c2)),
        lp AS (SELECT b.doc_id,
                 round(ln((c2.c2 + $LmAlpha) / (c1.c1 + $LmAlpha * v.v)), 6) AS logp
               FROM big b JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v),
        agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
                  sum(CAST(logp AS DECIMAL(20, 6))) AS slp
                FROM lp GROUP BY 1)
        SELECT doc_id, n_bigrams, $AvgLogprobSql AS avg_logprob,
          round(exp(-$AvgLogprobSql), 6) AS ppl
        FROM agg ORDER BY doc_id"""

  /** CCNet-style perplexity bucketing: split each language's documents into
    * head / middle / tail terciles by bigram-LM perplexity and report the
    * per-(lang, bucket) doc/token mass — the partitioning a curation run
    * actually acts on (keep head, subsample middle, drop tail).
    *
    * Scale shape: [[lmPerplexity]] supplies doc-arity scores; the tercile
    * cutoffs are ONE language-arity aggregate broadcast back for a single
    * comparison pass — never an ntile/window over the corpus (a per-language
    * total order would be the classic 100 TB sort bottleneck). The exact
    * `percentile` here buffers each language's scores in its aggregation
    * group, which is fine at oracle scale; [[pplBucketsApprox]] is the
    * production swap, executed and spec-gated — `approx_percentile` in the
    * same plan shape (cutoffs are read once, so sketch error moves bucket
    * BOUNDARIES, not the pipeline shape).
    * avg_ppl sums already-rounded doubles as DECIMAL(20,6), so every output
    * is bit-stable across engines (same discipline as [[lmPerplexity]]). */
  def pplBuckets(s: SparkSession, d: String): DataFrame =
    pplBucketsWith(s, d, "percentile(ppl, array(1.0D/3, 2.0D/3))")

  /** Sketch accuracy for [[pplBucketsApprox]]: rank error <= n/accuracy
    * (the Greenwald-Khanna bound approx_percentile documents). */
  val PplSketchAccuracy = 10000

  /** The production swap [[pplBuckets]]'s scaladoc promises, executable:
    * identical plan shape (one language-arity aggregate broadcast back,
    * no corpus window), with the exact `percentile` — whose aggregation
    * buffer holds each language's full score list — replaced by the
    * `approx_percentile` sketch (bounded state per group at ANY corpus
    * size). Sketch rank error moves bucket BOUNDARIES only, so results are
    * gated distributionally (CurationSpec: per-language bucket occupancy
    * within the documented rank-error bound of exact terciles), not by the
    * bit-exact oracle hash. */
  def pplBucketsApprox(s: SparkSession, d: String): DataFrame =
    pplBucketsWith(s, d,
      s"approx_percentile(ppl, array(1.0D/3, 2.0D/3), $PplSketchAccuracy)")

  private def pplBucketsWith(s: SparkSession, d: String,
      tercile: String): DataFrame = {
    val scores = lmPerplexity(s, d)
      .join(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("toks")), "doc_id")
    val cuts = scores.groupBy("lang").agg(
      expr(tercile).getItem(0).as("c_low"),
      expr(tercile).getItem(1).as("c_high"))
    scores.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("ppl") <= col("c_low"), "0_head")
          .when(col("ppl") <= col("c_high"), "1_middle")
          .otherwise("2_tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("toks").as("tokens"),
        sum(col("ppl").cast(DecimalType(20, 6))).as("sppl"))
      .select(col("lang"), col("bucket"), col("n_docs"), col("tokens"),
        round(col("sppl").cast(DoubleType) / col("n_docs"), 6).as("avg_ppl"))
      .orderBy("lang", "bucket")
  }

  val pplBucketsSql: String =
    s"""WITH scores0 AS ($lmPerplexitySql),
        scores AS (SELECT s.doc_id, s.ppl, d.lang,
                     CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks
                   FROM scores0 s JOIN documents d USING (doc_id)),
        cuts AS (SELECT lang, quantile_cont(ppl, 1.0/3) AS c_low,
                   quantile_cont(ppl, 2.0/3) AS c_high
                 FROM scores GROUP BY lang),
        b AS (SELECT s.lang, s.toks, s.ppl,
                CASE WHEN s.ppl <= c.c_low THEN '0_head'
                     WHEN s.ppl <= c.c_high THEN '1_middle'
                     ELSE '2_tail' END AS bucket
              FROM scores s JOIN cuts c USING (lang))
        SELECT lang, bucket, CAST(count(*) AS INT) AS n_docs,
          CAST(sum(toks) AS BIGINT) AS tokens,
          round(CAST(sum(CAST(ppl AS DECIMAL(20, 6))) AS DOUBLE) / count(*), 6)
            AS avg_ppl
        FROM b GROUP BY 1, 2 ORDER BY lang, bucket"""

  /** Per-source curation scorecard — the decision table a data team ranks
    * crawl sources by: document/token mass, exact-duplicate rate (non-keeper
    * share of corpus-wide md5 groups, the [[curationFunnel]] keeper rule),
    * mean type-token ratio, and mean bigram-LM perplexity. One row per
    * source; every aggregate is source-arity.
    *
    * Scale shape: one feature pass over documents, the digest→keeper
    * equi-join (shuffle carries (digest, id) only), a doc-arity left join
    * onto [[lmPerplexity]]'s scores, then a single source-keyed rollup.
    * Means follow the round-6 + DECIMAL-sum discipline so they are
    * addition-order-free; avg_ppl divides by the non-null score count, so
    * sub-bigram docs (no score) don't skew it. */
  def sourceScorecard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("source"), md5(col("text")).as("dg"),
        size(col("ws")).cast(LongType).as("toks"),
        round(size(array_distinct(col("ws"))).cast(DoubleType) / size(col("ws")), 6)
          .as("ttr"))
    val keep = docs.groupBy("dg").agg(min("doc_id").as("keep_id"))
    docs.join(keep, "dg")
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
      .join(lmPerplexity(s, d).select("doc_id", "ppl"), Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).cast(IntegerType).as("n_docs"),
        sum("toks").as("tokens"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).cast(IntegerType).as("dup_docs"),
        sum(col("ttr").cast(DecimalType(20, 6))).as("sttr"),
        sum(col("ppl").cast(DecimalType(20, 6))).as("sppl"),
        count(col("ppl")).as("nppl"))
      .select(col("source"), col("n_docs"), col("tokens"), col("dup_docs"),
        round(col("dup_docs").cast(DoubleType) / col("n_docs"), 6).as("dup_rate"),
        round(col("sttr").cast(DoubleType) / col("n_docs"), 6).as("avg_ttr"),
        round(col("sppl").cast(DoubleType) / col("nppl"), 6).as("avg_ppl"))
      .orderBy("source")
  }

  val sourceScorecardSql: String =
    s"""WITH scores0 AS ($lmPerplexitySql),
        docs AS (SELECT doc_id, source, md5(text) AS dg,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                   round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS ttr
                 FROM documents),
        k AS (SELECT dg, min(doc_id) AS keep_id FROM docs GROUP BY 1),
        f AS (SELECT d.*, (d.doc_id <> k.keep_id) AS is_dup
              FROM docs d JOIN k USING (dg)),
        j AS (SELECT f.*, s.ppl FROM f LEFT JOIN scores0 s USING (doc_id))
        SELECT source, CAST(count(*) AS INT) AS n_docs,
          CAST(sum(toks) AS BIGINT) AS tokens,
          CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS INT) AS dup_docs,
          round(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS dup_rate,
          round(CAST(sum(CAST(ttr AS DECIMAL(20, 6))) AS DOUBLE) / count(*), 6)
            AS avg_ttr,
          round(CAST(sum(CAST(ppl AS DECIMAL(20, 6))) AS DOUBLE) / count(ppl), 6)
            AS avg_ppl
        FROM j GROUP BY 1 ORDER BY source"""

  val mixtureRebalanceSql: String = {
    val cases = MixTargets.map { case (l, w) => s"WHEN '$l' THEN $w" }
      .mkString(" ")
    s"""WITH docs AS (
          SELECT doc_id, lang,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
            CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
              % 1000000 AS h
          FROM documents),
        cur AS (SELECT lang, count(*) AS n_docs,
                  CAST(sum(toks) AS BIGINT) AS tokens,
                  CAST(CASE lang $cases END AS DOUBLE) AS target_share
                FROM docs GROUP BY lang),
        k AS (SELECT min(tokens / target_share) AS k FROM cur),
        rates AS (SELECT cur.*,
                    least(CAST(1.0 AS DOUBLE), target_share * k.k / tokens)
                      AS keep_rate
                  FROM cur, k),
        kept AS (SELECT d.lang, count(*) AS kept_docs,
                   CAST(sum(d.toks) AS BIGINT) AS kept_tokens
                 FROM docs d JOIN rates r USING (lang)
                 WHERE d.h < floor(r.keep_rate * 1000000)
                 GROUP BY d.lang),
        kt AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS kt FROM kept)
        SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs, r.tokens,
          r.target_share, r.keep_rate,
          CAST(p.kept_docs AS BIGINT) AS kept_docs, p.kept_tokens,
          CAST(p.kept_tokens AS DOUBLE) / kt.kt AS achieved_share
        FROM rates r JOIN kept p USING (lang), kt ORDER BY r.lang"""
  }

  /** Occurrence floor for PMI candidate bigrams: below it the estimate is
    * dominated by sampling noise (the classic PMI-of-rare-pairs artifact),
    * and the high-PMI list degenerates into hapax pairs. */
  val PmiMinCount = 5

  /** Collocations reported by [[pmiPairs]]. */
  val PmiTopK = 100

  /** Top-[[PmiTopK]] collocations by pointwise mutual information — the
    * corpus-statistics pass a tokenizer/vocabulary team runs to find
    * multi-word units worth merging ("new york" style): PMI(w1, w2) =
    * ln(c2·T / (cL(w1)·cR(w2))) over adjacent-bigram counts, where cL/cR
    * are left/right marginals and T the total bigram mass.
    *
    * Scale shape: ONE corpus aggregation (the same map-side-combined bigram
    * count [[bigramModel]] uses); marginals are vocab-arity rollups OF THE
    * COUNT TABLE (never a second corpus pass) joined back by broadcast; the
    * [[PmiMinCount]] floor prunes the candidate list before the joins. The
    * products c2·T and cL·cR stay exact in 64-bit up to ~10^7-bigram
    * corpora (they fit 2^53 so the ln argument is the same double both
    * engines); a web-scale deployment subtracts logs instead and accepts
    * the last-ulp libm variance, or keeps the ratio in DECIMAL. Scores
    * round to 6 dp before ranking, ties break on (w1, w2) — the file-wide
    * determinism discipline. */
  def pmiPairs(s: SparkSession, d: String): DataFrame = {
    val c2 = graft.TrackedCaches.track(
      bigramsOf(Tables.documents(s, d).select("doc_id", "text"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n")).cache())
    val t = c2.agg(sum("n")).head().getLong(0)
    val cl = c2.groupBy("w1").agg(sum("n").as("cl"))
    val cr = c2.groupBy("w2").agg(sum("n").as("cr"))
    c2.filter(col("n") >= PmiMinCount)
      .join(broadcast(cl), "w1")
      .join(broadcast(cr), "w2")
      .select(col("w1"), col("w2"), col("n"),
        round(log(col("n").cast(DoubleType) * t /
          (col("cl") * col("cr")).cast(DoubleType)), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  val pmiPairsSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        b AS (SELECT t[i] AS w1, t[i+1] AS w2
              FROM w, generate_series(1, ${graft.llm.Dedup.MaxWords}) s(i)
              WHERE i <= len(t) - 1),
        c2 AS (SELECT w1, w2, count(*) AS n FROM b GROUP BY 1, 2),
        tt AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c2),
        cl AS (SELECT w1, CAST(sum(n) AS BIGINT) AS cl FROM c2 GROUP BY 1),
        cr AS (SELECT w2, CAST(sum(n) AS BIGINT) AS cr FROM c2 GROUP BY 1)
        SELECT c2.w1, c2.w2, c2.n,
          round(ln(CAST(c2.n AS DOUBLE) * tt.t
            / CAST(cl.cl * cr.cr AS DOUBLE)), 6) AS pmi
        FROM c2
        CROSS JOIN tt
        JOIN cl ON c2.w1 = cl.w1
        JOIN cr ON c2.w2 = cr.w2
        WHERE c2.n >= $PmiMinCount
        ORDER BY pmi DESC, c2.w1, c2.w2 LIMIT $PmiTopK"""

  /** Per-source token-length histogram in power-of-two buckets — the
    * distribution a packing/curation team reads before choosing a training
    * sequence length (what share of documents truncate at 512? at 2048?).
    * The bucket is derived from the BIT LENGTH of the token count
    * (bucket = len(bin(nw)) - 1 = floor(log2 nw)) — pure integer/string
    * arithmetic both engines reproduce exactly, where a floating log2
    * would hinge on libm behavior at the power-of-two boundaries.
    * Scale shape: one map pass + one (source × ~7 buckets)-arity
    * aggregation; nothing else. */
  def lenHist(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        size(split(col("text"), " ")).cast(LongType).as("nw"))
      .filter(col("nw") >= 1)
      .withColumn("bucket", (length(bin(col("nw"))) - 1).cast(IntegerType))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("tokens"))
      .withColumn("bucket_lo",
        expr("cast(shiftleft(cast(1 as bigint), bucket) as bigint)"))
      .select(col("source"), col("bucket"), col("bucket_lo"),
        col("n_docs"), col("tokens"))
      .orderBy("source", "bucket")

  val lenHistSql: String =
    """WITH d AS (SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
           FROM documents),
       b AS (SELECT source, CAST(length(bin(nw)) - 1 AS INT) AS bucket, nw
             FROM d WHERE nw >= 1)
       SELECT source, bucket, CAST(1 << bucket AS BIGINT) AS bucket_lo,
         count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS tokens
       FROM b GROUP BY 1, 2 ORDER BY source, bucket"""
}
