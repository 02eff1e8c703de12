package graft.ops

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.Tables
import Op._

/** §2.10 — the north-star LLM-training-data pipeline operators over
  * `documents` (text) and `embeddings` (64-dim float vectors).
  *
  * Scale design (100 TB): nothing here is all-pairs. Near-dedup generates
  * candidates from per-doc minimum shingles (MinHash-band-shaped — at full
  * scale swap in k independent hash-min signatures / MinHashLSH, same
  * plan shape); brute-force similarity search broadcasts a fixed probe
  * set so the big side never shuffles; the LSH variant buckets with
  * random hyperplanes so candidate pairs are per-bucket only. Text
  * pipelines are explode → hash-aggregate, partial-agg'd map-side.
  */
object LlmOps {

  private def toks: Column = split(col("text"), " ")

  /** The documents corpus, SPREAD across the cluster before any
    * row-multiplying work (round-13): every fixture table is ONE
    * single-row-group parquet file, so a plain scan yields one
    * partition and everything below the first exchange — explodes,
    * per-term hashing, map-side partial aggregates — serializes on one
    * core (the root cause of the llm_lang_id official trend; profiled
    * 7.4 → 1.3 s warm there). The exchange moves only the compact
    * (doc-level) rows BEFORE the multiply. The partition count is
    * EXPLICIT: a bare repartition(col) is AQE-coalescible, and AQE
    * folds a 1.5 MB exchange right back to one partition (it sizes by
    * bytes and cannot see the generate above). Filters written above
    * this still push to the scan (PushDownPredicates moves predicates
    * through RepartitionByExpression). At 100 TB the scan splits by
    * maxPartitionBytes and this exchange is a cheap narrow-row
    * rebalance; locally it is the difference between 1 and 32 cores.
    */
  private def spreadDocs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** THE normalized-text fingerprint (lower/trim/squeeze-spaces →
    * sha256) — one definition shared by exact dedup, the curation
    * pipeline, and cross-corpus dedup, which are DOCUMENTED to agree on
    * what counts as "the same text"; a drift in one would silently
    * decouple their verdicts. (Each op's oracle SQL carries the same
    * chain verbatim.)
    */
  private def normFp: Column =
    sha2(regexp_replace(trim(lower(col("text"))), " +", " "), 256)

  /** Element-wise double view of the float vector (float→double is exact,
    * so both engines fold identical doubles — SURVEY §5.3.2/.6).
    */
  private def dvec(c: Column): Column = transform(c, x => x.cast(DoubleType))

  private def l2(c: Column): Column =
    sqrt(aggregate(transform(c, x => x * x), lit(0.0), (a, x) => a + x))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** The standard LLM-corpus quality gate: language, char-length band,
    * minimum token count. Pure filter — predicate pushdown sends the
    * lang/n_chars conjuncts to the parquet reader.
    */
  val llmQualityFilter: Op = Op(
    "llm_quality_filter",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_toks", size(toks))
        .filter(
          col("lang") === "en" &&
            col("n_chars").between(100, 2000) &&
            col("n_toks") >= 10)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("n_toks"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, lang, source, n_chars,
        len(string_split(text, ' ')) AS n_toks
      FROM documents
      WHERE lang = 'en' AND n_chars BETWEEN 100 AND 2000
        AND len(string_split(text, ' ')) >= 10
      ORDER BY doc_id
    """.stripMargin.trim))

  /** FILTER ABLATION — the per-rule attribution a pipeline owner reads
    * before tuning the quality gate: for each of llm_quality_filter's
    * three rules (lang, char band, min tokens), how many docs per
    * source does that rule ALONE remove (fail it, pass the others) vs
    * how many fall to multiple rules at once — the "what would
    * relaxing this rule buy" question, answered from flag combinations
    * in ONE aggregate pass (no per-rule re-scans). Exact integer
    * counts throughout.
    */
  val llmFilterAblation: Op = Op(
    "llm_filter_ablation",
    (s, dir) => {
      val f = Tables.documents(s, dir).select(col("source"),
        when(col("lang") === "en", 1).otherwise(0).as("f_lang"),
        when(col("n_chars").between(100, 2000), 1).otherwise(0).as("f_len"),
        when(size(toks) >= 10, 1).otherwise(0).as("f_toks"))
      f.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f_lang") * col("f_len") * col("f_toks")).as("n_pass"),
          sum(when(col("f_lang") === 0 && col("f_len") === 1
            && col("f_toks") === 1, 1).otherwise(0)).as("only_lang"),
          sum(when(col("f_len") === 0 && col("f_lang") === 1
            && col("f_toks") === 1, 1).otherwise(0)).as("only_len"),
          sum(when(col("f_toks") === 0 && col("f_lang") === 1
            && col("f_len") === 1, 1).otherwise(0)).as("only_toks"),
          sum(when(col("f_lang") + col("f_len") + col("f_toks") <= 1, 1)
            .otherwise(0)).as("multi_fail"))
        .orderBy("source")
    },
    Some("""
      WITH f AS (
        SELECT source,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f_lang,
          CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 1 ELSE 0 END AS f_len,
          CASE WHEN len(string_split(text, ' ')) >= 10 THEN 1 ELSE 0 END AS f_toks
        FROM documents
      )
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(f_lang * f_len * f_toks) AS BIGINT) AS n_pass,
        CAST(SUM(CASE WHEN f_lang = 0 AND f_len = 1 AND f_toks = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS only_lang,
        CAST(SUM(CASE WHEN f_len = 0 AND f_lang = 1 AND f_toks = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS only_len,
        CAST(SUM(CASE WHEN f_toks = 0 AND f_lang = 1 AND f_len = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS only_toks,
        CAST(SUM(CASE WHEN f_lang + f_len + f_toks <= 1
             THEN 1 ELSE 0 END) AS BIGINT) AS multi_fail
      FROM f GROUP BY source ORDER BY source
    """.stripMargin.trim))

  /** Per-source GINI COEFFICIENT of document length — the mixture-
    * balance inequality read-out (a source whose token mass sits in a
    * few huge docs behaves differently under sampling than one with
    * uniform lengths, even at equal totals; the same statistic
    * economists run on income). G = Σ(2i−n−1)·x_i / (n·Σx) over the
    * ascending length-sorted sequence (tie-broken by doc_id — total
    * order, so rank is deterministic). Everything stays EXACT INTEGER
    * until the single final division: ranks, counts, Σx, and the
    * weighted sum are all int64 — no decimal ladder, no rounding
    * dance, determinism for free.
    *
    * Scale shape: one rank window per source partition plus a
    * partial+final aggregate; output is |sources| rows.
    */
  val llmSourceGini: Op = Op(
    "llm_source_gini",
    (s, dir) => {
      val w = Window.partitionBy("source")
      val r = Tables.documents(s, dir)
        .select(col("source"), col("n_chars"), col("doc_id"))
        .withColumn("i", row_number().over(
          w.orderBy(col("n_chars"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("tot", sum("n_chars").over(w))
      r.groupBy("source")
        .agg(max("n").as("n_docs"), max("tot").as("total_chars"),
          sum((lit(2) * col("i") - col("n") - 1) * col("n_chars")).as("g"))
        .select(col("source"), col("n_docs"), col("total_chars"),
          round(col("g").cast(DoubleType)
            / (col("n_docs").cast(DoubleType) * col("total_chars")), 6)
            .as("gini"))
        .orderBy("source")
    },
    Some("""
      WITH r AS (
        SELECT source, n_chars,
          row_number() OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id) AS i,
          COUNT(*) OVER (PARTITION BY source) AS n,
          SUM(n_chars) OVER (PARTITION BY source) AS tot
        FROM documents
      )
      SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        CAST(MAX(tot) AS BIGINT) AS total_chars,
        ROUND(CAST(SUM((2 * i - n - 1) * n_chars) AS DOUBLE)
          / (CAST(MAX(n) AS DOUBLE) * MAX(tot)), 6) AS gini
      FROM r GROUP BY source ORDER BY source
    """.stripMargin.trim))

  /** Per-source THEIL T INDEX of document length — the Gini's
    * information-theoretic sibling, and the inequality measure that
    * DECOMPOSES (total corpus inequality = within-source + between-
    * source, so a mixture owner can attribute imbalance to a source);
    * T = (1/n) Σ (x/μ)·ln(x/μ). Unlike the Gini there is no rank
    * window: per-source mean rides back as a broadcast dimension
    * (|sources| rows) and each doc contributes one closed-form term —
    * the cheaper shape when ranks aren't needed. The term is a
    * non-associative double fold, so it takes the chisq treatment:
    * one deterministic double expression per row (μ derives from the
    * EXACT integer Σx, ln cross-engine bit-equality proven by
    * agg_geo_harmonic_mean), rounded once at 12 dp, summed as EXACT
    * DECIMAL(24,12) — associative ⇒ partition-invariant by
    * construction — then one final division.
    *
    * Scale shape: two passes over documents (stats agg, term fold),
    * broadcast join between them, no window; output |sources| rows.
    */
  val llmSourceTheil: Op = Op(
    "llm_source_theil",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("source"), col("n_chars"))
      val stats = docs.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sx"))
        .withColumn("mu", col("sx").cast(DoubleType) / col("n"))
        .select("source", "mu")
      docs.join(broadcast(stats), "source")
        .withColumn("r", col("n_chars").cast(DoubleType) / col("mu"))
        // lim x→0⁺ of x·ln x = 0, but r=0 gives 0·(-inf) = NaN, which
        // Spark's round/cast turns into NULL (silently dropped from the
        // decimal SUM) while DuckDB propagates NaN — guard BOTH sides to
        // the limit value so a zero-length doc can't diverge the engines
        // (round-13 ADVICE; mirrors the evenness guard in
        // llm_doc_entropy).
        .withColumn("t",
          when(col("n_chars") > 0, round(col("r") * log(col("r")), 12))
            .otherwise(lit(0.0)).cast(DecimalType(24, 12)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("t").as("st"))
        .select(col("source"), col("n_docs"),
          round(col("st").cast(DoubleType) / col("n_docs"), 6).as("theil_t"))
        .orderBy("source")
    },
    Some("""
      WITH st AS (
        SELECT source, CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mu
        FROM documents GROUP BY 1
      ), t AS (
        SELECT d.source,
          CAST(ROUND(CASE WHEN d.n_chars > 0
                 THEN (d.n_chars / st.mu) * ln(d.n_chars / st.mu)
                 ELSE 0 END, 12)
               AS DECIMAL(24,12)) AS t
        FROM documents d JOIN st ON d.source = st.source
      )
      SELECT source, COUNT(*) AS n_docs,
        ROUND(CAST(SUM(t) AS DOUBLE) / COUNT(*), 6) AS theil_t
      FROM t GROUP BY source ORDER BY source
    """.stripMargin.trim))

  /** Quality SCORING — the graded companion to the boolean gate above
    * (a real pipeline ranks/thresholds on a score, it doesn't just
    * drop): per-doc length/stopword/punctuation/type-token features and
    * a documented linear composite. Everything is narrow per-row math
    * over integer counts (ratios are int/int double divisions, the
    * composite is literal-weighted add/multiply — deterministic and
    * engine-identical; no exp/log whose libm rounding could differ).
    * The punctuation ratio is honestly ~0 on this all-lowercase fixture
    * — the regexp path still exercises the real formula. Pushdown: the
    * whole op is scan → project, no shuffle but the final presentation
    * sort.
    */
  val llmQualityScore: Op = Op(
    "llm_quality_score",
    (s, dir) => {
      val nToks = size(toks)
      val nStop = size(filter(toks, t => t.isin("the", "a")))
      val nDistinct = size(array_distinct(toks))
      val punct = length(regexp_replace(col("text"), lit("[a-zA-Z0-9 ]"), lit("")))
      val stopR = nStop.cast(DoubleType) / nToks
      val ttr = nDistinct.cast(DoubleType) / nToks
      val punctR = punct.cast(DoubleType) / col("n_chars")
      val lenScore = least(nToks.cast(DoubleType) / 100.0, lit(1.0))
      Tables.documents(s, dir)
        // guard the ACTUAL denominators: size(split('')) is 1, so the
        // token guard alone lets an empty doc through to n_chars = 0 and
        // the engines then diverge (Spark NULL vs DuckDB Infinity)
        .filter(nToks >= 1 && col("n_chars") >= 1)
        .select(col("doc_id"), nToks.as("n_toks"),
          round(ttr, 6).as("type_token_ratio"),
          round(stopR, 6).as("stop_ratio"),
          round(punctR, 6).as("punct_ratio"),
          round(lit(0.35) * ttr + lit(0.25) * least(stopR * 10.0, lit(1.0)) +
            lit(0.25) * lenScore + lit(0.15) * (lit(1.0) - punctR), 6).as("score"))
        .orderBy("doc_id")
    },
    Some("""
      WITH f AS (
        SELECT doc_id, n_chars,
          len(string_split(text, ' ')) AS n_toks,
          len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop,
          len(list_distinct(string_split(text, ' '))) AS n_distinct,
          length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct
        FROM documents
      )
      SELECT doc_id, n_toks,
        ROUND(CAST(n_distinct AS DOUBLE) / n_toks, 6) AS type_token_ratio,
        ROUND(CAST(n_stop AS DOUBLE) / n_toks, 6) AS stop_ratio,
        ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
        ROUND(0.35 * (CAST(n_distinct AS DOUBLE) / n_toks)
          + 0.25 * LEAST(CAST(n_stop AS DOUBLE) / n_toks * 10.0, 1.0)
          + 0.25 * LEAST(CAST(n_toks AS DOUBLE) / 100.0, 1.0)
          + 0.15 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars), 6) AS score
      FROM f WHERE n_toks >= 1 AND n_chars >= 1
      ORDER BY doc_id
    """.stripMargin.trim))

  /** Preference-pair construction — the data-prep step behind reward
    * modeling / DPO: per source, pair its highest-quality document
    * (chosen) with its lowest (rejected), margin included, ties
    * pinned by doc_id. The quality score is llm_quality_score's exact
    * formula (same expression tree — a drift here would train the
    * reward model on a different metric than the curation gate).
    * Scale shape: ONE corpus pass computes the per-doc score; both
    * rank directions ride the SAME DataFrame (two window specs over
    * one source exchange — two sorts, no second scan, no self-join:
    * the rb=1/rw=1 survivors fold into one row per source via a
    * conditional max-struct aggregate on the partitioning the windows
    * already established).
    */
  val llmPrefPairs: Op = Op(
    "llm_pref_pairs",
    (s, dir) => {
      val nToks = size(toks)
      val nStop = size(filter(toks, t => t.isin("the", "a")))
      val nDistinct = size(array_distinct(toks))
      val punct = length(regexp_replace(col("text"), lit("[a-zA-Z0-9 ]"), lit("")))
      val stopR = nStop.cast(DoubleType) / nToks
      val ttr = nDistinct.cast(DoubleType) / nToks
      val lenScore = least(nToks.cast(DoubleType) / 100.0, lit(1.0))
      val punctR = punct.cast(DoubleType) / col("n_chars")
      val q = Tables.documents(s, dir)
        .filter(nToks >= 1 && col("n_chars") >= 1)
        .select(col("doc_id"), col("source"),
          round(lit(0.35) * ttr + lit(0.25) * least(stopR * 10.0, lit(1.0)) +
            lit(0.25) * lenScore + lit(0.15) * (lit(1.0) - punctR), 6).as("score"))
      q.withColumn("rb", row_number().over(
          Window.partitionBy("source").orderBy(col("score").desc, col("doc_id"))))
        .withColumn("rw", row_number().over(
          Window.partitionBy("source").orderBy(col("score").asc, col("doc_id"))))
        .filter(col("rb") === 1 || col("rw") === 1)
        .groupBy("source")
        .agg(
          max(when(col("rb") === 1, struct(col("doc_id"), col("score")))).as("ch"),
          max(when(col("rw") === 1, struct(col("doc_id"), col("score")))).as("rj"))
        .select(col("source"), col("ch.doc_id").as("chosen_id"),
          col("ch.score").as("chosen_score"),
          col("rj.doc_id").as("rejected_id"),
          col("rj.score").as("rejected_score"),
          round(col("ch.score") - col("rj.score"), 6).as("margin"))
        .orderBy("source")
    },
    Some("""
      WITH f AS (
        SELECT doc_id, source, n_chars,
          len(string_split(text, ' ')) AS n_toks,
          len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop,
          len(list_distinct(string_split(text, ' '))) AS n_distinct,
          length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct
        FROM documents
        WHERE len(string_split(text, ' ')) >= 1 AND n_chars >= 1
      ), q AS (
        SELECT doc_id, source,
          ROUND(0.35 * (CAST(n_distinct AS DOUBLE) / n_toks)
            + 0.25 * LEAST(CAST(n_stop AS DOUBLE) / n_toks * 10.0, 1.0)
            + 0.25 * LEAST(CAST(n_toks AS DOUBLE) / 100.0, 1.0)
            + 0.15 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars), 6) AS score
        FROM f
      ), r AS (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rb,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY score ASC, doc_id) AS rw
        FROM q
      )
      SELECT b.source, b.doc_id AS chosen_id, b.score AS chosen_score,
        w.doc_id AS rejected_id, w.score AS rejected_score,
        ROUND(b.score - w.score, 6) AS margin
      FROM (SELECT * FROM r WHERE rb = 1) b
      JOIN (SELECT * FROM r WHERE rw = 1) w ON b.source = w.source
      ORDER BY b.source
    """.stripMargin.trim))

  /** Token counting beyond whitespace: a BPE-ish regex tokenizer —
    * alpha runs split into ≤4-char subword chunks, digit runs into
    * ≤3-digit groups (the GPT-family number rule), punctuation runs as
    * single tokens. The pattern is a pure alternation of character
    * classes (no lookaround), which Java regex (Spark) and RE2 (DuckDB)
    * match identically with the same greedy-leftmost semantics. The
    * per-doc token count and the tokens-per-word / chars-per-token
    * ratios are the capacity-planning numbers an LLM-corpus budget is
    * priced in. Narrow scan → project; no shuffle.
    */
  val llmTokenCount: Op = Op(
    "llm_token_count",
    (s, dir) => {
      val pat = "[a-zA-Z]{1,4}|[0-9]{1,3}|[^a-zA-Z0-9 ]+"
      val nWs = size(toks)
      val nBpe = size(regexp_extract_all(col("text"), lit(pat), lit(0)))
      Tables.documents(s, dir)
        .filter(nWs >= 1 && nBpe >= 1) // whitespace-only docs have 0 BPE tokens
        .select(col("doc_id"), nWs.as("n_ws_tokens"), nBpe.as("n_bpe_tokens"),
          round(nBpe.cast(DoubleType) / nWs, 6).as("bpe_per_word"),
          round(col("n_chars").cast(DoubleType) / nBpe, 6).as("chars_per_token"))
        .orderBy("doc_id")
    },
    Some("""
      WITH f AS (
        SELECT doc_id, n_chars,
          len(string_split(text, ' ')) AS n_ws,
          len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]{1,3}|[^a-zA-Z0-9 ]+')) AS n_bpe
        FROM documents
      )
      SELECT doc_id, n_ws AS n_ws_tokens, n_bpe AS n_bpe_tokens,
        ROUND(CAST(n_bpe AS DOUBLE) / n_ws, 6) AS bpe_per_word,
        ROUND(CAST(n_chars AS DOUBLE) / n_bpe, 6) AS chars_per_token
      FROM f WHERE n_ws >= 1 AND n_bpe >= 1
      ORDER BY doc_id
    """.stripMargin.trim))

  /** N-gram NOVELTY audit — the memorization metric a training-data
    * pipeline tracks next to dedup: per document, how many of its word
    * 5-grams occur nowhere else in the corpus (occurrence count 1 ⇒
    * unique to this doc). Low novelty flags boilerplate/templated text
    * that exact and near dedup both miss (they judge whole documents;
    * this judges the n-gram mass). Shape: ONE corpus pass (size-guarded
    * index explode → slice — the approved Generate pattern), the gram
    * table localCheckpointed so the count branch and the join-back
    * branch read the same materialization instead of re-running the
    * explode (the llm_lang_id / llm_ngram_logprob treatment; round-10
    * verdict "Next round" #2), one partial+final count on the 5-gram
    * key, then a co-keyed hash join back to occurrences and a per-doc
    * aggregate — every key high-cardinality, no broadcast needed and
    * none possible (the gram table scales with the corpus).
    */
  val llmNgramNovelty: Op = Op(
    "llm_ngram_novelty",
    (s, dir) => {
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 5)
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(0), size(col("ws")) - 5)).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("ws"), col("i") + 1, lit(5))).as("g"))
        .localCheckpoint(true) // consumed by the count build AND the join-back
      val counts = grams.groupBy("g").agg(count(lit(1)).as("n"))
      grams.join(counts, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast(DoubleType) / col("n_grams"), 6).as("novelty"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      ), g AS (
        SELECT doc_id,
          concat_ws(' ', ws[i+1], ws[i+2], ws[i+3], ws[i+4], ws[i+5]) AS g
        FROM w, LATERAL (SELECT unnest(generate_series(0, len(ws) - 5)) AS i)
        WHERE len(ws) >= 5
      ), c AS (
        SELECT g, COUNT(*) AS n FROM g GROUP BY g
      )
      SELECT doc_id, COUNT(*) AS n_grams,
        CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
          AS novelty
      FROM g JOIN c USING (g)
      GROUP BY doc_id ORDER BY doc_id
    """.stripMargin.trim))

  /** Language identification by character-trigram profile — the n-gram
    * heuristic the north star names (Cavnar–Trenkle shape): build a
    * top-50 trigram profile per language from the corpus (doc-frequency
    * ranked, ties alphabetical), score every document by how many of
    * its DISTINCT trigrams land in each profile, predict the best-
    * scoring language (ties alphabetical), and emit the (actual,
    * predicted) confusion matrix a curation pipeline monitors. Every
    * step is deterministic, so the whole classifier is hash-gradable.
    *
    * Fixture honesty note: the synthetic corpus draws every document's
    * text from ONE shared English-word distribution regardless of its
    * `lang` label (verified by inspection — zh docs contain no CJK), so
    * the graded matrix reads near-uniform BY CONSTRUCTION; what the op
    * grades is the full deterministic train→score→argmax pipeline, and
    * on a real multi-script corpus the same plan separates languages
    * sharply.
    *
    * Scale shape: corpus-scale passes stay FULLY CODEGEN'D (round-13,
    * the fix for the 3.85→6.35→11.68 s official trend): the r12
    * row-local `array_distinct(transform(sequence(...)))` form was an
    * INTERPRETED higher-order-function chain — every doc allocated the
    * index array, a lambda-evaluated substring array, and an
    * array_distinct scan outside whole-stage codegen, and it ran TWICE
    * once the materialization (its own fixed cost) was dropped.
    * DevBench showed 7.9 s warm for that form vs 0.9 s for this one:
    * the trigram stream is explode(sequence) → substring (Generate +
    * projection, both codegen'd), and the per-doc dedup rides INSIDE
    * the aggregates as count(DISTINCT …) — Spark's two-phase distinct
    * aggregate dedups (doc, tri) map-side, so the exchange still only
    * carries deduped keys (the r12 goal) without any interpreted
    * per-row array work. Profile: partial+final over (lang, tri);
    * scores: the ~1 250-row profile rides back BROADCAST (the corpus
    * never reshuffles for the join), then two high-cardinality-key
    * aggregates (doc_id) and the tiny matrix rollup. Self-
    * classification (train = test) is the honest fixture framing; a
    * deployment ships the profile table like the IVF fit.
    */
  val llmLangId: Op = Op(
    "llm_lang_id",
    (s, dir) => {
      // spreadDocs: the ×300 trigram generate and the partial aggregates
      // above it must not inherit the scan's single partition — this op
      // was the official-trend casualty that motivated the helper
      // (7.4 → 1.3 s warm; full rationale on spreadDocs)
      // r21: the trigram Generate is the op's real cost and it fed BOTH
      // the profile build and the scoring pass (two full ×300 explode +
      // substring streams, plus a countDistinct expand in each). Dedup
      // (doc, lang, tri) ONCE: both consumers become plain counts over
      // it (per (doc, plang) the joined tris stay unique because
      // profile rows are), so the corpus is exploded exactly once
      // (guide §1.2: remove the duplicated pass before tuning anything
      // else). r22: the r21 eager localCheckpoint materialized the full
      // exploded trigram set through executor storage and REGRESSED the
      // official cell (3.03 → 4.21 s); dropped. The distinct needs NO
      // exchange of its own — its keys (doc_id, lang, tri) are a
      // superset of the spreadDocs hash(doc_id) partitioning — so each
      // consumer runs explode → in-partition distinct fully pipelined
      // (no Expand ladder, no storage round-trip); a forced shared
      // exchange after the distinct was measured plan-identical (the
      // planner elides it as redundant).
      val docTri = spreadDocs(s, dir)
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("lang"), col("text"),
          explode(expr("sequence(1, length(text) - 2)")).as("i"))
        .select(col("doc_id"), col("lang"),
          expr("substring(text, i, 3)").as("tri"))
        .distinct()
      val profile = docTri.groupBy(col("lang").as("plang"), col("tri"))
        .agg(count(lit(1)).as("df"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("plang").orderBy(col("df").desc, col("tri"))))
        .filter(col("rk") <= 50)
        .select(col("plang"), col("tri"))
      val scores = docTri.join(broadcast(profile), "tri")
        .groupBy("doc_id", "lang", "plang")
        .agg(count(lit(1)).as("score"))
      scores.withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang"))))
        .filter(col("rn") === 1)
        .groupBy(col("lang").as("actual_lang"), col("plang").as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("actual_lang", "pred_lang")
    },
    Some("""
      WITH dt AS (
        SELECT DISTINCT doc_id, lang, substring(text, i, 3) AS tri
        FROM (SELECT doc_id, lang, text FROM documents WHERE length(text) >= 3),
             LATERAL (SELECT unnest(generate_series(1, length(text) - 2)) AS i)
      ), prof AS (
        SELECT plang, tri FROM (
          SELECT lang AS plang, tri, COUNT(*) AS df,
            row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tri) AS rk
          FROM dt GROUP BY lang, tri)
        WHERE rk <= 50
      ), sc AS (
        SELECT doc_id, lang, plang, COUNT(*) AS score
        FROM dt JOIN prof USING (tri)
        GROUP BY 1, 2, 3
      ), pred AS (
        SELECT lang, plang FROM (
          SELECT lang, plang,
            row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
          FROM sc)
        WHERE rn = 1
      )
      SELECT lang AS actual_lang, plang AS pred_lang, COUNT(*) AS n_docs
      FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """.stripMargin.trim))

  /** CURRICULUM ordering — the staged-training schedule a pretraining
    * run consumes: rank documents easy→hard inside each language by a
    * deterministic composite difficulty (token count, mean token
    * length, type-token ratio — all integer-derived, divisions in
    * double rounded at 6 dp) and emit each doc's curriculum position
    * and decile. The stats are ONE row-local projection (size/
    * array_distinct over the split — no explode, no corpus shuffle);
    * the only wide op is the per-lang rank window (high-cardinality
    * enough here; a 100 TB curriculum shards the window key further —
    * (lang, difficulty-band) — exactly like the win_*_scale twins).
    * Ties pin on doc_id, so the schedule is total and hash-gradable.
    */
  val llmCurriculumOrder: Op = Op(
    "llm_curriculum_order",
    (s, dir) => {
      val stats = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(toks).as("n_toks"),
          (length(col("text")) - size(toks) + 1).as("n_chars_tok"),
          size(array_distinct(toks)).as("n_types"))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          round(col("n_chars_tok").cast(DoubleType) / col("n_toks"), 6)
            .as("mean_tok_len"),
          round(col("n_types").cast(DoubleType) / col("n_toks"), 6).as("ttr"))
      val difficulty = round(col("n_toks") * 0.5 +
        col("mean_tok_len") * 10.0 + col("ttr") * 20.0, 6)
      val w = Window.partitionBy("lang")
        .orderBy(col("difficulty"), col("doc_id"))
      stats.withColumn("difficulty", difficulty)
        .withColumn("pos", row_number().over(w))
        .withColumn("decile", ntile(10).over(w))
        .select(col("lang"), col("doc_id"), col("n_toks"),
          col("mean_tok_len"), col("ttr"), col("difficulty"),
          col("pos"), col("decile"))
        .orderBy("lang", "pos")
    },
    Some("""
      WITH stats AS (
        SELECT doc_id, lang,
          len(string_split(text, ' ')) AS n_toks,
          ROUND(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS mean_tok_len,
          ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')), 6) AS ttr
        FROM documents
      ), d AS (
        SELECT *, ROUND(n_toks * 0.5 + mean_tok_len * 10.0 + ttr * 20.0, 6)
          AS difficulty
        FROM stats
      )
      SELECT lang, doc_id, n_toks, mean_tok_len, ttr, difficulty,
        row_number() OVER w AS pos, ntile(10) OVER w AS decile
      FROM d
      WINDOW w AS (PARTITION BY lang ORDER BY difficulty, doc_id)
      ORDER BY lang, pos
    """.stripMargin.trim))

  /** Corpus statistics per language: doc/token/term counts, type-token
    * ratio, mean doc length, and the top-10 terms (count desc, term asc —
    * fully tie-broken). Term counting is explode → hash-agg (map-side
    * partial), top-k is a per-lang window over the small aggregated set.
    */
  val llmTextStats: Op = Op(
    "llm_text_stats",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = docs.select(col("lang"), explode(toks).as("term"))
      val termCounts = terms.groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      val top = termCounts
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("term"))))
        .filter(col("rn") <= 10)
        .groupBy("lang")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("rn"), col("term")))),
            x => x.getField("term")), ",").as("top_terms"))
      val tok = terms.groupBy("lang").agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("term")).as("n_terms"))
      val doc = docs.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      doc.join(tok, "lang").join(top, "lang")
        .select(
          col("lang"), col("n_docs"), col("n_tokens"), col("n_terms"),
          round(col("n_terms").cast(DoubleType) / col("n_tokens"), 6).as("ttr"),
          col("avg_chars"), col("top_terms"))
        .orderBy("lang")
    },
    Some("""
      WITH terms AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
      ), tc AS (
        SELECT lang, term, COUNT(*) AS cnt FROM terms GROUP BY 1, 2
      ), top AS (
        SELECT lang, string_agg(term, ',' ORDER BY rn) AS top_terms
        FROM (SELECT lang, term,
                row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rn
              FROM tc)
        WHERE rn <= 10 GROUP BY lang
      ), tok AS (
        SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT term) AS n_terms
        FROM terms GROUP BY 1
      ), doc AS (
        SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars
        FROM documents GROUP BY 1
      )
      SELECT doc.lang, n_docs, n_tokens, n_terms,
        ROUND(CAST(n_terms AS DOUBLE) / n_tokens, 6) AS ttr,
        avg_chars, top_terms
      FROM doc JOIN tok ON doc.lang = tok.lang JOIN top ON doc.lang = top.lang
      ORDER BY doc.lang
    """.stripMargin.trim))

  /** Pure-relational TF-IDF (no MLlib, so it stays oracle-checkable):
    * tf(doc,term) × ln(N/df(term)), top term per doc. The corpus size N
    * stays in-plan as a broadcast 1-row aggregate — no driver-side count.
    * Ranking uses the ROUNDED score (both engines rank identical values,
    * so the winner can't flip on a last-ulp difference).
    */
  val llmTextTfidf: Op = Op(
    "llm_text_tfidf",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tf = docs.select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
      val n = docs.agg(count(lit(1)).as("n_total"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_total").cast(DoubleType) / col("dfreq")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term"), col("tf"), col("dfreq"), col("tfidf"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY 1, 2
      ), dfreq AS (
        SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1
      ), n AS (
        SELECT COUNT(*) AS n_total FROM documents
      ), scored AS (
        SELECT doc_id, tf.term, tf, dfreq.dfreq,
          ROUND(tf * ln(CAST(n_total AS DOUBLE) / dfreq.dfreq), 6) AS tfidf
        FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
      )
      SELECT doc_id, term, tf, dfreq, tfidf
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term) AS rn FROM scored)
      WHERE rn = 1 ORDER BY doc_id
    """.stripMargin.trim))

  /** Exact dedup on normalized text (lower/trim/space-squeeze), keep the
    * minimum doc_id per group. Groups by the sha256 fingerprint, NOT the
    * full text — at 100 TB the shuffle carries a 64-char key per row
    * instead of multi-KB documents. (Fixture plants 0 exact duplicates,
    * so every group has n_copies = 1 — the near-dup operator below holds
    * the real signal.)
    */
  val llmDedupExact: Op = Op(
    "llm_dedup_exact",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          normFp.as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"), col("fp"))
        .orderBy("keep_id"),
    Some("""
      SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies, fp
      FROM (SELECT doc_id,
              sha256(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
            FROM documents)
      GROUP BY fp ORDER BY keep_id
    """.stripMargin.trim))

  /** Per-doc sorted distinct shingle ARRAY, computed entirely narrowly —
    * no explode, no distinct, NO SHUFFLE. The round-3 formulation
    * materialized a (doc_id, shingle) row table whose explode+distinct
    * exchange Catalyst re-planned 4-6× across its consumers (verified in
    * the static plan: no ReusedExchange); keeping the shingle set as an
    * array column makes every consumer a cheap narrow re-scan instead.
    * Row width is bounded by the document itself (a shingle array is
    * ~5× the text), the same envelope the text column already sets.
    */
  private def shingleArr(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_sort(array_distinct(
        expr("transform(sequence(1, size(toks) - 4), i -> concat_ws(' ', slice(toks, i, 5)))")))
      .as("shs"))

  /** Near-duplicate pairs: word-5-gram shingles → banded candidate
    * generation → EXACT Jaccard verify at ≥ 0.8. Never all-pairs: each
    * doc contributes its 5 lexicographically-smallest shingles as
    * candidate keys (a deterministic MinHash band — P[miss] ≈ (1−J)⁵,
    * < 1e-3 at J ≥ 0.8; on this fixture it finds all 25 planted pairs,
    * verified against the full-join ground truth). At 100 TB swap the
    * lexicographic band for k seeded hash-min signatures (MinHashLSH) —
    * identical plan shape: per-doc signature array → equi-join on band →
    * exact verify on the (tiny) candidate set.
    *
    * Shuffle inventory (the 100 TB story): the ONLY wide exchanges are
    * (1) the 5-shingles/doc band self-join and (2) joining the small
    * verified pair set back to the shingle arrays — the full shingle set
    * never shuffles as rows. The array table is materialized ONCE via
    * eager localCheckpoint: its 4 consumers then read executor-local
    * blocks instead of re-running the narrow compute (measured 2×
    * faster than recomputing at sf0.1: 1.5 s → 0.8 s warm; round 3's
    * row-table formulation, which re-planned an explode+distinct
    * exchange 4-6×, was 6.55 s single-shot). On a real cluster swap
    * localCheckpoint for a reliable checkpoint dir if executor loss
    * mid-query must be survivable.
    */
  /** The verified near-dup pair set (a_id < b_id, exact Jaccard ≥ 0.8)
    * — the llm_dedup_near pipeline pre-sort, factored out so the
    * cluster-resolution op below consumes the SAME detector output.
    */
  private val nearPairsCache = new SessionArtifact[DataFrame]
  private def nearPairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    // the verified pair set is the DETECTOR ARTIFACT three ops consume
    // (near, cluster, cluster_scale) — materialize it once per (session,
    // fixture dir) like the IVF fit and the bucketed tables: a real
    // pipeline runs the detector once and every downstream stage reads
    // its output, and the pair set is tiny (candidate-bounded)
    nearPairsCache(s, dir) {
      nearPairsFrom(s, Tables.documents(s, dir)).localCheckpoint(true)
        // fresh attribute ids: consumers self-union projections of this
        // frame (see starRound's analyzer-dedup note)
        .toDF("a_id", "b_id", "jacc")
    }

  /** Same pipeline over an arbitrary (doc_id, text, …) relation — the
    * curation pipeline op feeds it the post-exact-dedup survivor set. */
  private def nearPairsFrom(s: org.apache.spark.sql.SparkSession, docsRaw: DataFrame): DataFrame = {
    val docs = docsRaw
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 5)
    val withSh = shingleArr(docs).localCheckpoint(true)
    // candidate bands: 5 lexicographically-min shingles = first 5 of
    // the sorted array (narrow — the round-3 window+filter needed a
    // full shuffle on doc_id just to rank shingles)
    val cand = withSh.select(col("doc_id"), explode(slice(col("shs"), 1, 5)).as("shingle"))
    val pairs = cand.as("a")
      .join(cand.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // exact verify: pull both docs' shingle arrays and intersect —
    // arrays are sorted+distinct, so the native two-pointer
    // SortedIntersectCount (codegen'd, zero-allocation; proven equal
    // to size(array_intersect) in SortedIntersectSuite) counts the
    // true overlap
    val inter = expr("graft_sorted_intersect_count(a_shs, b_shs)").cast(DoubleType)
    val jacc = inter / (size(col("a_shs")) + size(col("b_shs")) - inter)
    pairs
      .join(withSh.select(col("doc_id").as("a_id"), col("shs").as("a_shs")), "a_id")
      .join(withSh.select(col("doc_id").as("b_id"), col("shs").as("b_shs")), "b_id")
      .filter(jacc >= 0.8)
      .select(col("a_id"), col("b_id"), round(jacc, 6).as("jacc"))
  }

  /** URL-CANONICALIZATION DEDUP — the dedup mechanism every WEB corpus
    * runs before any content hashing (CommonCrawl-style): the same
    * resource arrives under scheme variants, host-case variants,
    * tracking-parameter variants, and trailing-slash variants, and the
    * canonicalizer must collapse them WITHOUT touching payload bytes.
    * The fixture plants the variants in-plan from doc_id strides
    * (http/https by %2, three host casings by %3, trailing slash by
    * %7, three query shapes by %5 — utm-only, utm-after-real-param,
    * real-param-only), and the canonical form is computed from the URL
    * STRING by a 6-step normalizer: scheme upgrade, host lowercase
    * (extract → lower → rebuild, never lowercasing the path), GLOBAL
    * utm_* parameter strip, first-separator repair (`&` with no `?`
    * before it becomes `?` — the case a leading utm strip exposes),
    * dangling-`?` strip, slash-before-query/end strip. Groups with
    * > 1 member dedup keep-min. ORACLE: the same normalizer in DuckDB
    * regex dialect (backrefs `\1` vs `$1`, explicit 'g' flag vs
    * Spark's replace-all default — two implementations of one spec),
    * so the hash match proves the canonical algebra, not one engine's
    * regex quirks.
    *
    * Scale shape: pure per-row string work in the scan stage + one
    * canonical-key aggregate — the cheapest dedup in the family and
    * the first one a 100 TB web pipeline applies (it removes URL-level
    * duplicates before any content fingerprint is paid).
    */
  val llmDedupUrl: Op = Op(
    "llm_dedup_url",
    (s, dir) => {
      val url = concat(
        when(col("doc_id") % 2 === 0, "http").otherwise("https"),
        lit("://"),
        when(col("doc_id") % 3 === 0, "EXAMPLE.COM")
          .when(col("doc_id") % 3 === 1, "example.com")
          .otherwise("Example.Com"),
        lit("/p/"), (col("doc_id") % 25).cast(StringType),
        when(col("doc_id") % 7 === 0, "/").otherwise(""),
        when(col("doc_id") % 5 === 0, "?utm_source=feed&utm_campaign=x")
          .when(col("doc_id") % 5 === 1, "?ref=kept&utm_medium=z")
          .when(col("doc_id") % 5 === 2, "?ref=kept")
          .otherwise(""))
      val c0 = regexp_replace(url, "^http://", "https://")
      val c1 = concat(lit("https://"),
        lower(regexp_extract(c0, "^https://([^/]+)", 1)),
        regexp_replace(c0, "^https://[^/]+", ""))
      val canon =
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(c1,
          "[?&]utm_[a-z]+=[^&]*", ""),
          "^([^?]*)&", "$1?"),
          "\\?$", ""),
          "/(\\?|$)", "$1")
      Tables.documents(s, dir)
        .select(col("doc_id"), canon.as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"),
          max("doc_id").as("max_dropped"))
        .filter(col("n_docs") > 1)
        .orderBy("canon")
    },
    Some("""
      WITH u AS (
        SELECT doc_id,
          (CASE doc_id % 2 WHEN 0 THEN 'http' ELSE 'https' END) || '://' ||
          (CASE doc_id % 3 WHEN 0 THEN 'EXAMPLE.COM'
             WHEN 1 THEN 'example.com' ELSE 'Example.Com' END) ||
          '/p/' || CAST(doc_id % 25 AS VARCHAR) ||
          (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
          (CASE doc_id % 5 WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
             WHEN 1 THEN '?ref=kept&utm_medium=z'
             WHEN 2 THEN '?ref=kept' ELSE '' END) AS url
        FROM documents
      ), c AS (
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            'https://' ||
              lower(regexp_extract(regexp_replace(url, '^http://', 'https://'),
                '^https://([^/]+)', 1)) ||
              regexp_replace(regexp_replace(url, '^http://', 'https://'),
                '^https://[^/]+', ''),
            '[?&]utm_[a-z]+=[^&]*', '', 'g'),
            '^([^?]*)&', '\1?'),
            '\?$', ''),
            '/(\?|$)', '\1') AS canon
        FROM u
      )
      SELECT canon, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id,
        MAX(doc_id) AS max_dropped
      FROM c GROUP BY canon HAVING COUNT(*) > 1 ORDER BY canon
    """.stripMargin.trim))

  val llmDedupNear: Op = Op(
    "llm_dedup_near",
    (s, dir) => nearPairs(s, dir).orderBy("a_id", "b_id"),
    Some(s"""
      WITH ${nearPairsSqlCtes()}
      SELECT a_id, b_id, jacc FROM vp ORDER BY a_id, b_id
    """.stripMargin.trim))

  /** CONTAINMENT near-dup detection — the asymmetric complement of
    * llm_dedup_near's Jaccard: C(A→B) = |A∩B| / |A| flags a document
    * whose shingle set is (mostly) swallowed by a larger one — the
    * boilerplate-wrapped / quoted-in-full / superset-crawl case that
    * symmetric Jaccard under-scores (J of a doc inside one 3× its size
    * tops out at ⅓ while C = 1.0). Candidate generation is the
    * INVERTED-INDEX shape, not a band self-join: the candidate's 5
    * lexicographically-min shingles equi-join the full shingle table
    * (if ≥ 80 % of A sits inside B, at least one of A's min-5 shingles
    * is in B with P ≈ 1 − 0.2⁵), then the exact two-pointer intersect
    * verifies on the candidate set only. Orientation: the smaller set
    * is the contained side; equal-size pairs emit once (a_id < b_id,
    * where C is symmetric anyway).
    *
    * Scale shape: the big exchange is the by-shingle candidate join —
    * the llm_bm25_retrieval inverted-index pattern (shuffle keys on
    * the posting term, never doc×doc); at 100 TB the min-5 probe side
    * stays 5 rows/doc while the full-set side hash-partitions by
    * shingle, and the verify join rides the tiny candidate set against
    * the checkpointed shingle arrays (the nearPairs treatment).
    */
  val llmDedupContainment: Op = Op(
    "llm_dedup_containment",
    (s, dir) => {
      // spreadDocs: unlike nearPairs' 5-shingle band explode, the
      // posting side below explodes the FULL shingle set — from the
      // single-file scan's one partition that whole generate would
      // serialize on one core (the llm_lang_id starvation class)
      val docs = spreadDocs(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 5)
      val withSh = shingleArr(docs).localCheckpoint(true)
      val probe = withSh.select(col("doc_id"),
        explode(slice(col("shs"), 1, 5)).as("shingle"))
      val posting = withSh.select(col("doc_id").as("out_probe"),
        explode(col("shs")).as("shingle"))
      val cpairs = probe
        .join(posting,
          probe("shingle") === posting("shingle")
            && col("doc_id") =!= col("out_probe"))
        .select(col("doc_id").as("in_id"), col("out_probe").as("out_id"))
        .distinct()
      val inter = expr("graft_sorted_intersect_count(in_shs, out_shs)")
        .cast(DoubleType)
      val cont = inter / size(col("in_shs"))
      cpairs
        .join(withSh.select(col("doc_id").as("in_id"), col("shs").as("in_shs")),
          "in_id")
        .join(withSh.select(col("doc_id").as("out_id"), col("shs").as("out_shs")),
          "out_id")
        .filter(cont >= 0.8 &&
          (size(col("in_shs")) < size(col("out_shs")) ||
            (size(col("in_shs")) === size(col("out_shs"))
              && col("in_id") < col("out_id"))))
        .select(col("in_id"), col("out_id"), round(cont, 6).as("containment"))
        .orderBy("in_id", "out_id")
    },
    Some(s"""
      WITH ${shingleSqlCtes()}, probe AS (
        SELECT doc_id, shingle
        FROM (SELECT doc_id, shingle,
                row_number() OVER (PARTITION BY doc_id ORDER BY shingle) AS rn
              FROM sh)
        WHERE rn <= 5
      ), cpairs AS (
        SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS out_id
        FROM probe a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      ), inter AS (
        SELECT p.in_id, p.out_id, COUNT(*) AS inter
        FROM cpairs p
          JOIN sh sa ON sa.doc_id = p.in_id
          JOIN sh sb ON sb.doc_id = p.out_id AND sb.shingle = sa.shingle
        GROUP BY 1, 2
      )
      SELECT i.in_id, i.out_id,
        ROUND(CAST(inter AS DOUBLE) / za.sz, 6) AS containment
      FROM inter i
        JOIN sizes za ON za.doc_id = i.in_id
        JOIN sizes zb ON zb.doc_id = i.out_id
      WHERE CAST(inter AS DOUBLE) / za.sz >= 0.8
        AND (za.sz < zb.sz OR (za.sz = zb.sz AND i.in_id < i.out_id))
      ORDER BY in_id, out_id
    """.stripMargin.trim))

  /** The near-dup CTE chain up to the verified-pair set `vp(a_id, b_id,
    * jacc)` — shared by the pair op's oracle and the cluster op's
    * (which prepends RECURSIVE and appends the component CTEs).
    */
  /** Shingle-table prefix (doc → distinct word-5-gram rows + set sizes)
    * — shared by the near-dup, cluster, minhash, and pipeline oracles;
    * `src` is the document relation to shingle. */
  private def shingleSqlCtes(src: String = "documents"): String = s"""t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM $src
      ), idx AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
        FROM t WHERE len(toks) >= 5
      ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle FROM idx
      ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1
      )"""

  private def nearPairsSqlCtes(src: String = "documents"): String =
    s"""${shingleSqlCtes(src)}, cand AS (
        SELECT doc_id, shingle
        FROM (SELECT doc_id, shingle,
                row_number() OVER (PARTITION BY doc_id ORDER BY shingle) AS rn FROM sh)
        WHERE rn <= 5
      ), pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM cand a JOIN cand b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      ), inter AS (
        SELECT p.a_id, p.b_id, COUNT(*) AS inter
        FROM pairs p
          JOIN sh sa ON sa.doc_id = p.a_id
          JOIN sh sb ON sb.doc_id = p.b_id AND sb.shingle = sa.shingle
        GROUP BY 1, 2
      ), vp AS (
        SELECT i.a_id, i.b_id,
          ROUND(CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter), 6) AS jacc
        FROM inter i
          JOIN sizes za ON za.doc_id = i.a_id
          JOIN sizes zb ON zb.doc_id = i.b_id
        WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.8
      )"""

  /** SUB-DOCUMENT span dedup (the C4/RefinedWeb line-dedup adapted to
    * the fixture's unbroken text): docs split into fixed 10-word
    * chunks, chunks fingerprinted, and every occurrence of a
    * fingerprint AFTER its first (ordered by (doc_id, chunk_idx) — the
    * deterministic "first writer keeps" rule) is marked duplicate; the
    * graded output is each doc's span-duplication profile (chunk
    * count, dup count, dup ratio), the signal a curation pipeline
    * thresholds to drop boilerplate-heavy pages that DOC-level dedup
    * (exact or near) never catches because the surrounding page
    * differs. Companion to llm_dedup_containment: containment finds
    * the wrapped-document case, this finds the repeated-span case.
    *
    * Scale shape: chunking is narrow (spreadDocs feeds it — the full
    * per-doc explode is the starvation class); the only wide exchange
    * keys on the chunk FINGERPRINT (bounded fan-in per key), then the
    * per-doc profile re-keys on doc_id — two co-bounded shuffles, no
    * doc×doc anywhere.
    */
  val llmDedupSpans: Op = Op(
    "llm_dedup_spans",
    (s, dir) => {
      val chunks = spreadDocs(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"), posexplode(
          expr("transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1)," +
            " i -> md5(concat_ws(' ', slice(toks, i*10+1, 10))))")))
        .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("fp"))
      chunks
        .withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") > 1, 1).otherwise(0)).as("n_dup"))
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          round(col("n_dup").cast(DoubleType) / col("n_chunks"), 6)
            .as("dup_ratio"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 1
      ), idx AS (
        SELECT doc_id, toks,
          unnest(generate_series(0, CAST(ceil(len(toks) / 10.0) AS INT) - 1)) AS i
        FROM t
      ), ch AS (
        SELECT doc_id, i AS chunk_idx,
          md5(array_to_string(toks[i*10+1 : i*10+10], ' ')) AS fp
        FROM idx
      ), flagged AS (
        SELECT doc_id, chunk_idx,
          row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn
        FROM ch
      )
      SELECT doc_id, COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*), 6) AS dup_ratio
      FROM flagged GROUP BY doc_id ORDER BY doc_id
    """.stripMargin.trim))

  /** Per-document word-distribution ENTROPY — the gibberish/boilerplate
    * detector quality pipelines threshold alongside the repetition
    * filter: low entropy = a few words dominate (spam keyword stuffing,
    * template pages), evenness (H / log₂ distinct) normalizes away
    * vocabulary size so long and short docs compare. The per-doc sum
    * −Σ (c/n)·log₂(c/n) is a non-associative DOUBLE fold, so it runs
    * over the word-SORTED term list on both engines (collect_list →
    * array_sort → aggregate() ⇄ list(ORDER BY) → list_aggregate 'sum'
    * — the events_markov_stationary treatment): bit-identical prefix
    * sums by construction.
    *
    * Scale shape: explode → (doc, word) count → per-doc fold, all
    * co-keyed on doc_id after the first aggregate's map-side combine;
    * spreadDocs feeds the explode (single-file starvation class).
    */
  val llmDocEntropy: Op = Op(
    "llm_doc_entropy",
    (s, dir) => {
      val counts = spreadDocs(s, dir)
        .select(col("doc_id"), explode(toks).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .withColumn("n", sum("c").over(Window.partitionBy("doc_id")))
      counts
        .withColumn("term",
          -(col("c").cast(DoubleType) / col("n"))
            * log2(col("c").cast(DoubleType) / col("n")))
        .groupBy("doc_id")
        .agg(max("n").as("n_toks"), count(lit(1)).as("n_distinct"),
          expr("aggregate(array_sort(collect_list(struct(word, term)))," +
            " cast(0.0 as double), (acc, x) -> acc + x.term)").as("h"))
        .select(col("doc_id"), col("n_toks"), col("n_distinct"),
          round(col("h"), 6).as("entropy"),
          round(when(col("n_distinct") === 1, lit(0.0))
            .otherwise(col("h") / log2(col("n_distinct"))), 6).as("evenness"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      w AS (SELECT doc_id, unnest(toks) AS word FROM t),
      c AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
      cn AS (SELECT doc_id, word, c,
               SUM(c) OVER (PARTITION BY doc_id) AS n FROM c),
      e AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_toks,
              COUNT(*) AS n_distinct,
              list_aggregate(list(-(CAST(c AS DOUBLE) / n)
                * log2(CAST(c AS DOUBLE) / n) ORDER BY word), 'sum') AS h
            FROM cn GROUP BY doc_id)
      SELECT doc_id, n_toks, n_distinct, ROUND(h, 6) AS entropy,
        ROUND(CASE WHEN n_distinct = 1 THEN 0.0
              ELSE h / log2(n_distinct) END, 6) AS evenness
      FROM e ORDER BY doc_id
    """.stripMargin.trim))

  /** COLLOCATION mining by pointwise mutual information — the corpus
    * statistic behind phrase detection (word2vec-style phrase merging,
    * multiword tokenizer entries): unordered word pairs co-occurring
    * within a forward window of 4, scored PMI = log₂(p(ab)/(p(a)p(b))),
    * min support 5, top-100 by (pmi, a, b). Pair generation is IN-ROW
    * (each position's partner list is a slice — no self-join, no
    * positions table shuffle): the corpus-wide exchanges key on the
    * pair and the unigram, inverted-index style. Totals N (tokens) and
    * P (pairs) ride a 1-row broadcast crossJoin (in-plan-N). The sort
    * key is the ROUNDED pmi on both engines so the top-100 cutoff
    * can't straddle a last-ulp difference.
    *
    * Scale shape: one narrow pair-explode pass (spreadDocs against the
    * single-file scan), two partial+final aggregates, a broadcast
    * unigram join (vocabulary-sized), TakeOrdered top-100.
    */
  val llmCollocationPmi: Op = Op(
    "llm_collocation_pmi",
    (s, dir) => {
      val docs = spreadDocs(s, dir).select(col("doc_id"), toks.as("toks"))
      val pairs = docs.select(explode(expr(
          "flatten(transform(sequence(1, size(toks)), i -> " +
            "transform(slice(toks, i + 1, 4), y -> " +
            "struct(least(element_at(toks, i), y) as a, " +
            "greatest(element_at(toks, i), y) as b))))")).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
        .localCheckpoint(true)
      val pairCounts = pairs.groupBy("a", "b").agg(count(lit(1)).as("n_pair"))
      // r22 (guide §1.2): uni feeds THREE consumers (both broadcast
      // sides of the pmi join and the totals' N) — the before-plan
      // re-ran the full corpus tokenize+explode subtree once per
      // consumer. The aggregate is vocabulary-sized, so materializing
      // it once costs nothing and cuts two full corpus passes.
      val uni = docs.select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val totals = uni.agg(sum("c").cast(DoubleType).as("n"))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).cast(DoubleType).as("p"))))
      pairCounts
        .join(broadcast(uni.select(col("word").as("a"), col("c").as("ca"))), "a")
        .join(broadcast(uni.select(col("word").as("b"), col("c").as("cb"))), "b")
        .crossJoin(broadcast(totals))
        .filter(col("n_pair") >= 5)
        .select(col("a"), col("b"), col("n_pair"),
          round(log2((col("n_pair").cast(DoubleType) / col("p"))
            / ((col("ca").cast(DoubleType) / col("n"))
              * (col("cb").cast(DoubleType) / col("n")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(100)
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      idx AS (SELECT doc_id, toks,
                unnest(generate_series(1, len(toks))) AS i FROM t),
      pr AS (SELECT doc_id, least(toks[i], unnest(toks[i+1:i+4])) AS a,
                    greatest(toks[i], unnest(toks[i+1:i+4])) AS b
             FROM idx),
      pc AS (SELECT a, b, COUNT(*) AS n_pair FROM pr GROUP BY 1, 2),
      uni AS (SELECT word, COUNT(*) AS c
              FROM (SELECT unnest(toks) AS word FROM t) GROUP BY 1),
      tot AS (SELECT (SELECT CAST(SUM(c) AS DOUBLE) FROM uni) AS n,
                     (SELECT CAST(COUNT(*) AS DOUBLE) FROM pr) AS p)
      SELECT a, b, CAST(n_pair AS BIGINT) AS n_pair,
        ROUND(log2((CAST(n_pair AS DOUBLE) / p) /
          ((CAST(ca.c AS DOUBLE) / n) * (CAST(cb.c AS DOUBLE) / n))), 6) AS pmi
      FROM pc JOIN uni ca ON ca.word = pc.a JOIN uni cb ON cb.word = pc.b, tot
      WHERE n_pair >= 5
      ORDER BY pmi DESC, a, b LIMIT 100
    """.stripMargin.trim))

  /** RAKE keyword extraction — PHRASE-level salience next to the
    * word-level TF-IDF/PMI pair: candidate phrases are the maximal
    * stopword-free runs (gaps-and-islands over token position — the
    * sessionize machinery applied to text, with the fixture's two
    * function words as delimiters), capped at 3 words per the standard
    * RAKE variant; each word scores deg/freq (deg = Σ phrase length
    * over its occurrences — co-occurrence credit, freq = occurrence
    * count), and a phrase scores the sum of its member-occurrence
    * word scores. Word scores snap to DECIMAL(18,10) before the
    * per-phrase sum so the ≤3-term fold is EXACT (the chisq rounding
    * treatment — no float-order hazard), and the top-20 is a total
    * order (score DESC, phrase ASC).
    *
    * Scale shape: the islands window co-keys on doc_id (one shuffle),
    * the word-score dimension is VOCABULARY-sized and broadcasts into
    * the scoring join, and the final ranking is a TakeOrdered over
    * distinct phrases — no all-pairs stage anywhere.
    */
  val llmKeywordRake: Op = Op(
    "llm_keyword_rake",
    (s, dir) => {
      val stops = Seq("a", "the")
      val w = spreadDocs(s, dir)
        .select(col("doc_id"), posexplode(toks).as(Seq("pos", "word")))
        .withColumn("stop", col("word").isInCollection(stops))
        .withColumn("grp", sum(when(col("stop"), 1L).otherwise(0L)).over(
          Window.partitionBy("doc_id").orderBy("pos")))
      val phrases = w.filter(!col("stop"))
        .groupBy("doc_id", "grp")
        .agg(count(lit(1)).as("plen"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word"))).as("phrase"))
        .filter(col("plen") <= 3)
        // reused by the word-score build AND the scoring join: one
        // islands pass total (the ab_cuped frontier pattern)
        .localCheckpoint(true)
      val wordScores = phrases
        .select(col("plen"), explode(split(col("phrase"), " ")).as("word"))
        .groupBy("word")
        .agg(round(sum(col("plen")).cast(DoubleType) / count(lit(1)), 10)
          .cast(DecimalType(18, 10)).as("wscore"))
      phrases
        .select(col("doc_id"), col("grp"), col("phrase"), col("plen"),
          explode(split(col("phrase"), " ")).as("word"))
        .join(broadcast(wordScores), "word")
        .groupBy("doc_id", "grp", "phrase", "plen")
        .agg(sum(col("wscore")).as("score"))
        .groupBy("phrase")
        .agg(count(lit(1)).as("n_occ"), max(col("plen")).as("n_words"),
          round(max(col("score")).cast(DoubleType), 6).as("score"))
        .orderBy(col("score").desc, col("phrase"))
        .limit(20)
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      ), w AS (
        SELECT doc_id, toks[i] AS word, i AS pos
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
      ), marked AS (
        SELECT doc_id, word, pos,
          word IN ('a','the') AS stop,
          SUM(CASE WHEN word IN ('a','the') THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM w
      ), phr AS (
        SELECT doc_id, grp, COUNT(*) AS plen,
          string_agg(word, ' ' ORDER BY pos) AS phrase
        FROM marked WHERE NOT stop GROUP BY doc_id, grp
      ), okphr AS (
        SELECT * FROM phr WHERE plen <= 3
      ), wsc AS (
        SELECT t.word,
          CAST(ROUND(CAST(SUM(p.plen) AS DOUBLE) / COUNT(*), 10)
            AS DECIMAL(18,10)) AS wscore
        FROM okphr p,
          LATERAL (SELECT unnest(string_split(p.phrase, ' ')) AS word) t
        GROUP BY t.word
      ), scored AS (
        SELECT p.doc_id, p.grp, p.phrase, p.plen, SUM(s.wscore) AS score
        FROM okphr p,
          LATERAL (SELECT unnest(string_split(p.phrase, ' ')) AS word) t
          JOIN wsc s ON s.word = t.word
        GROUP BY 1, 2, 3, 4
      )
      SELECT phrase, COUNT(*) AS n_occ, CAST(MAX(plen) AS BIGINT) AS n_words,
        ROUND(CAST(MAX(score) AS DOUBLE), 6) AS score
      FROM scored GROUP BY phrase
      ORDER BY score DESC, phrase LIMIT 20
    """.stripMargin.trim))

  /** Cluster resolution: verified near-dup PAIRS → connected components
    * → a keep-one verdict per clustered doc (the step SURVEY §2.10's
    * "connected keep-one" promises; a real dedup pipeline drops every
    * keep=0 row). Components come from min-label propagation over the
    * symmetric edge list: each round every node takes the min label
    * among itself and its neighbors, so after k rounds a node's label
    * is the min doc_id within graph distance k. Three rounds cover
    * diameter ≤ 3; the ORACLE computes the TRUE components (DuckDB
    * recursive-CTE transitive closure), so the hash compare also
    * PROVES the propagation converged on this corpus (planted clusters
    * are pairs — diameter 1 — with occasional transitive chains).
    *
    * Scale shape: the pair set is detector-bounded (band join output),
    * orders of magnitude smaller than the corpus; it materializes ONCE
    * (localCheckpoint) so the loop's 3 joins reread executor-local
    * blocks instead of re-running the detector. Each round is one
    * shuffle on the edge key. At 100 TB run the same loop to a
    * changed-count=0 fixed point (or alternate large-star/small-star
    * to bound skew on giant components); label state is 16 bytes/node.
    */
  /** 3-round min-label propagation over a verified pair set → (id, lbl)
    * component labels (shared by the cluster op and the curation
    * pipeline; convergence argument in llm_dedup_cluster's scaladoc).
    */
  private def clusterLabels(vp: DataFrame): DataFrame = {
    val edges = vp.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(vp.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(true)
    var lbl = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to 3) {
      val peerMin = edges
        .join(lbl.select(col("id").as("dst"), col("lbl").as("plbl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("plbl")).as("pmin"))
      // r22 (guide §1.2/§3.3 plan truncation): each round consumes the
      // prior labels TWICE (the peer-min build and the join), so
      // without a per-round materialization the lineage doubled every
      // round — the before-plans of the two consumers carried ~48
      // Exchanges / 29 SortMergeJoins of replayed sub-rounds. The label
      // frame is pair-set-bounded (one row per clustered id), so the
      // checkpoint is tiny and each round now computes exactly once —
      // the same flat-loop discipline starRound already applies.
      val next = lbl.join(peerMin, "id")
        .select(col("id"), least(col("lbl"), col("pmin")).as("lbl"))
        .localCheckpoint(true)
      releaseCheckpoint(lbl) // materialized `next` no longer reads it
      lbl = next
    }
    releaseCheckpoint(edges)
    lbl
  }

  /** Connected components + min-label SQL suffix over a `vp(a_id, b_id)`
    * CTE — must appear under WITH RECURSIVE. */
  private def ccSqlCtes: String = """edges AS (
        SELECT a_id AS src, b_id AS dst FROM vp
        UNION ALL
        SELECT b_id, a_id FROM vp
      ), cc AS (
        SELECT src AS id, dst AS r FROM edges
        UNION
        SELECT cc.id, e.dst FROM cc JOIN edges e ON cc.r = e.src
      ), lbl AS (
        SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM cc GROUP BY id
      )"""

  val llmDedupCluster: Op = Op(
    "llm_dedup_cluster",
    (s, dir) => {
      val lbl = clusterLabels(nearPairs(s, dir).select("a_id", "b_id"))
      val sz = lbl.groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_sz"))
      lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
          when(col("id") === col("lbl"), 1).otherwise(0).as("keep"))
        .join(sz, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_sz"), col("keep"))
        .orderBy("cluster_id", "doc_id")
    },
    Some(s"""
      WITH RECURSIVE ${nearPairsSqlCtes()}
      , $ccSqlCtes, sz AS (
        SELECT cluster_id, COUNT(*) AS cluster_sz FROM lbl GROUP BY 1
      )
      SELECT l.id AS doc_id, l.cluster_id, s.cluster_sz,
        CASE WHEN l.id = l.cluster_id THEN 1 ELSE 0 END AS keep
      FROM lbl l JOIN sz s USING (cluster_id)
      ORDER BY cluster_id, doc_id
    """.stripMargin.trim))

  /** DEDUP-AWARE SAMPLING WEIGHTS — the step that turns a dedup verdict
    * into a training sampler: every SURVIVING doc (cluster keeper or
    * untouched singleton) carries weight = its cluster size, so the
    * deduplicated corpus preserves the original's source-frequency mass
    * (a doc that appeared 4× trains 4× as often through one physical
    * copy — the standard correction when dedup would otherwise
    * down-weight popular content). Weights sum to the original corpus
    * size by construction, so samp_prob = weight / N normalizes in one
    * broadcast. Consumes the SAME detector artifact (nearPairs →
    * clusterLabels) as the cluster ops — one detector run, many
    * downstream readings, the production shape.
    *
    * Scale shape: cluster sizes are a pair-set-bounded aggregate; the
    * singleton complement is a left ANTI join of the corpus against the
    * (tiny) clustered-id set; N rides a 1-row broadcast (in-plan-N).
    */
  val llmDedupReweight: Op = Op(
    "llm_dedup_reweight",
    (s, dir) => {
      val lbl = clusterLabels(nearPairs(s, dir).select("a_id", "b_id"))
      val keepers = lbl.groupBy(col("lbl").as("doc_id"))
        .agg(count(lit(1)).as("w"))
      val singles = Tables.documents(s, dir).select(col("doc_id"))
        .join(lbl.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(1L).as("w"))
      val total = Tables.documents(s, dir).agg(count(lit(1)).cast(DoubleType).as("n"))
      keepers.unionByName(singles)
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("w").as("weight"),
          round(col("w") / col("n"), 6).as("samp_prob"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE ${nearPairsSqlCtes()}
      , $ccSqlCtes, keepers AS (
        SELECT cluster_id AS doc_id, COUNT(*) AS w FROM lbl GROUP BY 1
      ), singles AS (
        SELECT d.doc_id, 1 AS w FROM documents d
        WHERE d.doc_id NOT IN (SELECT id FROM lbl)
      ), allw AS (
        SELECT * FROM keepers UNION ALL SELECT * FROM singles
      ), tot AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
      )
      SELECT doc_id, CAST(w AS BIGINT) AS weight, ROUND(w / n, 6) AS samp_prob
      FROM allw, tot ORDER BY doc_id
    """.stripMargin.trim))

  /** The END-TO-END corpus curation pipeline as ONE query — the actual
    * user story every piece above exists for: quality gate → exact
    * dedup keep-one → near-dup cluster keep-one → per-language summary.
    * Each stage is the already-oracle-proven building block (the sha256
    * fingerprint of llm_dedup_exact, the shingle/Jaccard detector of
    * llm_dedup_near, the star-contraction components of
    * llm_dedup_cluster_scale — the O(log²)-round form, so a long
    * transitive chain in the survivor set cannot under-merge at scale),
    * composed in the order a deployment runs them: cheap exact dedup
    * FIRST shrinks the input the near-dup stage sees.
    *
    * The near-dup stage consumes the SHARED full-corpus detector
    * artifact (nearPairs) filtered to survivor endpoints, not a
    * re-run of the detector on the survivor set: the detector is
    * PAIR-LOCAL (each doc's candidate bands are its own 5 minimal
    * shingles, the verify is exact pairwise Jaccard — nothing depends
    * on which other docs are present), so {pairs(survivors)} ≡
    * {pairs(corpus) | both endpoints survive}, and the oracle — which
    * recomputes pairs ON the survivor CTE — proves the identity by
    * hash every round. The r17 form re-ran the detector here (a third
    * shingle explode + band join + verify per bench run, 11.9 s cold);
    * consuming the artifact is also what a deployment does — the
    * detector output is written once and every downstream stage reads
    * it (the 100 TB curation DAG is a sequence of materialized tables,
    * not one monolithic query).
    *
    * Scale shape: the gate is a pushdown-friendly filter; exact
    * keep-one is one groupBy on the 64-char fingerprint + a semi join;
    * the survivor set materializes ONCE (localCheckpoint — consumed by
    * the pair semi joins, the anti join, and the per-lang aggregates);
    * drops flow back as a left ANTI join (survivors never widen); the
    * final summary is three tiny per-lang aggregates. The oracle
    * recomputes the whole pipeline, components via recursive CTE.
    */
  val llmPipelineCurate: Op = Op(
    "llm_pipeline_curate",
    (s, dir) => {
      // spreadDocs: the curate chain's shingle explode and checkpoint
      // otherwise inherit the scan's single partition end-to-end
      val base = spreadDocs(s, dir).withColumn("n_toks", size(toks))
      val gated = base.filter(col("n_toks") >= 10)
      val fp = gated.withColumn("fp", normFp)
      val keepIds = fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
      val afterExact = fp.join(keepIds, Seq("fp", "doc_id"), "left_semi")
        .localCheckpoint(true)
      // pair-local detector ⇒ artifact pairs filtered to survivor
      // endpoints ≡ detector re-run on survivors (see scaladoc)
      val survivors = afterExact.select(col("doc_id"))
      val np = nearPairs(s, dir)
        .join(survivors.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
        .join(survivors.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
      val lbl = starLabels(np.select("a_id", "b_id"), rounds = 2)
      val drops = lbl.filter(col("id") =!= col("lbl")).select(col("id").as("doc_id"))
      val afterNear = afterExact.join(drops, Seq("doc_id"), "left_anti")
      val inAgg = base.groupBy("lang").agg(count(lit(1)).as("n_in"))
      val exAgg = afterExact.groupBy("lang").agg(count(lit(1)).as("n_after_exact"))
      val nrAgg = afterNear.groupBy("lang").agg(
        count(lit(1)).as("n_after_near"),
        sum("n_toks").as("n_tokens"),
        round(sum("n_toks").cast(DoubleType) / count(lit(1)), 6).as("avg_toks"))
      inAgg.join(exAgg, "lang").join(nrAgg, "lang")
        .select(col("lang"), col("n_in"), col("n_after_exact"),
          col("n_after_near"), col("n_tokens"), col("avg_toks"))
        .orderBy("lang")
    },
    Some(s"""
      WITH RECURSIVE base AS (
        SELECT doc_id, lang, text, len(string_split(text, ' ')) AS n_toks
        FROM documents
      ), gated AS (
        SELECT * FROM base WHERE n_toks >= 10
      ), fpd AS (
        SELECT *, sha256(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS h
        FROM gated
      ), keepids AS (
        SELECT h, min(doc_id) AS doc_id FROM fpd GROUP BY h
      ), ae AS (
        SELECT f.doc_id, f.lang, f.text, f.n_toks
        FROM fpd f JOIN keepids k ON k.h = f.h AND k.doc_id = f.doc_id
      ), ${nearPairsSqlCtes("ae")}
      , $ccSqlCtes, an AS (
        SELECT * FROM ae
        WHERE doc_id NOT IN (SELECT id FROM lbl WHERE id != cluster_id)
      ), i AS (
        SELECT lang, COUNT(*) AS n_in FROM base GROUP BY 1
      ), e2 AS (
        SELECT lang, COUNT(*) AS n_after_exact FROM ae GROUP BY 1
      ), n2 AS (
        SELECT lang, COUNT(*) AS n_after_near,
          CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
          ROUND(CAST(SUM(n_toks) AS DOUBLE) / COUNT(*), 6) AS avg_toks
        FROM an GROUP BY 1
      )
      SELECT i.lang, n_in, n_after_exact, n_after_near, n_tokens, avg_toks
      FROM i JOIN e2 USING (lang) JOIN n2 USING (lang)
      ORDER BY lang
    """.stripMargin.trim))

  /** One star-contraction round (Kiveris et al., "Connected Components
    * in MapReduce and Beyond"): for each node u with closed
    * neighborhood min m(u), LARGE-star reattaches u's strictly-larger
    * neighbors to m(u); SMALL-star reattaches the ≤-u neighbors (and u
    * itself) to m(u). Each round is two shuffles (a min-aggregate and
    * an edge re-emit) over an edge set that only SHRINKS toward the
    * star forest; edges re-symmetrize and checkpoint between rounds so
    * the loop's plan stays flat. Returns the bare checkpoint: starLabels
    * renames it for the next round and releases it after that round.
    */
  private def starRound(e: DataFrame, large: Boolean): DataFrame = {
    val m = e.select(col("src"), col("dst"))
      .union(e.select(col("src"), col("src").as("dst")))
      .groupBy("src").agg(min(col("dst")).as("m"))
    val withM = e.join(m, "src")
    val emitted = (
      if (large) withM.filter(col("dst") > col("src"))
        .select(col("dst").as("a"), col("m").as("b"))
      else withM.filter(col("dst") <= col("src"))
        .select(col("dst").as("a"), col("m").as("b"))
        .union(withM.select(col("src").as("a"), col("m").as("b")))
    ).filter(col("a") =!= col("b"))
    // symmetrize FIRST, then dedup once: the trailing distinct subsumes
    // a pre-union distinct, so each round is one dedup shuffle, not two
    // (fewer plan nodes also cuts the single-shot codegen cost the
    // 4-round pipeline pays)
    emitted.select(col("a").as("src"), col("b").as("dst"))
      .union(emitted.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .localCheckpoint(true)
  }

  /** SAME semantics as llm_dedup_cluster, 100 TB physical form — the
    * scale-twin pattern (win_*_scale precedent): alternating
    * large-star/small-star contraction instead of fixed-round
    * min-label propagation. Propagation needs diameter-many rounds (a
    * path component of length 10⁶ needs 10⁶ shuffles); star
    * contraction converges in O(log²) rounds on ANY topology, which is
    * why it is the canonical MapReduce/Spark components algorithm. Two
    * LS/SS alternations suffice for this corpus's star-and-chain
    * components; the shared oracle computes TRUE components (recursive
    * CTE), so the rows+schema+hash match PROVES convergence, and
    * PropertySuite asserts bit-equality with llm_dedup_cluster's
    * output. At 100 TB, loop until the edge count stops changing (the
    * count is a cheap byproduct of each round's aggregate).
    */
  /** (id, lbl) component labels by `rounds` LS/SS alternations over a
    * pair set — exposed for PropertySuite's long-path convergence test
    * (the topology where fixed-round min-label propagation fails). */
  private[graft] def starLabels(vp: DataFrame, rounds: Int): DataFrame = {
    // fresh attribute ids: each round unions/joins its input with
    // projections of ITSELF, and reused post-checkpoint ids can trip
    // analyzer dedup (NoSuchElementException in AttributeMap)
    def renamed(cp: DataFrame) = cp.toDF("src", "dst")
    var cp = vp.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(vp.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(true)
    for (_ <- 1 to rounds; large <- Seq(true, false)) {
      val next = starRound(renamed(cp), large)
      // release the un-renamed checkpoint (a rename's Project hides its
      // LogicalRDD); the materialized `next` no longer reads it
      releaseCheckpoint(cp)
      cp = next
    }
    val e = renamed(cp)
    // star forest: every node's component is its closed-neighborhood min
    e.select(col("src"), col("dst"))
      .union(e.select(col("src"), col("src").as("dst")))
      .groupBy(col("src").as("id")).agg(min(col("dst")).as("lbl"))
  }

  val llmDedupClusterScale: Op = Op(
    "llm_dedup_cluster_scale",
    (s, dir) => {
      val lbl = starLabels(nearPairs(s, dir).select("a_id", "b_id"), rounds = 2)
      val sz = lbl.groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_sz"))
      lbl.select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
          when(col("id") === col("lbl"), 1).otherwise(0).as("keep"))
        .join(sz, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_sz"), col("keep"))
        .orderBy("cluster_id", "doc_id")
    },
    llmDedupCluster.oracle)

  /** MinHash-LSH parameters: Carter–Wegman family h_j(x) = (a_j·x + b_j)
    * mod M over a 60-bit md5-derived base hash reduced mod M. M is the
    * Mersenne prime 2^31−1, so a_j·x < 2^51 — exact in int64 in BOTH
    * engines (the portability requirement; md5 arithmetic per the
    * SimHash note above). k=5 one-row bands: P[candidate] = 1−(1−J)^5 —
    * the SAME banding geometry as llm_dedup_near's 5
    * lexicographic-min-shingle bands (P[miss] < 1e-3 at J ≥ 0.8), but
    * with SEEDED hashes, which is what survives at 100 TB: lexicographic
    * minima concentrate on corpus-common prefixes ("the quick brown…"
    * shingles band half the corpus together), while seeded hash minima
    * are uniform over each doc's shingle set regardless of vocabulary
    * skew. This op IS the "swap the lexicographic band for k seeded
    * hash-min signatures" upgrade that llm_dedup_near's scaladoc
    * promises — same plan shape (narrow per-doc signature → equi-join
    * on band key → exact verify on the tiny candidate set), now graded
    * end-to-end with its own oracle.
    */
  private val MhM = 2147483647L
  private val MhA = Seq(999983L, 1000003L, 1000033L, 1000037L, 1000039L)
  private val MhB = Seq(17L, 8191L, 131071L, 524287L, 6700417L)

  /** The minhash-banded verified pair set (a_id, b_id, jacc — exact
    * Jaccard ≥ 0.8 on band candidates), cached per (session, dir) like
    * nearPairs: consumed by llm_dedup_minhash and the detector-
    * agreement op, so the detector runs once per session.
    */
  private val minhashPairsCache = new SessionArtifact[DataFrame]
  private def minhashPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = minhashPairsCache(s, dir) {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 5)
      // narrow per-doc state: sorted shingle set + one base hash per
      // shingle (md5 runs ONCE per shingle; the k hash functions are
      // integer affine maps over hv, not k md5 passes)
      val withSh = shingleArr(docs)
        .withColumn("hv", expr(
          s"transform(shs, x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint) % ${MhM}L)"))
        .localCheckpoint(true)
      val sigs = (0 until 5).map { j =>
        struct(lit(j).as("j"),
          array_min(transform(col("hv"),
            h => (h * lit(MhA(j)) + lit(MhB(j))) % lit(MhM))).as("s"))
      }
      val cand = withSh.select(col("doc_id"), explode(array(sigs: _*)).as("bk"))
        .select(col("doc_id"), col("bk.j").as("j"), col("bk.s").as("s"))
      val pairs = cand.as("a")
        .join(cand.as("b"),
          col("a.j") === col("b.j") && col("a.s") === col("b.s") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      val inter = expr("graft_sorted_intersect_count(a_shs, b_shs)").cast(DoubleType)
      val jacc = inter / (size(col("a_shs")) + size(col("b_shs")) - inter)
      pairs
        .join(withSh.select(col("doc_id").as("a_id"), col("shs").as("a_shs")), "a_id")
        .join(withSh.select(col("doc_id").as("b_id"), col("shs").as("b_shs")), "b_id")
        .filter(jacc >= 0.8)
        .select(col("a_id"), col("b_id"), round(jacc, 6).as("jacc"))
        .localCheckpoint(true)
        .toDF("a_id", "b_id", "jacc")
    }

  /** The minhash CTE chain (assumes sh/sizes from shingleSqlCtes are
    * in scope) up to `mvp(a_id, b_id, jacc)` — shared by the minhash
    * op's oracle and the detector-agreement oracle, so the seeded-hash
    * constants cannot fork between them.
    */
  private def minhashSqlCtes: String = s"""h AS (
        SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $MhM AS hv
        FROM sh
      ), seeds(j, a, b) AS (
        VALUES ${MhA.indices.map(j => s"(${j}, ${MhA(j)}, ${MhB(j)})").mkString(", ")}
      ), sig AS (
        SELECT doc_id, j, MIN((a * hv + b) % $MhM) AS s
        FROM h CROSS JOIN seeds GROUP BY 1, 2
      ), mpairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sig a JOIN sig b ON a.j = b.j AND a.s = b.s AND a.doc_id < b.doc_id
      ), minter AS (
        SELECT p.a_id, p.b_id, COUNT(*) AS inter
        FROM mpairs p
          JOIN sh sa ON sa.doc_id = p.a_id
          JOIN sh sb ON sb.doc_id = p.b_id AND sb.shingle = sa.shingle
        GROUP BY 1, 2
      ), mvp AS (
        SELECT i.a_id, i.b_id,
          ROUND(CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter), 6) AS jacc
        FROM minter i
          JOIN sizes za ON za.doc_id = i.a_id
          JOIN sizes zb ON zb.doc_id = i.b_id
        WHERE CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter) >= 0.8
      )"""

  val llmDedupMinhash: Op = Op(
    "llm_dedup_minhash",
    (s, dir) => minhashPairs(s, dir).orderBy("a_id", "b_id"),
    Some(s"""
      WITH ${shingleSqlCtes()}
      , $minhashSqlCtes
      SELECT a_id, b_id, jacc FROM mvp ORDER BY a_id, b_id
    """.stripMargin.trim))

  /** DETECTOR AGREEMENT — evaluation ON the dedup pipeline itself: the
    * deterministic lexicographic-prefix band detector (nearPairs) and
    * the seeded minhash band detector (minhashPairs) both verify
    * candidates with EXACT Jaccard ≥ 0.8, so each output is a subset
    * of the true pair set and their symmetric difference is exactly
    * the band-stage recall difference — the number an operator reads
    * before trusting one detector's band budget at 100 TB. One-row
    * profile: per-detector counts, overlap, exclusive counts, and the
    * pair-set Jaccard. Consumes both cached detector ARTIFACTS (each
    * runs once per session across all its consumers).
    */
  val llmDedupDetectorAgreement: Op = Op(
    "llm_dedup_detector_agreement",
    (s, dir) => {
      val p = nearPairs(s, dir).select(col("a_id"), col("b_id"),
        lit(1).as("in_p"))
      val m = minhashPairs(s, dir).select(col("a_id"), col("b_id"),
        lit(1).as("in_m"))
      p.join(m, Seq("a_id", "b_id"), "full_outer")
        .select(coalesce(col("in_p"), lit(0)).as("in_p"),
          coalesce(col("in_m"), lit(0)).as("in_m"))
        .agg(sum("in_p").as("n_prefix"), sum("in_m").as("n_minhash"),
          sum(col("in_p") * col("in_m")).as("n_common"),
          sum(col("in_p") * (lit(1) - col("in_m"))).as("only_prefix"),
          sum(col("in_m") * (lit(1) - col("in_p"))).as("only_minhash"),
          round(sum(col("in_p") * col("in_m")).cast(DoubleType)
            / count(lit(1)), 6).as("agreement"))
    },
    Some(s"""
      WITH ${nearPairsSqlCtes()}
      , $minhashSqlCtes, j AS (
        SELECT COALESCE(v.in_p, 0) AS in_p, COALESCE(m.in_m, 0) AS in_m
        FROM (SELECT a_id, b_id, 1 AS in_p FROM vp) v
          FULL OUTER JOIN (SELECT a_id, b_id, 1 AS in_m FROM mvp) m
          ON v.a_id = m.a_id AND v.b_id = m.b_id
      )
      SELECT CAST(SUM(in_p) AS BIGINT) AS n_prefix,
        CAST(SUM(in_m) AS BIGINT) AS n_minhash,
        CAST(SUM(in_p * in_m) AS BIGINT) AS n_common,
        CAST(SUM(in_p * (1 - in_m)) AS BIGINT) AS only_prefix,
        CAST(SUM(in_m * (1 - in_p)) AS BIGINT) AS only_minhash,
        ROUND(CAST(SUM(in_p * in_m) AS DOUBLE) / COUNT(*), 6) AS agreement
      FROM j
    """.stripMargin.trim))

  /** SimHash near-dedup — the signature-based alternative to the
    * set-similarity pipeline above: each doc compresses to ONE 60-bit
    * signature (bitwise majority vote over md5-hashed shingles), so
    * at 100 TB the heavy state is 8 bytes/doc instead of a shingle
    * table. Candidates come from 6 banded 10-bit sub-signatures
    * (guaranteed complete for hamming ≤ 5, overwhelmingly complete at
    * the ≤ 10 threshold; the oracle replicates the same bands, so the
    * compared results agree by construction). On this corpus
    * (word-level tokens fail here — the tiny vocabulary makes unrelated
    * token SETS near-identical) shingle-level SimHash separates cleanly:
    * planted pairs at hamming 1–8, noise floor 17+. The 60-bit hash is
    * md5-prefix based because BOTH engines define it identically
    * (Spark conv(hex,16,10) ≡ DuckDB CAST('0x'||hex AS BIGINT)).
    */
  val llmDedupSimhash: Op = Op(
    "llm_dedup_simhash",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 5)
      // per-doc distinct shingles computed narrowly (shingleArr — no
      // distinct shuffle), hashed in-array, then exploded as bare longs
      // into the one-pass majority-vote Aggregator. One shuffle total
      // before the band join, and it carries 8-byte hashes, not shingle
      // strings. (A fully-narrow higher-order-function fold was measured
      // 6× SLOWER here — nested lambdas run interpreted at
      // O(shingles × 60) with per-step array allocation; the typed
      // Aggregator's mutable 60-counter buffer is the fast fold.)
      val hashes = shingleArr(docs).select(col("doc_id"), explode(
          expr("transform(shs, sh -> cast(conv(substring(md5(sh), 1, 15), 16, 10) as bigint))"))
        .as("h"))
      val simhash = udaf(SimHashAgg)
      val sig = hashes.groupBy("doc_id").agg(simhash(col("h")).as("sig"))
      val bands = sig
        .select(col("doc_id"), col("sig"), explode(expr("sequence(0, 5)")).as("j"))
        .withColumn("band", expr("shiftright(sig, 10 * j) & 1023"))
      bands.as("a")
        .join(bands.as("b"),
          col("a.j") === col("b.j") && col("a.band") === col("b.band") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
        .distinct()
        .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
        .filter(col("hamming") <= 10)
        .select("a_id", "b_id", "hamming")
        .orderBy("a_id", "b_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      ), idx AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 4)) AS i
        FROM t WHERE len(toks) >= 5
      ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle FROM idx
      ), th AS (
        SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS h FROM sh
      ), bits AS (
        SELECT doc_id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS w
        FROM th, (SELECT unnest(generate_series(0, 59)) AS i) GROUP BY 1, 2
      ), sig AS (
        SELECT doc_id,
          SUM(CASE WHEN w > 0 THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END) AS sig
        FROM bits GROUP BY 1
      ), bands AS (
        SELECT doc_id, sig, j, (sig >> (10 * j)) & 1023 AS band
        FROM sig, (SELECT unnest(generate_series(0, 5)) AS j)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               a.sig AS sig_a, b.sig AS sig_b
        FROM bands a JOIN bands b
          ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id
      )
      SELECT a_id, b_id, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
      FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 10
      ORDER BY a_id, b_id
    """.stripMargin.trim))

  /** Document fingerprinting by WINNOWING (Schleimer/Wilkerson/Aiken's
    * local algorithm, the MOSS fingerprint): positional word-5-gram
    * rolling hashes → per-window-of-8 minimum → distinct fingerprint
    * set. Guarantees any shared run of ≥ 12 tokens (w + k − 1) between
    * two docs shares ≥ 1 fingerprint, while keeping only ~2/(w+1) of
    * the hashes — the standard sublinear dedup/plagiarism index.
    *
    * Entirely NARROW per-doc array math (no explode, no shuffle —
    * same discipline as shingleArr); emits a per-doc digest: count,
    * min/max, and the 5 smallest fingerprints as the bucket-able
    * prefix. At 100 TB the fingerprint set is the doc's posting list —
    * explode it into an inverted index keyed by fingerprint.
    */
  /** The winnowing core (k=5 word-grams, window w=8), exposed for the
    * guarantee test: (doc_id, hs positional hash sequence, fps sorted
    * distinct fingerprint set). Narrow — safe to reuse anywhere.
    */
  private[graft] def winnowFps(docs: DataFrame): DataFrame =
    docs
      .filter(size(col("toks")) >= 12) // w + k − 1 tokens minimum
      // the transforms are guarded to be TOTAL (empty array below the
      // minimum length) even though the filter above excludes those
      // rows: Spark infers a size(<fps-expr>) > 0 predicate under a
      // downstream explode (InferFiltersFromGenerate) and may evaluate
      // it BEFORE this filter after pushdown — an unguarded
      // sequence(1, n-4) is descending-into-0 for short docs and makes
      // slice() throw on rows the filter was about to drop
      .withColumn("hs", expr(
        """if(size(toks) >= 5,
             transform(sequence(1, size(toks) - 4),
               i -> cast(conv(substring(md5(concat_ws(' ', slice(toks, i, 5))), 1, 15), 16, 10) as bigint)),
             array())"""))
      .withColumn("fps", expr(
        """if(size(hs) >= 8,
             array_sort(array_distinct(transform(sequence(1, size(hs) - 7),
               j -> array_min(slice(hs, j, 8))))),
             array())"""))

  val llmFingerprintWinnow: Op = Op(
    "llm_fingerprint_winnow",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
      winnowFps(docs)
        .select(
          col("doc_id"),
          size(col("hs")).as("n_grams"),
          size(col("fps")).as("n_fp"),
          expr("fps[0]").as("fp_min"),
          expr("element_at(fps, -1)").as("fp_max"),
          concat_ws(",", expr("transform(slice(fps, 1, 5), x -> cast(x as string))"))
            .as("fp_head"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      ), h AS (
        SELECT doc_id, len(toks) AS n_toks,
          list_transform(generate_series(1, len(toks) - 4),
            i -> CAST('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15) AS BIGINT)) AS hs
        FROM t WHERE len(toks) >= 12
      ), w AS (
        SELECT doc_id, len(hs) AS n_grams,
          list_sort(list_distinct(list_transform(generate_series(1, len(hs) - 7),
            j -> list_min(hs[j:j+7])))) AS fps
        FROM h
      )
      SELECT doc_id, n_grams, len(fps) AS n_fp,
        fps[1] AS fp_min, fps[-1] AS fp_max,
        array_to_string(list_transform(fps[1:5], x -> CAST(x AS VARCHAR)), ',') AS fp_head
      FROM w ORDER BY doc_id
    """.stripMargin.trim))

  /** Hyperplane LSH parameters for the embedding detector: P = r·b
    * random ±1 hyperplanes, signature split into b bands of r bits. At
    * the verify threshold (raw cosine 0.95 ⇒ centered cosine ≥ 0.98 on
    * this corpus, measured) a bit agrees w.p. ~0.94, so a 16-bit band
    * matches w.p. 0.36 and 16 bands miss w.p. (1−0.36)^16 ≈ 8·10⁻⁴ per
    * true pair; noise pairs sit near centered-cosine 0 (bit agreement
    * 0.5 ⇒ band match 1.5·10⁻⁵) so buckets stay thin. The fixed seed
    * string makes the draw deterministic; with it, all planted pairs
    * are found at sf0.001 and sf0.01 (cross-detector agreement is
    * property-tested, and the oracle replays the identical planes).
    */
  private val HpPlanes = 256
  private val HpBandBits = 16

  /** Embedding-cosine near-dup — the fourth dedup detector (alongside
    * exact, MinHash-band Jaccard, SimHash): docs embed as 128-dim
    * hashed bag-of-words vectors (term → md5 dim, weight = tf; the
    * deterministic, engine-portable stand-in for a learned encoder —
    * the fixture's `embeddings` table is random noise w.r.t. text, max
    * pairwise cosine 0.51, so a learned-embedding dedup has no signal
    * there). Candidates come from random-hyperplane sign bands — the
    * mechanism that SURVIVES a heavy-head vocabulary (the round-4
    * top-2-heaviest-dims band concentrated there) — then exact cosine
    * ≥ 0.95 verifies. NEVER all-pairs. All planted near-dup pairs are
    * found; cross-detector agreement with the Jaccard pipeline is
    * property-tested.
    *
    * The hyperplanes are drawn THROUGH THE CORPUS MEAN, not the origin
    * — on a shared-vocabulary corpus every tf vector shares the same
    * dominant direction, so origin hyperplanes see raw cosines with
    * median 0.68 / p99 0.87 (measured) and band everything together;
    * after centering, noise pairs sit at centered-cosine ≈ 0 while
    * true near-dups stay ≥ 0.98. Centering is algebra, not a new
    * shuffle: bit_p = ((v − m)·r_p > 0) ⇔ (N·(v·r_p) > Σ_d S_d·r_p[d])
    * with S the corpus dim-sum vector and N the doc count — ALL int64
    * arithmetic, so both engines agree bit for bit (no float summation
    * order to pin). S, N, and the P×128 ±1 plane matrix ride in as a
    * 1-row broadcast; the per-doc P×nnz fold is the native
    * HyperplaneBands expression (functions/HyperplaneBands.scala — the
    * interpreted-HOF formulation is the measured 6× SimHash trap).
    *
    * Scale shape: corpus never shuffles for signatures (narrow scan →
    * per-doc band keys); the wide moves are the tf explode+group (one
    * checkpoint, 4 consumers), the band equi-join (bucket-local; keys
    * are ~uniform because centered projections are sign-balanced), and
    * the dot verify on the detector-bounded candidate set.
    */
  /** Edit-distance near-dedup — the FUZZY member of the dedup family:
    * exact/near/minhash/simhash/embed catch token- or vector-level
    * similarity, but OCR noise, typo farms, and template fills differ by
    * CHARACTER edits that shingle Jaccard under-scores (one edit inside
    * a word kills five word-shingles at once). Candidates come from
    * two-pass blocking — docs sharing a 12-char prefix OR suffix key, so
    * an edit near one end still matches on the other key — never
    * all-pairs; the verifier is exact Levenshtein, kept when
    * lev ≤ 20% of the longer doc (integer arithmetic: lev·5 ≤ maxlen).
    * The whole output is INTEGER (ids, lev, max length): no float
    * crosses the engine boundary, and Levenshtein itself is classic DP —
    * bit-identical in every engine.
    *
    * Scale shape: ONE corpus scan explodes each doc to two (key, id)
    * rows; the self-join shuffles on the block key (max block 21 docs at
    * sf0.1 — a boilerplate-heavy corpus caps block size and routes
    * oversized blocks to the minhash pass instead); the detector-bounded
    * pair set joins texts back by id. The verifier prunes BEFORE the DP:
    * lev ≥ |na−nb| makes the length gate 5·|na−nb| ≤ mx free and
    * result-identical (cuts 14 866 → 3 799 DPs at sf0.1), and the
    * banded form `levenshtein(l, r, ⌊mx/5⌋)` abandons each remaining DP
    * past the qualifying band (O(band·n), returns −1 ⟺ the plain filter
    * rejects, exact distance otherwise — proven pairwise-equal to the
    * plain form on this corpus). Together 9× over naive verify; the
    * ORACLE keeps the unbanded form, so the hash match re-proves the
    * equivalence every round.
    */
  val llmDedupFuzzy: Op = Op(
    "llm_dedup_fuzzy",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), length(col("text")).as("n"))
        .filter(col("n") >= 24)
        // 4 consumers (both key sides, both text joins): materialize the
        // 3-column working set once or the corpus scan runs 4×
        .localCheckpoint(true)
      val keys = d.select(col("doc_id"), explode(array(
        substring(col("text"), 1, 12),
        expr("substring(text, length(text) - 11, 12)"))).as("k"))
      val pairs = keys.as("a")
        .join(keys.as("b"), col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .distinct()
      pairs
        .join(d.select(col("doc_id").as("a_id"), col("text").as("ta"), col("n").as("na")), "a_id")
        .join(d.select(col("doc_id").as("b_id"), col("text").as("tb"), col("n").as("nb")), "b_id")
        .filter(lit(5) * abs(col("na") - col("nb")) <= greatest(col("na"), col("nb")))
        .select(col("a_id"), col("b_id"),
          expr("levenshtein(ta, tb, cast(greatest(na, nb) / 5 as int))")
            .cast(LongType).as("lev"),
          greatest(col("na"), col("nb")).cast(LongType).as("mx"))
        .filter(col("lev") >= 0)
        .orderBy("a_id", "b_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 24
      ), keys AS (
        SELECT doc_id, substr(text, 1, 12) AS k FROM d
        UNION ALL SELECT doc_id, substr(text, length(text) - 11, 12) AS k FROM d
      ), pairs AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM keys a JOIN keys b ON a.k = b.k AND a.doc_id < b.doc_id
      )
      SELECT p.a_id, p.b_id,
        CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
        CAST(greatest(da.n, db.n) AS BIGINT) AS mx
      FROM pairs p
        JOIN d da ON da.doc_id = p.a_id
        JOIN d db ON db.doc_id = p.b_id
      WHERE levenshtein(da.text, db.text) * 5 <= greatest(da.n, db.n)
      ORDER BY a_id, b_id
    """.stripMargin.trim))

  /** The embed detector's tf table — materialized ONCE (4 consumers:
    * signatures, corpus stats, both dot sides). Integer counts: the
    * signature path is exact int64 end to end. MEMOIZED per
    * (session, fixture dir) — round-13 verdict task 4: the explode +
    * groupBy subtree used to re-execute once per CONSUMING OP in a
    * bench run (doc_embed, dedup_embed, the ANN stack); the
    * SessionArtifact hands every later consumer the already-
    * checkpointed blocks instead. Measured (DevBench sf0.1, warm min):
    * llm_doc_embed 0.73 → 0.22 s (−70%) once a sibling has built the
    * table, llm_dedup_embed 2.80 → 2.39 s (−15%), simsearch_topk flat;
    * three-consumer total 4.02 → 3.08 s (−23%) — the per-bench saving
    * is (consumers−1) × subtree cost, and the first consumer is
    * unchanged, exactly the morLog sharing profile. KEPT: the sibling-
    * consumer drops clear the r11 ≥25% bar even though the
    * first-build op alone does not.
    */
  private val embedTfCache = new SessionArtifact[DataFrame]
  private def embedTf(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    embedTfCache(s, dir) {
      spreadDocs(s, dir).select(col("doc_id"), explode(toks).as("term"))
        .withColumn("dim",
          expr("cast(cast(conv(substring(md5(term), 1, 7), 16, 10) as bigint) % 128 as int)"))
        .groupBy("doc_id", "dim")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
    }

  /** The featurization pass itself, graded — `llm_dedup_embed` and the
    * ANN stack consume the hashed bag-of-words embedding; this op
    * grades its DERIVATION on the production subplan (`embedTf`: term →
    * md5 dim mod 128, weight = tf) via the per-doc summary an arrays-
    * forbidden output schema can carry (§5.3): nonzero dims, total tf,
    * L2 norm (exact integer squares under one sqrt), and the dominant
    * dimension with a deterministic tie (smallest dim at the max
    * count, via a (cnt, −dim) struct-max — neither engine's bare
    * argmax pins ties). A drift in this derivation would silently
    * decouple the dedup detector from the quantizer; now it
    * hash-breaks instead.
    */
  val llmDocEmbed: Op = Op(
    "llm_doc_embed",
    (s, dir) =>
      embedTf(s, dir)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          sum("cnt").as("total_tf"),
          round(sqrt(sum((col("cnt") * col("cnt")).cast(DoubleType))), 6)
            .as("l2_norm"),
          max(struct(col("cnt"), (-col("dim")).as("negdim"))).as("mx"))
        .select(col("doc_id"), col("nnz"), col("total_tf"), col("l2_norm"),
          (-col("mx.negdim")).cast(IntegerType).as("top_dim"),
          col("mx.cnt").as("top_cnt"))
        .orderBy("doc_id"),
    Some("""
      WITH tf AS (
        SELECT doc_id,
          CAST(CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % 128 AS INT) AS dim,
          COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY 1, 2
      ), agg AS (
        SELECT doc_id, COUNT(*) AS nnz,
          CAST(SUM(cnt) AS BIGINT) AS total_tf,
          ROUND(sqrt(SUM(CAST(cnt * cnt AS DOUBLE))), 6) AS l2_norm,
          MAX(cnt) AS top_cnt
        FROM tf GROUP BY doc_id
      )
      SELECT a.doc_id, a.nnz, a.total_tf, a.l2_norm,
        MIN(t.dim) AS top_dim, CAST(a.top_cnt AS BIGINT) AS top_cnt
      FROM agg a JOIN tf t ON t.doc_id = a.doc_id AND t.cnt = a.top_cnt
      GROUP BY a.doc_id, a.nnz, a.total_tf, a.l2_norm, a.top_cnt
      ORDER BY a.doc_id
    """.stripMargin.trim))

  /** (doc_id, nr, band, key) hyperplane band rows for a given tf table
    * — the candidate-generation half of llm_dedup_embed, exposed so
    * PropertySuite can assert band selectivity (never all-pairs, no
    * giant bucket) directly on the production subplan. */
  private[graft] def embedBandsOf(s: org.apache.spark.sql.SparkSession, tf: DataFrame): DataFrame = {
    val planes = s.range(1)
      .select(explode(expr(s"sequence(0, ${HpPlanes - 1})")).as("p"))
      .select(col("p"), expr(
        """transform(sequence(0, 127), d -> cast(1 - 2 * (
          |  cast(conv(substring(md5(concat('hp:', cast(p as string), ':', cast(d as string))), 1, 15), 16, 10) as bigint)
          |  % 2) as int))""".stripMargin).as("sp"))
    val sDense = tf.groupBy("dim").agg(sum("cnt").as("sd"))
      .agg(map_from_entries(collect_list(struct(col("dim"), col("sd")))).as("sm"))
      .select(expr(
        "transform(sequence(0, 127), d -> coalesce(element_at(sm, d), cast(0 as bigint)))")
        .as("sarr"))
    val nRow = tf.agg(countDistinct(col("doc_id")).as("n"))
    val quant = planes.crossJoin(broadcast(sDense))
      .select(col("p"), col("sp"), expr(
        "aggregate(zip_with(sarr, sp, (x, y) -> x * y), cast(0 as bigint), (a, z) -> a + z)")
        .as("ms"))
      .agg(array_sort(collect_list(struct(col("p"), col("sp"), col("ms")))).as("arr"))
      .select(expr("transform(arr, x -> x.sp)").as("signs"),
        expr("transform(arr, x -> x.ms)").as("msum"))
      .crossJoin(broadcast(nRow))
    val docArr = tf.groupBy("doc_id")
      .agg(collect_list(struct(col("dim"), col("cnt"))).as("dw"),
        sqrt(sum((col("cnt") * col("cnt")).cast(DoubleType))).as("nr"))
      .select(col("doc_id"), col("nr"),
        expr("transform(dw, x -> x.dim)").as("dims"),
        expr("transform(dw, x -> x.cnt)").as("ws"))
    // (A materialize-before-posexplode variant was measured here and
    // REVERTED: unlike llm_decontaminate's interpreted transform
    // chain, the native band kernel under Generate does not re-run per
    // emitted row enough to matter — the checkpoint cost 0.3 s warm
    // for no win.)
    docArr.crossJoin(broadcast(quant))
      .select(col("doc_id"), col("nr"),
        posexplode(expr(s"graft_hyperplane_bands(dims, ws, signs, msum, n, $HpBandBits)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
  }

  private[graft] def embedBandsFor(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    embedBandsOf(s, embedTf(s, dir))

  val llmDedupEmbed: Op = Op(
    "llm_dedup_embed",
    (s, dir) => {
      val tf = embedTf(s, dir)
      // 1-row broadcast quantizer (planes, mean-sums, doc count) +
      // per-doc signatures via the native band kernel — see embedBandsOf.
      // r22 (guide §1.2): the self-join below used to inline this
      // subtree on BOTH sides — the full quantizer derivation (three
      // aggregates over tf + the band-kernel Generate) executed twice
      // per run (before-plan: 48 Exchanges, 12 BNLJ — two identical
      // 40-node trees). The bands frame is only docs × n_bands rows of
      // (id, nr, band, key), so materializing it once is far cheaper
      // than re-deriving it; both join sides now scan the checkpoint.
      val bands = embedBandsOf(s, tf).localCheckpoint(true)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.nr").as("na"), col("b.nr").as("nb"))
        .distinct()
      // norms are functionally dependent on the ids, so carrying them
      // through the groupBy keys keeps the dot aggregation exact
      val dots = cand
        .join(tf.as("ta"), col("a_id") === col("ta.doc_id"))
        .join(tf.as("tb"),
          col("b_id") === col("tb.doc_id") && col("ta.dim") === col("tb.dim"))
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(sum(col("ta.cnt") * col("tb.cnt")).cast(DoubleType).as("dot"))
      val sim = col("dot") / (col("na") * col("nb"))
      dots
        .filter(sim >= 0.95)
        .select(col("a_id"), col("b_id"), round(sim, 6).as("cos_sim"))
        .orderBy("a_id", "b_id")
    },
    Some(s"""
      WITH tf AS (
        SELECT doc_id,
          CAST(CAST('0x' || substr(md5(term), 1, 7) AS BIGINT) % 128 AS INT) AS dim,
          COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY 1, 2
      ), nd AS (
        SELECT COUNT(DISTINCT doc_id) AS n FROM tf
      ), planes AS (
        SELECT p, d,
          CAST(1 - 2 * (CAST('0x' || substr(md5('hp:' || p || ':' || d), 1, 15) AS BIGINT) % 2) AS INT) AS s
        FROM (SELECT unnest(generate_series(0, ${HpPlanes - 1})) AS p),
             (SELECT unnest(generate_series(0, 127)) AS d)
      ), dimsum AS (
        SELECT dim, SUM(cnt) AS sd FROM tf GROUP BY 1
      ), msum AS (
        SELECT pl.p, SUM(COALESCE(ds.sd, 0) * pl.s) AS ms
        FROM planes pl LEFT JOIN dimsum ds ON ds.dim = pl.d GROUP BY 1
      ), vdot AS (
        SELECT t.doc_id, pl.p, SUM(t.cnt * pl.s) AS vd
        FROM tf t JOIN planes pl ON pl.d = t.dim GROUP BY 1, 2
      ), bands AS (
        SELECT v.doc_id, v.p // $HpBandBits AS band,
          SUM(CASE WHEN (SELECT n FROM nd) * v.vd > m.ms
              THEN CAST(1 AS BIGINT) << (v.p % $HpBandBits) ELSE 0 END) AS key
        FROM vdot v JOIN msum m ON m.p = v.p
        GROUP BY 1, 2
      ), cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      ), nrm AS (
        SELECT doc_id, sqrt(SUM(CAST(cnt * cnt AS DOUBLE))) AS nr FROM tf GROUP BY 1
      ), dots AS (
        SELECT c.a_id, c.b_id, CAST(SUM(ta.cnt * tb.cnt) AS DOUBLE) AS dot
        FROM cand c
          JOIN tf ta ON ta.doc_id = c.a_id
          JOIN tf tb ON tb.doc_id = c.b_id AND tb.dim = ta.dim
        GROUP BY 1, 2
      )
      SELECT d.a_id, d.b_id,
        ROUND(dot / (na.nr * nb.nr), 6) AS cos_sim
      FROM dots d
        JOIN nrm na ON na.doc_id = d.a_id
        JOIN nrm nb ON nb.doc_id = d.b_id
      WHERE dot / (na.nr * nb.nr) >= 0.95
      ORDER BY a_id, b_id
    """.stripMargin.trim))

  /** Brute-force cosine top-5 for a fixed deterministic probe set
    * (vec_id % 50 = 0). The probe side is broadcast, so the full table is
    * scanned exactly once with NO shuffle of the big side — cost is
    * |probes| × N bounded dot products, the correct exact-search baseline.
    * The pairwise kernel is the native codegen'd CosineSim expression
    * (one fused array pass; bit-identical to the zip_with composition —
    * CosineSimSuite proves it). Ranking happens on the ROUNDED similarity
    * (rank can't flip on a last-ulp engine difference). The scale path is
    * llm_simsearch_lsh.
    */
  val llmSimsearchTopk: Op = Op(
    "llm_simsearch_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding").as("v"))
      top5PerProbe(e.crossJoin(broadcast(probePanel(e)))
        .filter(col("vec_id") =!= col("p_id"))
        .select(
          col("p_id"), col("vec_id").as("n_id"),
          round(expr("graft_cosine(pv, v)"), 6).as("sim")), col("sim").desc)
    },
    Some(s"""
      WITH e AS ($vecsSql
      ), $probesSql, sims AS (
        SELECT p_id, vec_id AS n_id, ROUND(${cosSql("pv", "v")}, 6) AS sim
        FROM probes, e WHERE vec_id != p_id
      )${top5Sql("sims", "sim", "sim DESC")}
    """.stripMargin.trim))

  /** Approximate NN via random-hyperplane bucketing
    * (BucketedRandomProjectionLSH, spark-mllib): candidates are generated
    * per hash bucket, so the pair space is bucket-local — the 100 TB
    * scale path where brute force is impossible. Fixed seed ⇒ the
    * hyperplanes, buckets, and result set are deterministic and
    * partition-invariant. No oracle (approximate); ANNRecallSuite gates
    * recall ≥ 0.8 against the brute-force baseline above.
    *
    * Offline-fit note (the IVF fit/search split does not apply here):
    * unlike IVF centroids, random projections are DATA-INDEPENDENT —
    * the "index" is just the seeded hyperplane draw, so there is no
    * corpus-derived state to fit or persist; a deployment ships the
    * seed. The model.fit below reads nothing but the schema. The
    * deterministic seeded-hyperplane mechanism itself is exercised
    * oracle-checked in llm_dedup_embed's band machinery.
    */
  val llmSimsearchLsh: Op = Op(
    "llm_simsearch_lsh",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
      val lsh = new BucketedRandomProjectionLSH()
        .setBucketLength(1.0).setNumHashTables(3).setSeed(42)
        .setInputCol("features").setOutputCol("hashes")
      val model = lsh.fit(e)
      model.approxSimilarityJoin(e.filter(isProbe), e, 1.25, "dist")
        .select(
          col("datasetA.vec_id").as("p_id"),
          col("datasetB.vec_id").as("n_id"),
          round(col("dist"), 6).as("dist"))
        .filter(col("p_id") =!= col("n_id"))
        .orderBy("p_id", "n_id")
    },
    None)

  /** DETERMINISTIC sign-LSH similarity search, graded — moves the LSH
    * ANN mechanism onto the oracle scoreboard (round-10 stretch; the
    * MLlib form above stays as the library-capability test): the same
    * random-hyperplane bucketing BucketedRandomProjectionLSH performs,
    * but with the hyperplanes drawn IN-PLAN from md5 bits (the
    * llm_dedup_embed quantizer trick), so buckets, candidate set, and
    * the exact-cosine re-rank are engine-portable and hash-gradable
    * end to end. 64 planes in 16 bands of 4 bits: a candidate must
    * agree with the probe on all 4 sign bits of SOME band (banded
    * OR-of-ANDs); candidates re-rank by exact cosine and keep top-5
    * per probe. A sign bit compares an element-order double fold
    * against 0 — identical IEEE fold in both engines (the
    * llm_simsearch_topk discipline) — and the re-rank sorts on the
    * ROUNDED sim, so no float boundary can flip a row. Measured on the
    * fixture: candidates ≈60% of the corpus per probe, recall@5 0.88
    * (sf0.001) / 0.92 (sf0.01) vs brute-force cosine — uniform-random
    * vectors are LSH's worst case (no cluster structure), the same
    * fixture-honesty note as IVF's nprobe/k; real clustered embeddings
    * reach recall at a far smaller candidate mass. AnnRecallSuite
    * gates recall ≥ 0.8.
    *
    * Scale shape: the corpus never shuffles to GET its band keys — the
    * 64×64 sign matrix rides in as ONE broadcast row and banding is a
    * per-row fold (interpreted HOF here; at 100 TB swap for a
    * HyperplaneBands-style codegen Expression — same kernel shape,
    * documented precedent). The candidate join is bucket-local on the
    * (band, key) hash key, the distinct and the exact re-rank touch
    * candidate pairs only, and the probe-side band table is the small
    * join side — nothing is all-pairs.
    */
  private val LshDetPlanes = 64
  private val LshDetBandBits = 4
  val llmSimsearchLshDet: Op = Op(
    "llm_simsearch_lsh_det",
    (s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding").as("v"))
      // one broadcast row: 64 sign hyperplanes over the 64 dims,
      // signs[p][d] = 1 - 2·(md5 bit) — the llm_dedup_embed draw
      val planes = s.range(1)
        .select(explode(expr(s"sequence(0, ${LshDetPlanes - 1})")).as("p"))
        .select(col("p"), expr(
          """transform(sequence(0, 63), d -> cast(1 - 2 * (
            |  cast(conv(substring(md5(concat('hplsh:', cast(p as string), ':', cast(d as string))), 1, 15), 16, 10) as bigint)
            |  % 2) as double))""".stripMargin).as("sp"))
        .agg(array_sort(collect_list(struct(col("p"), col("sp")))).as("arr"))
        .select(expr("transform(arr, x -> x.sp)").as("signs"))
      val nBands = LshDetPlanes / LshDetBandBits
      val keys = e.crossJoin(broadcast(planes))
        .select(col("vec_id"),
          expr("""transform(signs, sp -> CASE WHEN
              aggregate(zip_with(v, sp, (x, y) -> cast(x as double) * y),
                cast(0.0 as double), (a, z) -> a + z) > 0
              THEN 1L ELSE 0L END)""").as("bits"))
        .select(col("vec_id"), posexplode(expr(
          s"""transform(sequence(0, ${nBands - 1}), b ->
                bits[b * $LshDetBandBits] + bits[b * $LshDetBandBits + 1] * 2
              + bits[b * $LshDetBandBits + 2] * 4 + bits[b * $LshDetBandBits + 3] * 8)""")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
      val cand = keys.filter(isProbe)
        .select(col("vec_id").as("p_id"), col("band"), col("key"))
        .join(keys.select(col("vec_id").as("n_id"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("p_id") =!= col("n_id"))
        .select("p_id", "n_id").distinct()
      top5PerProbe(cand
        .join(e.select(col("vec_id").as("p_id"), col("v").as("pv")), "p_id")
        .join(e.select(col("vec_id").as("n_id"), col("v").as("nv")), "n_id")
        .select(col("p_id"), col("n_id"),
          round(expr("graft_cosine(pv, nv)"), 6).as("sim")), col("sim").desc)
    },
    Some(s"""
      WITH e AS ($vecsSql
      ), planes AS (
        SELECT p, d,
          CAST(1 - 2 * (CAST('0x' || substr(md5('hplsh:' || p || ':' || d), 1, 15) AS BIGINT) % 2) AS DOUBLE) AS s
        FROM (SELECT unnest(generate_series(0, ${LshDetPlanes - 1})) AS p),
             (SELECT unnest(generate_series(0, 63)) AS d)
      ), parr AS (
        SELECT p, list(s ORDER BY d) AS sp FROM planes GROUP BY p
      ), bits AS (
        SELECT vec_id, p,
          CASE WHEN ${dotSql("v", "sp")} > 0 THEN 1 ELSE 0 END AS bit
        FROM e CROSS JOIN parr
      ), keys AS (
        SELECT vec_id, p // $LshDetBandBits AS band,
          CAST(SUM(bit << (p % $LshDetBandBits)) AS BIGINT) AS key
        FROM bits GROUP BY 1, 2
      ), cand AS (
        SELECT DISTINCT a.vec_id AS p_id, b.vec_id AS n_id
        FROM keys a JOIN keys b
          ON a.band = b.band AND a.key = b.key AND a.vec_id != b.vec_id
        WHERE ${probeSql("a.")}
      ), sims AS (
        SELECT c.p_id, c.n_id, ROUND(${cosSql("pa.v", "pb.v")}, 6) AS sim
        FROM cand c
          JOIN e pa ON pa.vec_id = c.p_id
          JOIN e pb ON pb.vec_id = c.n_id
      )${top5Sql("sims", "sim", "sim DESC")}
    """.stripMargin.trim))

  /** MMR DIVERSIFIED RE-RANKING — Carbonell & Goldstein 1998, the
    * serving-quality step between a searcher's top-N and what a
    * retrieval pipeline actually returns (RAG context assembly, dedup
    * of near-identical hits): per probe, take the exact top-10 by
    * cosine, then select k = 5 greedily by
    * score = λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), λ = 0.7 — each
    * pick is penalized by its similarity to what is ALREADY selected,
    * so the returned 5 trade relevance against redundancy. Fully
    * deterministic and oracle-graded: every cosine rounds at 6 dp
    * (graft_cosine ⇄ the list-fold formula), each step's λ-blend runs
    * on the 6-dp sims' INTEGER numerators (7·s − 3·m over 1e7 — a
    * double blend rounds a 7th-digit half-way case differently per
    * engine; observed 0.255122 vs 0.255123), and argmax ties break on
    * n_id — the 5 unrolled selection steps are plain CTEs in both
    * engines, so the hash match proves the greedy trajectory step for
    * step.
    *
    * Scale shape: the candidate stage is the brute-force broadcast
    * panel (swap in any ANN searcher — the MMR stage only sees top-N);
    * the pairwise-sim table is N²-bounded PER PROBE (10×9 rows) and
    * keyed by probe, so the greedy loop's joins are bucket-local
    * however many probes exist. The selection depth is k (fixed), not
    * data-sized.
    */
  val llmSimsearchMmr: Op = Op(
    "llm_simsearch_mmr",
    (s, dir) => {
      val e = ivfVecs(s, dir)
      val cand10 = e.select(col("vec_id").as("n_id"), col("v").as("nv"))
        .crossJoin(broadcast(probePanel(e)))
        .filter(col("n_id") =!= col("p_id"))
        .select(col("p_id"), col("n_id"), col("nv"),
          round(expr("graft_cosine(pv, nv)"), 6).as("simq"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("p_id").orderBy(col("simq").desc, col("n_id"))))
        .filter(col("rk") <= 10)
        .drop("rk")
        // fresh attribute ids: ps self-joins this frame and the greedy
        // loop anti-joins its own picks (the starRound analyzer note)
        .localCheckpoint(true)
        .toDF("p_id", "n_id", "nv", "simq")
      val ps = cand10.select(col("p_id").as("pp"), col("n_id").as("a"),
          col("nv").as("av"))
        .join(cand10.select(col("p_id").as("pp"), col("n_id").as("b"),
          col("nv").as("bv")), Seq("pp"))
        .filter(col("a") =!= col("b"))
        .select(col("pp"), col("a"), col("b"),
          round(expr("graft_cosine(av, bv)"), 6).as("s"))
        .localCheckpoint(true) // 10×9 rows per probe, read by 4 steps
        .toDF("pp", "a", "b", "s")
      val cand = cand10.drop("nv")
      def pick(scored: DataFrame, r: Int): DataFrame =
        scored.withColumn("rk", row_number().over(
          Window.partitionBy("p_id").orderBy(col("score").desc, col("n_id"))))
          .filter(col("rk") === 1)
          .select(col("p_id"), col("n_id"), lit(r.toLong).as("mmr_rank"),
            col("simq"), col("score"))
      // each step's pick materializes with fresh ids (1 row/probe —
      // negligible) so step r+1's anti/equi joins never see step r's
      // attribute ids on both sides
      def fresh(df: DataFrame): DataFrame = df.localCheckpoint(true)
        .toDF("p_id", "n_id", "mmr_rank", "simq", "score")
      // score arithmetic runs on INTEGERS: simq/ms are exact 6-dp
      // doubles, so round(x·1e6) recovers their integer numerators in
      // both engines and 7·s − 3·m over 1e7 is one exact integer ratio
      // — a double λ-blend rounds a 7th-digit half-way case differently
      // per engine (observed: 0.255122 vs 0.255123)
      def blend(simq: Column, ms: Column): Column =
        ((lit(7L) * round(simq * 1e6).cast(LongType) -
          lit(3L) * round(ms * 1e6).cast(LongType)).cast(DoubleType) /
          lit(1e7))
      var selected = fresh(pick(cand.withColumn("score",
        blend(col("simq"), lit(0.0))), 1))
      for (r <- 2 to 5) {
        val rem = cand.join(selected.select("p_id", "n_id"),
          Seq("p_id", "n_id"), "left_anti")
        val scored = rem
          .join(ps, col("pp") === col("p_id") && col("a") === col("n_id"))
          .join(selected.select(col("p_id").as("sp"), col("n_id").as("sb")),
            col("sp") === col("pp") && col("sb") === col("b"))
          .groupBy("p_id", "n_id", "simq")
          .agg(max(col("s")).as("ms"))
          .select(col("p_id"), col("n_id"), col("simq"),
            blend(col("simq"), col("ms")).as("score"))
        selected = fresh(selected.unionByName(pick(scored, r)))
      }
      selected.orderBy("p_id", "mmr_rank")
    },
    Some {
      val steps = (2 to 5).map { r =>
        s"""rem$r AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} u
          WHERE u.p_id = c.p_id AND u.n_id = c.n_id)
      ), m$r AS (
        SELECT t.p_id, t.n_id, t.simq,
          CAST(7 * CAST(ROUND(t.simq * 1e6) AS BIGINT)
             - 3 * CAST(ROUND(MAX(ps.s) * 1e6) AS BIGINT) AS DOUBLE) / 1e7
            AS score
        FROM rem$r t
          JOIN ps ON ps.p_id = t.p_id AND ps.a = t.n_id
          JOIN selu${r - 1} u ON u.p_id = ps.p_id AND u.n_id = ps.b
        GROUP BY t.p_id, t.n_id, t.simq
      ), sel$r AS (
        SELECT p_id, n_id, $r AS mmr_rank, simq, score FROM (
          SELECT *, row_number() OVER (PARTITION BY p_id
            ORDER BY score DESC, n_id) AS rk FROM m$r) WHERE rk = 1
      ), selu$r AS (
        SELECT * FROM selu${r - 1} UNION ALL SELECT * FROM sel$r
      )"""
      }.mkString(", ")
      s"""
      WITH e AS ($vecsSql
      ), $probesSql, sims AS (
        SELECT p.p_id, n.vec_id AS n_id, ROUND(${cosSql("p.pv", "n.v")}, 6) AS simq
        FROM probes p CROSS JOIN e n WHERE n.vec_id != p.p_id
      ), cand AS (
        SELECT p_id, n_id, simq FROM (
          SELECT *, row_number() OVER (PARTITION BY p_id
            ORDER BY simq DESC, n_id) AS rk FROM sims) WHERE rk <= 10
      ), ps AS (
        SELECT c1.p_id, c1.n_id AS a, c2.n_id AS b,
          ROUND(${cosSql("ea.v", "eb.v")}, 6) AS s
        FROM cand c1
          JOIN cand c2 ON c2.p_id = c1.p_id AND c2.n_id != c1.n_id
          JOIN e ea ON ea.vec_id = c1.n_id
          JOIN e eb ON eb.vec_id = c2.n_id
      ), sel1 AS (
        SELECT p_id, n_id, 1 AS mmr_rank, simq, score FROM (
          SELECT p_id, n_id, simq,
            CAST(7 * CAST(ROUND(simq * 1e6) AS BIGINT) AS DOUBLE) / 1e7
              AS score,
            row_number() OVER (PARTITION BY p_id
              ORDER BY CAST(7 * CAST(ROUND(simq * 1e6) AS BIGINT) AS DOUBLE)
                / 1e7 DESC, n_id) AS rk
          FROM cand) WHERE rk = 1
      ), selu1 AS (
        SELECT * FROM sel1
      ), $steps
      SELECT p_id, n_id, CAST(mmr_rank AS BIGINT) AS mmr_rank, simq, score
      FROM selu5 ORDER BY p_id, mmr_rank
    """.stripMargin.trim
    })

  /** IVF (inverted-file) approximate NN — the OTHER classic ANN scale
    * path next to LSH: a coarse quantizer partitions the corpus into k
    * cells; each probe searches only its nprobe nearest cells, so the
    * pair space is nprobe/k of brute force and each cell is an
    * independent bucket — at 100 TB cells are the partition/bucket
    * layout of the vector lake.
    *
    * The quantizer is DETERMINISTIC and computed in-plan (no MLlib
    * fit): the k vectors with the smallest md5-derived key seed the
    * cells (cell id = the seed vector's vec_id), then ONE distributed
    * Lloyd refinement recenters them — per-dimension means through
    * exact DECIMAL sums, so the means are order-free (partition-
    * invariant AND engine-portable; a plain double sum would be
    * neither). Measured on the fixture (tools prototype, sf0.001/
    * sf0.01): seeds alone recall 0.74-0.84, +1 Lloyd step 0.86-0.88 at
    * k=32/nprobe=14 — matching the round-4 MLlib k-means recall at
    * ZERO per-call fit cost (that formulation's 3 s fit dominated its
    * bench time). A deployment still fits ONCE offline and persists
    * the centroid table (`llm_ivf_fit` below IS that table); the
    * search plan is unchanged — a k-row centroid dimension joined
    * broadcast.
    *
    * Determinism bonus: with the quantizer in-plan and both engines
    * computing identical doubles (element-order dot/distance folds, see
    * llm_simsearch_topk), the WHOLE search is now oracle-checkable —
    * round 4's no-oracle entry is a full rows+schema+hash compare from
    * this round on. Assignment ranks on the ROUNDED squared distance
    * (tie-break cell id) so a last-ulp engine difference can't flip a
    * cell; k=32, nprobe=14 (uniform-random fixture vectors cluster
    * weakly, so the nprobe/k ratio is high here — ~45% of the corpus
    * scanned; real embeddings reach the same recall at a far smaller
    * ratio).
    *
    * Scale shape: the corpus never shuffles for assignment — the
    * centroid array rides in as a broadcast 1-row dimension and the
    * argmin is a narrow per-row fold. (At 100 TB the interpreted HOF
    * argmin over k×dim is the hot loop — swap for a codegen Expression
    * like CosineSim; the plan shape is already right.) The wide moves
    * are the Lloyd mean (N×dim skinny rows, map-side partials), the
    * probe-cell broadcast join, and the top-5 rank over candidate rows
    * (3 narrow columns), all k- or nprobe/k-bounded.
    */
  /** k is CORPUS-ADAPTIVE (round-19, the last r18 scale asterisk):
    * k = clamp(ceil(N / 16), 8, 4096) — target cell size 16 vectors, so
    * cell-local pair work (Σ|cell|² ≈ N·16 for the dedup consumers)
    * stays LINEAR in N instead of riding N²/k at fixed k. On the test
    * fixtures (embeddings = 500 rows at every sf) the formula yields
    * exactly the historical k=32, so every oracle result is unchanged;
    * the oracle CTE computes the same clamp in SQL. nprobe scales with
    * k at the measured-good fixture ratios (14/32 for IVF search, 18/32
    * for IVF-PQ) so the probed FRACTION of the corpus is
    * k-invariant. Trade-off recorded: with k ∝ N the per-row
    * assignment argmin costs O(k·dim) (the codegen'd NearestCells
    * pass); past ~10⁶ cells a deployment inserts a second quantizer
    * level above the cells (route to a cell GROUP, then within it) —
    * the artifact layout and every consumer plan are unchanged by
    * that, which is why the clamp ceiling is high rather than a plan
    * fork here.
    */
  private val IvfTargetCell = 16
  // clamp in Long BEFORE narrowing to Int: ((n+15)/16).toInt wraps
  // (possibly negative) above ~2^35 rows, and the clamp would then
  // silently return k=8 exactly in the huge-corpus regime (r19 ADVICE)
  private def ivfK(n: Long): Int =
    math.max(8L, math.min(4096L,
      (n + IvfTargetCell - 1) / IvfTargetCell)).toInt
  private def ivfNprobe(k: Int): Int = math.max(1, (k * 7 + 15) / 16)
  private def ivfPqNprobeOf(k: Int): Int = math.max(1, (k * 9 + 15) / 16)

  /** THE probe panel every vector search ranks for: the fixed,
    * deterministic |corpus|/50 slice of vec_ids. One predicate per engine,
    * so the Spark frame and its oracle can never probe different rows.
    */
  private def isProbe: Column = col("vec_id") % 50 === 0
  private def probeSql(alias: String): String = s"${alias}vec_id % 50 = 0"

  /** The probe panel of a (vec_id, v) corpus as (p_id, pv). */
  private def probePanel(e: DataFrame): DataFrame =
    e.filter(isProbe).select(col("vec_id").as("p_id"), col("v").as("pv"))

  /** The same panel as an oracle CTE over an `e(vec_id, v)` CTE. */
  private def probesSql: String = s"""probes AS (
        SELECT vec_id AS p_id, v AS pv FROM e WHERE ${probeSql("")}
      )"""

  /** The exact top-5 per probe of (p_id, n_id, score) candidates, ranked
    * by `rank` with n_id breaking ties, as (p_id, n_id, score, rn).
    */
  private def top5PerProbe(cand: DataFrame, rank: Column): DataFrame =
    cand.withColumn("rn", row_number().over(
        Window.partitionBy("p_id").orderBy(rank, col("n_id"))))
      .filter(col("rn") <= 5)
      .orderBy("p_id", "rn")

  /** top5PerProbe's oracle tail over the candidate CTE `rel`. */
  private def top5Sql(rel: String, score: String, rank: String): String = s"""
      SELECT p_id, n_id, $score, rn
      FROM (SELECT *, row_number() OVER (PARTITION BY p_id
              ORDER BY $rank, n_id) AS rn FROM $rel)
      WHERE rn <= 5 ORDER BY p_id, rn"""

  /** The oracle's vector folds: left-to-right list sums, the same IEEE
    * fold order as graft_cosine / graft_sqdist, so both engines agree to
    * the last bit before any rounding.
    */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2]))"
  private def sqdistSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), z -> (z[1] - z[2]) * (z[1] - z[2])))"
  private def cosSql(a: String, b: String): String =
    s"""${dotSql(a, b)}
            / (sqrt(list_sum(list_transform($a, x -> x * x)))
               * sqrt(list_sum(list_transform($b, x -> x * x))))"""

  /** The embeddings as the oracle's `e(vec_id, v)` CTE body. */
  private def vecsSql: String = """
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings"""

  /** embeddings as (vec_id, v: array<double>) — float→double is exact. */
  private def ivfVecs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), dvec(col("embedding")).as("v"))

  /** The k seed vectors: smallest md5('ivf:'||vec_id) wins (a seeded
    * deterministic sample — both engines order the same hex strings).
    */
  private def ivfSeeds(e: DataFrame, k: Int): DataFrame =
    e.select(col("vec_id").as("cell"), col("v").as("cvec"),
        md5(concat(lit("ivf:"), col("cell").cast(StringType))).as("hkey"))
      .orderBy("hkey", "cell")
      .limit(k)

  /** Centroids folded to ONE row (array of (cell, cvec) structs) so the
    * corpus-side consumers stay narrow behind a 1-row broadcast.
    */
  private def ivfCentArr(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cell"), col("cvec"))).as("cents"))

  /** Per-row nearest-cells fold over the broadcast centroid array:
    * ranks cells by (round(sqdist, 6), cell) and keeps the first n —
    * the native NearestCells expression (round 6; the round-5 scaladoc
    * named this interpreted lambda the 100 TB hot loop and this is the
    * promised codegen swap). One JIT-compiled insertion pass per row
    * replaces the per-row k×(struct alloc + array_sort) lambda tree;
    * rounding/tie-break semantics are bit-identical (NearestCellsSuite
    * asserts equality with the composed form on the fixture).
    */
  private def nearestCells(vecCol: String, n: Int): Column =
    expr(s"graft_nearest_cells($vecCol, cents, $n)")

  private def sqdist(a: Column, b: Column): Column =
    call_function("graft_sqdist", a, b)

  /** (vec_id, v, cell): every vector tagged with its nearest cell. */
  private def ivfAssign(e: DataFrame, centArr: DataFrame): DataFrame =
    e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("v"), nearestCells("v", 1)(0).as("cell"))

  /** IVF probe routing: each probe's `nprobe` nearest cells, as
    * (p_id, pv, cell) rows (|probes| × nprobe — broadcast-sized).
    */
  private def probeCells(probes: DataFrame, centArr: DataFrame, nprobe: Int): DataFrame =
    probes.crossJoin(broadcast(centArr))
      .select(col("p_id"), col("pv"), explode(nearestCells("pv", nprobe)).as("cell"))

  /** probeCells as the oracle's `pc` CTE, over the `probes`, `cents` and
    * `kk` CTEs; `np` names kk's nprobe column.
    */
  private def probeCellsSql(np: String): String = s"""pc AS (
        SELECT p_id, pv, cell FROM (
          SELECT p.p_id, p.pv, c.cell,
            row_number() OVER (PARTITION BY p.p_id
              ORDER BY ROUND(${sqdistSql("p.pv", "c.cvec")}, 6), c.cell) AS rn
          FROM probes p CROSS JOIN cents c)
        WHERE rn <= (SELECT $np FROM kk)
      )"""

  /** One distributed Lloyd refinement: recenters each seed cell on the
    * per-dimension MEAN of its members. The sum runs through exact
    * DECIMAL(20,12) (embedding values are in (-1,1), so 12 fractional
    * digits cover the float mantissa) — decimal addition commutes, so
    * the mean is independent of row order and identical across engines;
    * the final double division is then a division of identical values.
    * Returns the refined (cell, cvec) centroid table (a cell that lost
    * every member — impossible here, each seed self-assigns at distance
    * 0 — would simply drop out in both engines alike).
    */
  private def ivfLloyd(e: DataFrame, seeds: DataFrame): DataFrame =
    ivfAssign(e, ivfCentArr(seeds))
      .select(col("cell"), posexplode(col("v")))
      .select(col("cell"), col("pos"), col("col").as("val"))
      .groupBy("cell", "pos")
      .agg((sum(col("val").cast(DecimalType(20, 12))).cast(DoubleType) /
        count(lit(1))).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cvec"))

  /** The fitted quantizer, computed ONCE per (session, fixture dir) and
    * materialized (32 tiny rows) — `llm_ivf_fit` and `llm_simsearch_ivf`
    * share the same fit instead of each re-running the corpus-wide Lloyd
    * chain, and repeated builds within a run (plan audits, bench) reuse
    * the cached table. This is exactly the deployment shape: fit once,
    * persist, every search reads the artifact. A fresh session refits,
    * so a changed fixture can never be served stale across driver runs.
    */
  private val ivfCentsCache = new SessionArtifact[(DataFrame, Int)]
  /** (centroid table, k). k comes from one corpus count() at fit time —
    * a driver scalar, cached with the fit; consumers derive nprobe from
    * it so the probe fraction tracks the adaptive cell count.
    */
  private def ivfFit(s: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, Int) =
    ivfCentsCache(s, dir) {
      val e = ivfVecs(s, dir)
      val k = ivfK(e.count())
      (ivfLloyd(e, ivfSeeds(e, k)).localCheckpoint(true), k)
    }
  private def ivfCents(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    ivfFit(s, dir)._1

  /** The offline FIT step as its own graded op: emits the quantizer
    * table (cell id, member count, centroid norm) a deployment persists
    * and every search reuses. Cell populations prove the quantizer
    * balances (no empty/overloaded cells); each seed vector assigns to
    * itself at distance 0, so every cell is non-empty by construction.
    */
  /** Shared oracle prefix: seeds → Lloyd-refined centroid table → final
    * assignment, mirroring ivfSeeds/ivfLloyd/ivfAssign step for step.
    */
  private def ivfOracleCtes: String = ivfOracleCtesOver(vecsSql)

  /** Same fit chain over an arbitrary corpus CTE body — the
    * semantic-scale twin amplifies the corpus in-plan and refits, so
    * the adaptive-k formula is exercised at a k ≠ the fixture's 32
    * inside a GRADED query.
    */
  private def ivfOracleCtesOver(eBody: String): String = s"""
      WITH e AS ($eBody
      ), kk AS (
        SELECT k, (k * 7 + 15) // 16 AS np, (k * 9 + 15) // 16 AS np_pq
        FROM (SELECT GREATEST(8, LEAST(4096,
          CAST(ceil(COUNT(*) / 16.0) AS INT))) AS k FROM e)
      ), seeds AS (
        SELECT cell, cvec FROM (
          SELECT vec_id AS cell, v AS cvec,
            row_number() OVER (
              ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
          FROM e)
        WHERE rn <= (SELECT k FROM kk)
      ), asg0 AS (
        SELECT vec_id, v, cell FROM (
          SELECT e.vec_id, e.v, s.cell, row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ROUND(${sqdistSql("e.v", "s.cvec")}, 6), s.cell) AS rn
          FROM e CROSS JOIN seeds s) WHERE rn = 1
      ), dims0 AS (
        SELECT cell, v, unnest(generate_series(1, len(v))) AS i FROM asg0
      ), means AS (
        SELECT cell, i - 1 AS pos,
          CAST(SUM(CAST(v[i] AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS m
        FROM dims0 GROUP BY 1, 2
      ), cents AS (
        SELECT cell, list(m ORDER BY pos) AS cvec FROM means GROUP BY cell
      ), asg AS (
        SELECT vec_id, v, cell FROM (
          SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ROUND(${sqdistSql("e.v", "c.cvec")}, 6), c.cell) AS rn
          FROM e CROSS JOIN cents c) WHERE rn = 1
      )"""

  val llmIvfFit: Op = Op(
    "llm_ivf_fit",
    (s, dir) => {
      val e = ivfVecs(s, dir)
      // 32 tiny rows feeding TWO consumers (the assignment's broadcast
      // and the output projection) — the shared per-session fit cache
      // materializes them once for BOTH IVF ops
      val cents = ivfCents(s, dir)
      val members = ivfAssign(e, ivfCentArr(cents))
        .groupBy("cell").agg(count(lit(1)).as("n_members"))
      cents.select(col("cell"), round(l2(col("cvec")), 6).as("cnorm"))
        .join(members, "cell")
        .select(col("cell"), col("n_members"), col("cnorm"))
        .orderBy("cell")
    },
    Some(s"""$ivfOracleCtes
      SELECT c.cell, COUNT(*) AS n_members,
        ROUND(sqrt(list_sum(list_transform(c.cvec, x -> x * x))), 6) AS cnorm
      FROM cents c JOIN asg a ON a.cell = c.cell
      GROUP BY c.cell, c.cvec ORDER BY c.cell
    """.stripMargin.trim))

  val llmSimsearchIvf: Op = Op(
    "llm_simsearch_ivf",
    (s, dir) => {
      val e = ivfVecs(s, dir)
      val (cents, k) = ivfFit(s, dir)
      val centArr = ivfCentArr(cents)
      // probeCells is |probes|×nprobe rows — broadcast it so the corpus
      // side never shuffles; candidates then rank top-5 per probe
      top5PerProbe(ivfAssign(e, centArr)
        .join(broadcast(probeCells(probePanel(e), centArr, ivfNprobe(k))), "cell")
        .filter(col("vec_id") =!= col("p_id"))
        .select(col("p_id"), col("vec_id").as("n_id"),
          round(sqrt(sqdist(col("pv"), col("v"))), 6).as("dist")), col("dist"))
    },
    Some(s"""$ivfOracleCtes
      , $probesSql, ${probeCellsSql("np")}, cand AS (
        SELECT pc.p_id, a.vec_id AS n_id,
          ROUND(sqrt(${sqdistSql("pc.pv", "a.v")}), 6) AS dist
        FROM pc JOIN asg a USING (cell)
        WHERE a.vec_id != pc.p_id
      )${top5Sql("cand", "dist", "dist")}
    """.stripMargin.trim))

  /** EMBEDDING-SPACE OUTLIER SCREEN — the data-cleaning read of the
    * shared IVF fit (every consumer so far SEARCHES it; a curation
    * pipeline also asks the inverse question: which vectors fit the
    * space WORST?): each vector's distance to its own nearest centroid
    * is its outlier score, and the global top-20 are the junk-candidate
    * review queue (encoder failures, corrupt inputs, off-distribution
    * content — the embedding analogue of llm_quality_filter). Distances
    * round at 6 dp (the ivf discipline), the top-k ranks tie-break on
    * vec_id, and the oracle recomputes the whole fit chain verbatim —
    * the hash match proves fit + assignment + score + rank end to end.
    *
    * Scale shape: assignment is the broadcast-centroid narrow fold (the
    * corpus never shuffles); the global top-20 is an orderBy+limit —
    * Spark plans TakeOrderedAndProject (per-partition heaps + a k-row
    * driver merge), NOT a full sort, so the screen is one scan at any
    * corpus size. The final row_number runs on the 20 survivors only.
    * INVARIANT (r18 ADVICE): the unpartitioned rank window is safe ONLY
    * because it sits BEHIND the TakeOrdered limit — it coalesces its
    * input to one partition, so it must never move above the limit or
    * be copied into a corpus-scale op without a partitionBy.
    */
  val llmEmbedOutliers: Op = Op(
    "llm_embed_outliers",
    (s, dir) => {
      val e = ivfVecs(s, dir)
      val cents = ivfCents(s, dir)
      val scored = ivfAssign(e, ivfCentArr(cents))
        .join(broadcast(cents), "cell")
        .select(col("vec_id"), col("cell"),
          round(sqrt(sqdist(col("v"), col("cvec"))), 6).as("dist"))
        .orderBy(col("dist").desc, col("vec_id"))
        .limit(20)
      scored
        .withColumn("rank", row_number().over(
          Window.orderBy(col("dist").desc, col("vec_id"))).cast(LongType))
        .select(col("rank"), col("vec_id"), col("cell"), col("dist"))
        .orderBy("rank")
    },
    Some(s"""$ivfOracleCtes
      , d AS (
        SELECT a.vec_id, a.cell,
          ROUND(sqrt(${sqdistSql("a.v", "c.cvec")}), 6) AS dist
        FROM asg a JOIN cents c ON c.cell = a.cell
      )
      SELECT CAST(rank AS BIGINT) AS rank, vec_id, cell, dist
      FROM (SELECT *, row_number() OVER (ORDER BY dist DESC, vec_id)
              AS rank FROM d)
      WHERE rank <= 20 ORDER BY rank
    """.stripMargin.trim))

  /** PRODUCT-QUANTIZATION ANN — the third leg of the ANN family
    * (brute force = exact baseline, IVF = partition-and-probe, PQ =
    * COMPRESS-and-scan): each 128-dim vector splits into M=16
    * subspaces of 8 dims, each subspace learns a KS=32-entry codebook
    * (md5('pq:'||vec_id)-seeded deterministic sample + ONE Lloyd step
    * — the ivfSeeds/ivfLloyd discipline per subspace, means through
    * exact DECIMAL(20,12)), and every vector is ENCODED as 16 code
    * ids (~80 bits vs 8 KB raw — the memory-bound regime PQ exists
    * for). Search is ADC (asymmetric distance): the probe builds a
    * (subspace, code) → partial-sqdist lookup table against the
    * codebook ONLY, a candidate's approximate distance is the sum of
    * 16 LUT entries (each partial rounded at 8 dp and summed as exact
    * DECIMAL(20,8) — associative ⇒ partition-invariant, the chisq
    * treatment), the ADC top-50 shortlist re-ranks EXACTLY on the raw
    * vectors, and the graded output is the exact top-5 — the
    * production shortlist+re-rank shape. Tie-breaks everywhere on
    * (rounded distance, id); float→double is exact — fully
    * ORACLE-GRADED like IVF (no recall hand-wave in the graded path;
    * AnnRecallSuite separately gates recall ≥ 0.8 vs brute force —
    * 0.820 in-engine at sf0.001, deterministic for a fixed fixture;
    * the round-14 numpy prototype that chose m/ks/shortlist read
    * 0.96/1.00 at sf0.001/sf0.01 on its own argmin conventions).
    *
    * Scale shape: the codebook is M×KS tiny rows (broadcast), codes
    * are N×M skinny ints (production packs them to bytes in one
    * column), the LUT is |probes|×M×KS and rides a broadcast, and the
    * ADC fold is ONE co-keyed aggregate of codes ⋈ broadcast-LUT —
    * the corpus never shuffles and the raw vectors are touched only
    * for |probes|×50 re-rank rows. At 100 TB the scan reads 10 B/vec
    * instead of 512 B/vec: PQ trades a bounded approximation error
    * (absorbed by the re-rank) for a 50× smaller scan.
    */
  private val PqM = 16
  private val PqSub = 8
  private val PqKs = 32
  private val PqShortlist = 50
  private val pqFitCache = new SessionArtifact[(DataFrame, DataFrame)]

  /** The PqM-way subspace id dimension (broadcast everywhere it joins). */
  private def pqJs(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.range(0, PqM).select(col("id").cast(IntegerType).as("j"))

  /** Subspace j's PqSub components of the vector column `v`. */
  private def pqSlice(v: String): Column = expr(s"slice($v, j * $PqSub + 1, $PqSub)")
  private def pqSliceSql(v: String, j: String): String =
    s"list_slice($v, $j * $PqSub + 1, $j * $PqSub + $PqSub)"

  /** The fitted product quantizer — (codebook, codes) — computed ONCE
    * per (session, fixture): the ivfCents shape. A deployment persists
    * both; every search pays only LUT + ADC + re-rank (measured
    * 3.59 → ~1 s warm). SHARED by llm_simsearch_pq and
    * llm_simsearch_ivfpq, so the composed op quantizes with the exact
    * artifact its parent grades.
    */
  private def pqFit(s: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) =
    pqFitCache(s, dir) {
      val e = ivfVecs(s, dir)
      val js = pqJs(s)
      val seeds = e.select(col("vec_id").as("cell"), col("v").as("cvec"),
          md5(concat(lit("pq:"), col("vec_id").cast(StringType))).as("hkey"))
        .orderBy("hkey", "cell").limit(PqKs)
      val cb0 = seeds.crossJoin(broadcast(js))
        .select(col("j"), col("cell"), pqSlice("cvec").as("csub"))
      // 3 consumers (seed assign, Lloyd member join, encode) — one pass
      val subs = e.crossJoin(broadcast(js))
        .select(col("vec_id"), col("j"), pqSlice("v").as("subv"))
        .localCheckpoint(true)
      // nearest sub-centroid per (vector, subspace): agg-min on the
      // (rounded sqdist, cell) struct — partial aggregates map-side,
      // no window, the corpus-side never reshuffles on the codebook
      def assign(cbd: DataFrame): DataFrame =
        subs.join(broadcast(cbd), "j")
          .groupBy("vec_id", "j")
          .agg(min(struct(round(sqdist(col("subv"), col("csub")), 6).as("d"),
            col("cell"))).as("mn"))
          .select(col("vec_id"), col("j"), col("mn.cell").as("cell"))
      val cbB = assign(cb0)
        .join(subs, Seq("vec_id", "j"))
        .select(col("j"), col("cell"), posexplode(col("subv")))
        .groupBy("j", "cell", "pos")
        .agg((sum(col("col").cast(DecimalType(20, 12))).cast(DoubleType) /
          count(lit(1))).as("m"))
        .groupBy("j", "cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("csub"))
        .localCheckpoint(true)
      (cbB, assign(cbB).withColumnRenamed("cell", "code").localCheckpoint(true))
    }

  /** Shared oracle text: the PQ quantizer chain (codebook fit + corpus
    * encode) plus the probe/LUT CTEs, 'pq_'-prefixed where a CTE name
    * would collide with the IVF oracle chain. llm_simsearch_pq and
    * llm_simsearch_ivfpq embed the SAME string, so the quantizer
    * definition cannot fork between the two ops that share its
    * Spark-side fit (pqFit). Expects an `e(vec_id, v)` CTE in scope.
    */
  private def pqChainSql: String = s"""
      , js AS (
        SELECT unnest(generate_series(0, ${PqM - 1})) AS j
      ), pq_seeds AS (
        SELECT vec_id AS cell, v AS cvec
        FROM e ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id
        LIMIT $PqKs
      ), pq_cb0 AS (
        SELECT j, cell, ${pqSliceSql("cvec", "j")} AS csub
        FROM pq_seeds, js
      ), pq_subs AS (
        SELECT vec_id, j, ${pqSliceSql("v", "j")} AS subv
        FROM e, js
      ), pq_asg0 AS (
        SELECT vec_id, j, cell FROM (
          SELECT s.vec_id, s.j, c.cell,
            row_number() OVER (PARTITION BY s.vec_id, s.j
              ORDER BY ROUND(${sqdistSql("s.subv", "c.csub")}, 6), c.cell) AS rn
          FROM pq_subs s JOIN pq_cb0 c ON c.j = s.j) WHERE rn = 1
      ), pq_dims0 AS (
        SELECT a.j, a.cell, s.subv,
          unnest(generate_series(1, $PqSub)) AS i
        FROM pq_asg0 a JOIN pq_subs s ON s.vec_id = a.vec_id AND s.j = a.j
      ), pq_means AS (
        SELECT j, cell, i - 1 AS pos,
          CAST(SUM(CAST(subv[i] AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS m
        FROM pq_dims0 GROUP BY 1, 2, 3
      ), cb AS (
        SELECT j, cell, list(m ORDER BY pos) AS csub FROM pq_means GROUP BY j, cell
      ), codes AS (
        SELECT vec_id, j, cell AS code FROM (
          SELECT s.vec_id, s.j, c.cell,
            row_number() OVER (PARTITION BY s.vec_id, s.j
              ORDER BY ROUND(${sqdistSql("s.subv", "c.csub")}, 6), c.cell) AS rn
          FROM pq_subs s JOIN cb c ON c.j = s.j) WHERE rn = 1
      ), $probesSql, lut AS (
        SELECT p.p_id, c.j, c.cell,
          CAST(ROUND(${sqdistSql(pqSliceSql("p.pv", "c.j"), "c.csub")}, 8)
            AS DECIMAL(20,8)) AS pd
        FROM probes p, cb c
      )"""

  /** The PQ search: per probe, the (subspace, code) → partial-sqdist
    * LUT against the codebook, the ADC fold (the sum of a candidate's 16
    * LUT entries), the ADC top-$PqShortlist shortlist and its exact
    * re-rank to the top 5, as (p_id, n_id, dist, rn). `route` =
    * (centroid array, nprobe) restricts the ADC to the codes in each
    * probe's nprobe nearest IVF cells.
    */
  private def pqSearch(e: DataFrame, cb: DataFrame, codes: DataFrame,
      route: Option[(DataFrame, Int)]): DataFrame = {
    val probes = probePanel(e)
    val lut = probes.crossJoin(broadcast(pqJs(e.sparkSession)))
      .select(col("p_id"), col("j"), pqSlice("pv").as("psub"))
      .join(broadcast(cb), "j")
      .select(col("p_id"), col("j"), col("cell").as("code"),
        round(sqdist(col("psub"), col("csub")), 8)
          .cast(DecimalType(20, 8)).as("pd"))
    val scored = route match {
      case None => codes.join(broadcast(lut), Seq("j", "code"))
      case Some((centArr, nprobe)) =>
        // the inverted-list layout: codes tagged with their IVF cell
        // (production stores codes cell-partitioned; the tag join is the
        // fixture stand-in), then ONLY probed cells' codes ADC-score.
        // r22 (guide §3.1): the codes ⋈ cell-tag equi-join defaulted to
        // SortMergeJoin (derived sides, no stats) — a shuffled-hash join
        // skips both sorts. Precondition: the build side holds one
        // cell-tag row per vector, held in memory per shuffle partition,
        // so it stays bounded only while the shuffle partition count
        // grows with the corpus; at a fixed count it grows linearly
        // with N.
        val cellOf = ivfAssign(e, centArr).select(col("vec_id"), col("cell"))
        codes.join(cellOf.hint("SHUFFLE_HASH"), "vec_id")
          .join(broadcast(probeCells(probes, centArr, nprobe).drop("pv")), "cell")
          .join(broadcast(lut), Seq("p_id", "j", "code"))
    }
    val short = scored.filter(col("vec_id") =!= col("p_id"))
      .groupBy("p_id", "vec_id")
      .agg(sum("pd").as("adc"))
      .withColumn("srn", row_number().over(
        Window.partitionBy("p_id").orderBy(col("adc"), col("vec_id"))))
      .filter(col("srn") <= PqShortlist)
      .select("p_id", "vec_id")
    top5PerProbe(short.join(e, "vec_id")
      .join(broadcast(probes), "p_id")
      .select(col("p_id"), col("vec_id").as("n_id"),
        round(sqrt(sqdist(col("pv"), col("v"))), 6).as("dist")), col("dist"))
  }

  /** pqSearch's oracle: the SHARED pqChainSql fit and LUT, then the ADC,
    * shortlist and re-rank; a routed search splices the IVF chain and
    * joins the ADC to the probed cells' codes.
    */
  private def pqSearchSql(routed: Boolean): String = {
    val (head, pc, routedJoin) =
      if (routed) (ivfOracleCtes, s", ${probeCellsSql("np_pq")}", """
          JOIN asg a ON a.vec_id = k.vec_id
          JOIN pc ON pc.cell = a.cell AND pc.p_id = l.p_id""")
      else (s"""
      WITH e AS ($vecsSql
      )""", "", "")
    (head + pqChainSql + pc + s"""
      , adc AS (
        SELECT l.p_id, k.vec_id, SUM(l.pd) AS adc
        FROM codes k JOIN lut l ON l.j = k.j AND l.cell = k.code$routedJoin
        WHERE k.vec_id != l.p_id
        GROUP BY 1, 2
      ), short AS (
        SELECT p_id, vec_id FROM (
          SELECT p_id, vec_id, row_number() OVER (PARTITION BY p_id
            ORDER BY adc, vec_id) AS srn FROM adc) WHERE srn <= $PqShortlist
      ), rr AS (
        SELECT sh.p_id, sh.vec_id AS n_id,
          ROUND(sqrt(${sqdistSql("p.pv", "e.v")}), 6) AS dist
        FROM short sh
          JOIN e ON e.vec_id = sh.vec_id
          JOIN probes p ON p.p_id = sh.p_id
      )${top5Sql("rr", "dist", "dist")}""").trim
  }

  val llmSimsearchPq: Op = Op(
    "llm_simsearch_pq",
    (s, dir) => {
      val (cb, codes) = pqFit(s, dir)
      pqSearch(ivfVecs(s, dir), cb, codes, None)
    },
    Some(pqSearchSql(routed = false)))

  /** IVF-PQ COMPOSED ANN — the production FAISS shape: IVF PARTITIONS
    * the corpus (probe the nprobe nearest cells — reuses the shared
    * ivfCents fit), PQ COMPRESSES it (ADC over 16 broadcast-LUT
    * lookups per candidate — reuses the shared pqFit codebook+codes),
    * so a query touches only the probed cells' CODES (~nprobe/k of
    * the corpus at ~10 bytes/vector) and raw vectors only for the
    * top-$PqShortlist exact re-rank. Both parents are independently
    * oracle-graded; the composition is too — the oracle splices the
    * IVF chain and the SHARED pqChainSql verbatim, so the hash match
    * proves the composed route end-to-end (routing + quantization +
    * shortlist + re-rank). nprobe=18 here (vs the parent's 14): the
    * uniform-random fixture clusters weakly AND the PQ approximation
    * stacks on the cell-miss loss, so the composed op buys its ≥0.8
    * recall margin with two extra probes (AnnRecallSuite: 0.82 at
    * sf0.001, DuckDB-prototyped before committing to the params).
    *
    * Scale shape: this is THE billion-vector serving layout — codes
    * live in their cell's posting list (here: codes ⋈ cell equi-join;
    * a deployment stores them cell-partitioned so the join is free),
    * probe routing is the broadcast-centroid narrow fold, the ADC is
    * codes ⋈ broadcast probe-cells ⋈ broadcast LUT with map-side
    * partial sums, and raw vectors page in for |probes| × shortlist
    * rows only. Memory rides nprobe/k × N × M bytes instead of
    * N × dim × 8.
    */
  val llmSimsearchIvfpq: Op = Op(
    "llm_simsearch_ivfpq",
    (s, dir) => {
      val (cents, k) = ivfFit(s, dir)
      val (cb, codes) = pqFit(s, dir)
      pqSearch(ivfVecs(s, dir), cb, codes, Some((ivfCentArr(cents), ivfPqNprobeOf(k))))
    },
    Some(pqSearchSql(routed = true)))

  /** IVF-bucketed SEMANTIC dedup — near-dup detection in true embedding
    * space (llm_dedup_embed works on hashed-BoW term vectors; this op
    * closes that gap, round-12 verdict #8). Reuses the SHARED fitted
    * quantizer (ivfCents — fit once, every consumer reads the
    * artifact): candidate pairs form only WITHIN an IVF cell, with
    * multi-probe (top-2 nearest cells per vector) covering boundary
    * pairs, then EXACT cosine ≥ 0.9 verifies — the candidate space is
    * Σ_cells |cell|² instead of N², the standard ANN-dedup shape.
    *
    * Fixture honesty note (the llm_pii_scrub treatment): the synthetic
    * embeddings are near-uniform — max pairwise cosine 0.51 at sf0.01,
    * measured round-13 — so a real threshold finds nothing. The op
    * therefore PLANTS deterministic near-dups in-plan (every vec_id %
    * 25 == 0 gains a copy at id+100000, each component x → 0.9·x+0.01
    * — cosine ≈ 0.996, well over the 0.9 gate, while the additive tilt
    * keeps it below 1.0 so the verify threshold does real work), and
    * the scrub provably finds EXACTLY the planted pairs: candidate
    * recall vs brute-force ≥-0.9 pairs is 20/20 = 1.0 at sf0.01
    * (planted twins share a primary cell by construction — they sit
    * 0.996 apart; SemanticDedupSuite asserts this against the
    * brute-force pair set).
    *
    * Scale shape: assignment is the broadcast-centroid narrow fold
    * (never a corpus shuffle); the pair self-join keys on cell, so
    * pair work is cell-bounded (at 100 TB: more cells, same bound);
    * exact-cosine verify touches only candidates. The per-pair cosine
    * is the native codegen'd graft_cosine (widened to double arrays
    * round-13 for exactly this op — the candidate set is cell-bounded
    * but still the hot loop; the interpreted zip_with/aggregate fold it
    * replaces cost ~1 s at sf0.1): one fused left-to-right pass,
    * bit-identical to DuckDB's sequential list_sum formula.
    */
  val llmDedupSemantic: Op = Op(
    "llm_dedup_semantic",
    (s, dir) => {
      val e = ivfVecs(s, dir)
      val planted = e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("v"), x => x * 0.9 + 0.01).as("v"))
      // aug feeds the assignment and BOTH verify joins, so it
      // materializes once (the llm_ngram_novelty round-11 treatment;
      // without this the augmented scan ran three times)
      semanticPairs(e.unionByName(planted).localCheckpoint(true), ivfCents(s, dir))
    },
    Some((s"""$ivfOracleCtes
      , aug AS (
        SELECT vec_id, v FROM e
        UNION ALL
        SELECT vec_id + 100000, list_transform(v, x -> 0.9 * x + 0.01)
        FROM e WHERE vec_id % 25 = 0
      )""" + semanticPairsSql("aug")).trim))

  /** The cell-blocked pair search both semantic-dedup ops run: every
    * vector of `vecs` (vec_id, v) tags its 2 nearest cells of `cents`,
    * candidate pairs form only within a cell, and exact cosine ≥ 0.9
    * verifies them, as (a_id, b_id, cos_sim). `vecs` feeds the
    * assignment and both verify joins, so callers pass it materialized.
    */
  private def semanticPairs(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // asg feeds both sides of the candidate self-join — materialized once
    val asg = vecs.crossJoin(broadcast(ivfCentArr(cents)))
      .select(col("vec_id"), explode(nearestCells("v", 2)).as("cell"))
      .localCheckpoint(true)
    val cand = asg.as("a")
      .join(asg.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    cand
      .join(vecs.select(col("vec_id").as("a_id"), col("v").as("av")), "a_id")
      .join(vecs.select(col("vec_id").as("b_id"), col("v").as("bv")), "b_id")
      .select(col("a_id"), col("b_id"), expr("graft_cosine(av, bv)").as("cs"))
      .filter(col("cs") >= 0.9)
      .select(col("a_id"), col("b_id"), round(col("cs"), 6).as("cos_sim"))
      .orderBy("a_id", "b_id")
  }

  /** semanticPairs' oracle over the corpus CTE `rel` and a `cents` CTE. */
  private def semanticPairsSql(rel: String): String = s"""
      , masg AS (
        SELECT vec_id, cell FROM (
          SELECT a.vec_id, c.cell, row_number() OVER (PARTITION BY a.vec_id
            ORDER BY ROUND(${sqdistSql("a.v", "c.cvec")}, 6), c.cell) AS rn
          FROM $rel a CROSS JOIN cents c) WHERE rn <= 2
      ), cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM masg a JOIN masg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      ), sims AS (
        SELECT c.a_id, c.b_id, ${cosSql("x.v", "y.v")} AS cs
        FROM cand c JOIN $rel x ON x.vec_id = c.a_id
                    JOIN $rel y ON y.vec_id = c.b_id
      )
      SELECT a_id, b_id, ROUND(cs, 6) AS cos_sim
      FROM sims WHERE cs >= 0.9 ORDER BY a_id, b_id"""

  /** The ×4-amplified corpus + its OWN adaptive-k fit for the
    * semantic-scale twin, cached per (session, dir) and prewarmed like
    * every fitted artifact. Replica r ∈ {0..3} of each vector is
    * x → x·(1 − r/32) + r/256 with OFFSET ids — every constant an
    * exact dyadic, so the tilt parses and computes bit-identically in
    * both engines; r = 0 is the identity. Each base vector becomes a
    * 4-way near-dup group (within-group cosine ≥ 0.999, cross-group
    * stays at the fixture's ≤ ~0.5), so the twin's expected output is
    * exactly the C(4,2)·N within-group pairs.
    */
  /** The ×4-amplified corpus as an oracle CTE body — shared by the
    * semantic-scale twin and the artifact-refresh op so the dyadic
    * tilt constants cannot fork between them.
    */
  private val semScaleOracleE: String =
    """SELECT e0.vec_id + rr.r * 1000000 AS vec_id,
          list_transform(e0.v, x -> x * (1.0 - rr.r / 32.0) + rr.r / 256.0) AS v
        FROM (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings) e0
        CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) rr"""

  private val semScaleCache = new SessionArtifact[(DataFrame, DataFrame)]
  private def semScaleFit(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) = semScaleCache(s, dir) {
      val e = ivfVecs(s, dir)
      // the replica offset is a fixed 1e6 so the oracle CTE can mirror
      // it as a literal; a corpus with vec_id >= 1e6 would silently
      // collide replica ids — fail loudly instead (r19 ADVICE)
      val maxId = e.agg(max("vec_id")).head.getLong(0)
      require(maxId < 1000000L,
        s"semScaleFit replica offset assumes vec_id < 1e6; max=$maxId — " +
          "raise the offset literal here AND in semScaleOracleE together")
      val aug = (0 until 4).map { r =>
        val a = 1.0 - r / 32.0
        val b = r / 256.0
        e.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
          transform(col("v"), x => x * lit(a) + lit(b)).as("v"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val k = ivfK(aug.count())
      (aug, ivfLloyd(aug, ivfSeeds(aug, k)).localCheckpoint(true))
    }

  /** SEMANTIC DEDUP AT AMPLIFIED SCALE — the graded twin the r18
    * verdict asked for (#7): llm_dedup_semantic's exact pipeline
    * (IVF-cell blocking with 2-probe, exact cosine ≥ 0.9 verify) run
    * over a corpus amplified ×4 IN-PLAN and REFIT with the
    * corpus-adaptive k — at the oracle fixtures the amplified corpus
    * is 2000 vectors, so the fit runs at k = ceil(2000/16) = 125, NOT
    * the base fixture's 32: the adaptive-k formula (Scala `ivfK` vs
    * the oracle's `kk` CTE) is hash-proven inside CORRECTNESS rather
    * than only timed in ScaleProbe. The amplification makes every
    * base vector a 4-way near-dup group, so the blocking has real
    * work: the output is the C(4,2)·N within-group pair set, found
    * cell-locally.
    *
    * Scale shape: identical to the parent (broadcast-centroid narrow
    * assignment, cell-keyed pair self-join, candidate-only exact
    * verify) — and with k ∝ N the cell-local pair work is N·cell_size
    * (linear), the property ScaleProbe measured as 73.5 → 4.4 s on
    * the ×10 fixture when the fit went adaptive.
    */
  val llmDedupSemanticScale: Op = Op(
    "llm_dedup_semantic_scale",
    (s, dir) => {
      val (aug, cents) = semScaleFit(s, dir)
      semanticPairs(aug, cents)
    },
    Some((ivfOracleCtesOver(semScaleOracleE) + semanticPairsSql("e")).trim))

  /** PII scrubbing — the redaction pass a released corpus runs last:
    * regex-detect emails and phone-shaped numbers, replace with typed
    * placeholders, count what was hit. The fixture text carries no PII,
    * so the op PLANTS deterministic PII first (every doc gets an
    * email + phone derived from its doc_id appended in-plan) and then
    * scrubs it — the oracle replays both steps, and the output proves
    * the scrub actually fired (n_emails/n_phones per doc ≥ 1, zero
    * PII-pattern matches after redaction). Patterns stay in the
    * Java-regex ∩ RE2 subset (char classes + bounded repetition, no
    * lookaround) per the fn_regexp_pack portability rule. Narrow
    * scan → project; no shuffle but the presentation sort.
    */
  val llmPiiScrub: Op = Op(
    "llm_pii_scrub",
    (s, dir) => {
      val emailPat = "[a-z0-9.]+@[a-z0-9.]+[.][a-z]+"
      val phonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or "),
        lit("555-01"), lpad((col("doc_id") % 10).cast(StringType), 1, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast(StringType), 4, "0"))
      val scrubbed = regexp_replace(
        regexp_replace(planted, emailPat, "<EMAIL>"), phonePat, "<PHONE>")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_count(planted, lit(emailPat)).as("n_emails"),
          regexp_count(planted, lit(phonePat)).as("n_phones"),
          (regexp_count(scrubbed, lit(emailPat)) +
            regexp_count(scrubbed, lit(phonePat))).as("n_residual"),
          substring(scrubbed, -40, 40).as("tail40"))
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
          text || ' contact user' || doc_id || '@example.com or ' ||
            '555-01' || lpad(CAST(doc_id % 10 AS VARCHAR), 1, '0') || '-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS planted
        FROM documents
      ), sc AS (
        SELECT doc_id, planted,
          regexp_replace(regexp_replace(planted,
            '[a-z0-9.]+@[a-z0-9.]+[.][a-z]+', '<EMAIL>', 'g'),
            '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        FROM p
      )
      SELECT doc_id,
        CAST(len(regexp_extract_all(planted, '[a-z0-9.]+@[a-z0-9.]+[.][a-z]+')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(planted, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        CAST(len(regexp_extract_all(scrubbed, '[a-z0-9.]+@[a-z0-9.]+[.][a-z]+'))
           + len(regexp_extract_all(scrubbed, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_residual,
        CASE WHEN length(scrubbed) >= 40 THEN substr(scrubbed, length(scrubbed) - 39, 40)
             ELSE scrubbed END AS tail40
      FROM sc ORDER BY doc_id
    """.stripMargin.trim))

  /** Benchmark DECONTAMINATION — the other job winnowing fingerprints
    * exist for in an LLM pipeline: find train docs that share verbatim
    * runs with a held-out eval set, so eval contamination can be
    * dropped before training. The winnowing guarantee (any shared run
    * of ≥ w+k−1 = 12 tokens shares ≥ 1 fingerprint — property-tested
    * in PropertySuite) makes fingerprint overlap a no-false-negative
    * screen at run length 12+ — up to the stop-fingerprint cap below:
    * runs whose fingerprint appears in > DecontamMaxDf docs are
    * treated as boilerplate and excluded (deliberate, see Scale
    * shape). Eval set here is the doc_id % 20 slice; output is every
    * (eval, train) pair with their shared rare-fingerprint count.
    *
    * Scale shape: docs reduce to fingerprint sets in the narrow scan;
    * only (fp, doc_id) longs shuffle. STOP-FINGERPRINT filtering is the
    * load-bearing bound: a fingerprint shared by d docs contributes
    * O(d²) join pairs, and ubiquitous boilerplate runs (this fixture's
    * shared vocabulary produces them; real corpora have headers/
    * licenses) make d explode — unfiltered, this query went quadratic
    * at sf0.1 (195 s; with the df ≤ 10 cap, ~2 s). Dropping
    * high-doc-freq fingerprints is standard decontamination practice:
    * a run shared by dozens of docs is boilerplate, not leaked eval
    * data, and each surviving fp is O(cap²)-bounded. A real
    * deployment's eval set (a benchmark suite) is tiny — broadcast it
    * and the train corpus never shuffles at all; the fixture's 5%
    * slice exercises the general hash-join path.
    */
  private val DecontamMaxDf = 10

  val llmDecontaminate: Op = Op(
    "llm_decontaminate",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), toks.as("toks"))
      // materialize the per-doc fingerprint ARRAYS before exploding:
      // CollapseProject otherwise folds the whole winnowing transform
      // chain into the Generate, which re-evaluates it per EMITTED row
      // — measured 197 s vs 2 s at sf0.1 for the same explode. The
      // checkpoint also serves the 3 downstream consumers (df, eval
      // side, train side).
      val f = winnowFps(docs).select(col("doc_id"), col("fps"))
        .localCheckpoint(true)
        .select(col("doc_id"), explode(col("fps")).as("fp"))
      val rareFp = f.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= DecontamMaxDf).select("fp")
      val evalF = f.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("eval_id"), col("fp"))
        .join(rareFp, "fp")
      val trainF = f.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id").as("train_id"), col("fp"))
      trainF.join(evalF, "fp")
        .groupBy("eval_id", "train_id")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("eval_id", "train_id")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      ), h AS (
        SELECT doc_id, list_transform(generate_series(1, len(toks) - 4),
          i -> CAST('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15) AS BIGINT)) AS hs
        FROM t WHERE len(toks) >= 12
      ), w AS (
        SELECT doc_id, list_sort(list_distinct(list_transform(generate_series(1, len(hs) - 7),
          j -> list_min(hs[j:j+7])))) AS fps
        FROM h
      ), f AS (
        SELECT doc_id, unnest(fps) AS fp FROM w
      ), rare AS (
        SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= $DecontamMaxDf
      )
      SELECT e.doc_id AS eval_id, tr.doc_id AS train_id, COUNT(*) AS n_shared
      FROM f e JOIN rare r ON r.fp = e.fp JOIN f tr ON tr.fp = e.fp
      WHERE e.doc_id % 20 = 0 AND tr.doc_id % 20 != 0
      GROUP BY 1, 2
      ORDER BY eval_id, train_id
    """.stripMargin.trim))

  /** The multimodal row: text + vector + typed metadata joined into one
    * record (documents ⋈ embeddings on doc_id = vec_id). Inner join —
    * sf0.1 has 5000 docs vs 2000 vecs, so the contract is
    * intersection-tolerant. Nested struct output is exercised internally
    * (meta struct) and flattened for the oracle compare; both sides are
    * fact-sized at scale, so this is a shuffle equi-join on the id —
    * co-partitioning/bucketing both lakes on the id makes it shuffle-free.
    */
  val llmMultimodalJoin: Op = Op(
    "llm_multimodal_join",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      docs.join(emb, col("doc_id") === col("vec_id"))
        .withColumn("meta", struct(col("lang"), col("source"), col("label")))
        .select(
          col("doc_id"),
          col("meta.lang").as("lang"),
          col("meta.source").as("source"),
          col("meta.label").as("label"),
          col("n_chars"),
          size(toks).as("n_toks"),
          round(l2(dvec(col("embedding"))), 6).as("emb_l2"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, source, label, n_chars,
        len(string_split(text, ' ')) AS n_toks,
        ROUND(sqrt(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS emb_l2
      FROM documents JOIN embeddings ON doc_id = vec_id
      ORDER BY doc_id
    """.stripMargin.trim))

  /** Bigram language-model scoring — the corpus-statistics quality
    * signal real pipelines add next to heuristic ratios (a KenLM-style
    * perplexity filter, relationally): corpus-wide bigram and unigram
    * counts form an add-one-smoothed conditional model
    * P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V), and every document scores
    * its mean log-probability under it. Low scorers are boilerplate-free
    * gibberish; high scorers are corpus-typical text — the op emits the
    * per-doc score a gate would threshold. Portability: counts are
    * exact ints, V rides in as a broadcast 1-row aggregate (in-plan-N
    * pattern from tfidf), ln of identical rationals agrees to the ulp
    * and the per-doc mean is rounded to 6 dp (drift ~1e-14; round
    * absorbs — same discipline as agg_stats). Scale shape: one
    * explode→count pass per n-gram order over the corpus (partial
    * aggs), then the per-doc explode joins the two count tables on
    * their natural keys — high-cardinality shuffles, no all-pairs
    * anywhere; the model tables are the artifact a deployment persists.
    */
  val llmNgramLogprob: Op = Op(
    "llm_ngram_logprob",
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        expr("""zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
                         slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
                         (a, b) -> named_struct('w1', a, 'bg', concat(a, ' ', b)))""").as("bgs"))
      val pairs = d.select(col("doc_id"), explode(col("bgs")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
        .localCheckpoint(true) // consumed by the model build AND the scoring join
      val bgCounts = pairs.groupBy("bg").agg(count(lit(1)).as("cb"))
      val uniCounts = pairs.groupBy("w1").agg(count(lit(1)).as("cu"))
      val vocab = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .agg(count_distinct(col("w")).as("v"))
      pairs.join(bgCounts, "bg").join(uniCounts, "w1")
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(log((col("cb") + 1).cast(DoubleType) /
              (col("cu") + col("v")).cast(DoubleType))) / count(lit(1)), 6)
            .as("avg_logp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      ), pairs AS (
        SELECT doc_id, p AS bg, string_split(p, ' ')[1] AS w1
        FROM (SELECT doc_id,
                unnest(list_transform(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                  z -> z[1] || ' ' || z[2])) AS p
              FROM t)
      ), bgc AS (
        SELECT bg, COUNT(*) AS cb FROM pairs GROUP BY bg
      ), unic AS (
        SELECT w1, COUNT(*) AS cu FROM pairs GROUP BY w1
      ), voc AS (
        SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      )
      SELECT doc_id, COUNT(*) AS n_bigrams,
        ROUND(SUM(ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE))) / COUNT(*), 6)
          AS avg_logp
      FROM pairs JOIN bgc USING (bg) JOIN unic USING (w1) CROSS JOIN voc
      GROUP BY doc_id ORDER BY doc_id
    """.stripMargin.trim))

  /** Scalar (int8) embedding quantization — the compression stage of a
    * production ANN stack: per-dimension corpus min/max define a linear
    * [0,255] code, vectors quantize to 64 bytes (16× smaller than f32×64,
    * the footprint that lets a 100 TB vector lake fit executor memory for
    * bucket-local search), and the op reports each vector's code sum and
    * L2 reconstruction error. Everything is engine-portable double
    * arithmetic: min/max are exact, the code is floor((x−lo)/(hi−lo)·255)
    * clamped — identical IEEE ops both sides, so even boundary codes
    * agree bit-for-bit; a degenerate constant dimension (hi = lo) codes 0
    * on both sides by the same CASE guard. Scale shape: the per-dim stats
    * collapse via partial min/max into one 2×64-array row broadcast back
    * over the corpus (the in-plan-quantizer pattern IVF uses); the corpus
    * never shuffles. The per-row HOF codec is interpreted — at 100 TB
    * swap it for a native Expression exactly like NearestCells (same
    * kernel shape, documented precedent).
    */
  val llmEmbedQuantize: Op = Op(
    "llm_embed_quantize",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), dvec(col("embedding")).as("v"))
      val stats = e.select(posexplode(col("v")))
        .groupBy("pos")
        .agg(min("col").as("lo"), max("col").as("hi"))
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("lo")))),
            x => x.getField("lo")).as("lo"),
          transform(array_sort(collect_list(struct(col("pos"), col("hi")))),
            x => x.getField("hi")).as("hi"))
      e.crossJoin(broadcast(stats))
        .select(col("vec_id"), col("v"), col("lo"), col("hi"),
          expr("""transform(v, (x, i) -> CASE WHEN hi[i] > lo[i]
                 THEN CAST(least(greatest(floor((x - lo[i]) / (hi[i] - lo[i]) * 255.0), 0.0), 255.0) AS INT)
                 ELSE 0 END)""").as("qc"))
        .select(col("vec_id"),
          expr("aggregate(qc, CAST(0 AS BIGINT), (a, c) -> a + c)").as("q_sum"),
          expr("""round(sqrt(aggregate(zip_with(v,
              transform(qc, (c, i) -> CASE WHEN hi[i] > lo[i]
                THEN lo[i] + CAST(c AS DOUBLE) * (hi[i] - lo[i]) / 255.0
                ELSE lo[i] END),
              (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (a, z) -> a + z)), 6)""")
            .as("recon_err"))
        .orderBy("vec_id")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), d AS (
        SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e
      ), st AS (
        SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM d GROUP BY i
      ), arr AS (
        SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM st
      ), q AS (
        SELECT e.vec_id, e.v, a.lo, a.hi,
          list_transform(list_zip(e.v, a.lo, a.hi), z ->
            CASE WHEN z[3] > z[2]
              THEN CAST(least(greatest(floor((z[1] - z[2]) / (z[3] - z[2]) * 255.0), 0.0), 255.0) AS INTEGER)
              ELSE 0 END) AS qc
        FROM e CROSS JOIN arr a
      )
      SELECT vec_id,
        CAST(list_sum(qc) AS BIGINT) AS q_sum,
        ROUND(sqrt(list_sum(list_transform(list_zip(v,
          list_transform(list_zip(qc, lo, hi), z ->
            CASE WHEN z[3] > z[2]
              THEN z[2] + CAST(z[1] AS DOUBLE) * (z[3] - z[2]) / 255.0
              ELSE z[2] END)),
          p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS recon_err
      FROM q ORDER BY vec_id
    """.stripMargin.trim))

  /** T5-STYLE SPAN CORRUPTION — the denoising-objective builder that
    * turns a clean corpus into (input, target) training pairs: fixed
    * 3-token spans are masked on a position-deterministic grid (span
    * starts at pos ≡ 5 mod 15 → masked positions are pos % 15 ∈
    * {5,6,7} — ~20% corruption, the T5 ballpark, truncated at doc
    * end), each span collapses to ONE `<extra_id_k>` sentinel in the
    * input while the target spells sentinel + the masked tokens in
    * order. Position-deterministic masking is the replayable form —
    * the same doc always yields the same pair, which is what makes a
    * cached packed dataset reproducible (the sample_hash_pct
    * determinism argument applied to objectives). The graded row
    * carries the full target string, so the hash pins the actual
    * masked CONTENT end-to-end, not just the arithmetic.
    *
    * Scale shape: masking is row-local (posexplode → filter →
    * per-doc sorted fold co-keyed on doc_id — one exchange); no
    * dimension, no join beyond the doc-level left join of docs to
    * their target rows. The grid constants are the only state.
    */
  val llmSpanCorruption: Op = Op(
    "llm_span_corruption",
    (s, dir) => {
      val docs = spreadDocs(s, dir)
        .select(col("doc_id"), size(toks).as("n_tokens"), toks.as("tk"))
      val tgt = docs
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "word")))
        .withColumn("i", col("p0") + 1)
        .filter(col("i") % 15 >= 5 && col("i") % 15 <= 7)
        .withColumn("k", expr("(i - 5) div 15"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_masked"),
          count_distinct(col("k")).as("n_spans"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("i"), col("k"), col("word")))),
            x => when(x.getField("i") % 15 === 5,
              concat(lit("<extra_id_"), x.getField("k").cast(StringType),
                lit("> "), x.getField("word")))
              .otherwise(x.getField("word")))).as("target"))
      docs.drop("tk")
        .join(tgt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_masked"), lit(0L)).as("n_masked"),
          (col("n_tokens") - coalesce(col("n_masked"), lit(0L)) +
            coalesce(col("n_spans"), lit(0L))).as("input_len"),
          round(coalesce(col("n_masked"), lit(0L)).cast(DoubleType) /
            col("n_tokens"), 6).as("corruption_rate"),
          coalesce(col("target"), lit("")).as("target"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      ), w AS (
        SELECT doc_id, toks[i] AS word, i
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
      ), m AS (
        SELECT doc_id, word, i, (i - 5) // 15 AS k
        FROM w WHERE i % 15 IN (5, 6, 7)
      ), tgt AS (
        SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_masked,
          CAST(COUNT(DISTINCT k) AS BIGINT) AS n_spans,
          string_agg(CASE WHEN i % 15 = 5
            THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || word
            ELSE word END, ' ' ORDER BY i) AS target
        FROM m GROUP BY doc_id
      )
      SELECT d.doc_id,
        CAST(len(d.toks) AS INT) AS n_tokens,
        COALESCE(t.n_spans, 0) AS n_spans,
        COALESCE(t.n_masked, 0) AS n_masked,
        CAST(len(d.toks) - COALESCE(t.n_masked, 0)
          + COALESCE(t.n_spans, 0) AS BIGINT) AS input_len,
        ROUND(CAST(COALESCE(t.n_masked, 0) AS DOUBLE) / len(d.toks), 6)
          AS corruption_rate,
        COALESCE(t.target, '') AS target
      FROM d LEFT JOIN tgt t ON t.doc_id = d.doc_id
      ORDER BY d.doc_id
    """.stripMargin.trim))

  /** Sequence packing — the pre-training batching step that concatenates
    * documents in deterministic order and splits the stream into
    * fixed-size context windows (2048 tokens here): each doc lands in
    * the pack where it STARTS (greedy contiguous packing — a doc
    * crossing the boundary spills into the next window, exactly how a
    * packed-dataset writer behaves). Packing runs PER SOURCE shard, the
    * way a real pipeline packs within file shards so the operation
    * parallelizes: one window per shard computes the running token
    * offset; pack summaries then aggregate per (source, pack).
    *
    * Scale shape: one exchange on the shard key (source) feeds the
    * cumulative sum, then a partial+final agg on (source, pack_id) —
    * no global ordering bottleneck, because the pack id is
    * shard-local. Utilization > 1.0 on a pack means its last doc
    * spilled — the honest accounting of boundary overflow.
    */
  val llmPackSequences: Op = Op(
    "llm_pack_sequences",
    (s, dir) => {
      val ctx = 2048L
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_toks"))
        .withColumn("cum", sum("n_toks").over(w))
        .withColumn("pack_id", floor((col("cum") - col("n_toks")) / ctx))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
          round(sum("n_toks").cast(DoubleType) / ctx, 6).as("util"))
        .orderBy("source", "pack_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents
      ), c AS (
        SELECT doc_id, source, n_toks,
          SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
      )
      SELECT source, CAST(FLOOR((cum - n_toks) / 2048.0) AS BIGINT) AS pack_id,
        COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        ROUND(CAST(SUM(n_toks) AS DOUBLE) / 2048, 6) AS util
      FROM c GROUP BY 1, 2 ORDER BY source, pack_id
    """.stripMargin.trim))

  /** Training-SHARD export manifest — the planning step between a
    * packed corpus and the shard files a training job reads: every
    * document assigns to one of 16 shards by a deterministic content
    * hash (md5 of doc_id — stable across engines and reruns, never
    * pmod(hash) which is engine-private), and the manifest a writer
    * needs comes out per shard: document/token counts, byte estimate,
    * id range, and the token-balance ratio vs the ideal uniform share
    * (the skew a trainer cares about — a hot shard stalls the epoch).
    * ONE partial+final aggregate over a row-local projection; at
    * 100 TB the same hash IS the write partitioning
    * (repartition(shard) → per-shard files), so the manifest and the
    * layout can never disagree.
    */
  val llmShardManifest: Op = Op(
    "llm_shard_manifest",
    (s, dir) => {
      val nShards = 16
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast(LongType).as("n_bytes"),
          size(toks).cast(LongType).as("n_toks"),
          (expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10) as bigint)")
            % nShards).as("shard"))
      val tot = d.agg(sum("n_toks").as("tot_toks"))
      d.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
          sum("n_bytes").as("n_bytes"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_bytes"),
          col("min_doc"), col("max_doc"),
          round(col("n_tokens").cast(DoubleType) * nShards /
            col("tot_toks"), 6).as("balance"))
        .orderBy("shard")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
          CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
            % 16 AS shard
        FROM documents
      ), tot AS (SELECT SUM(n_toks) AS tot_toks FROM d)
      SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        ROUND(CAST(SUM(n_toks) AS DOUBLE) * 16 / tot_toks, 6) AS balance
      FROM d, tot GROUP BY shard, tot_toks ORDER BY shard
    """.stripMargin.trim))

  /** Repetition filtering — the Gopher-style quality rule family that
    * catches boilerplate and degenerate generation: per document, the
    * duplicate-word fraction (1 − distinct/total) and the fraction of
    * tokens covered by the single most-frequent bigram; documents
    * exceeding either threshold are flagged. Only the max bigram COUNT
    * is consumed (never "the" most frequent bigram itself), so bigram
    * ties cannot make the result engine-dependent.
    *
    * Scale shape: the distinct-fraction is a fully narrow per-row
    * array computation; the bigram stage explodes to (doc, bigram)
    * rows and hash-aggregates twice (count per bigram, max per doc) —
    * both partial+final with the doc_id key spreading the shuffle.
    * The final join back to per-doc stats is co-keyed on doc_id.
    */
  val llmRepetitionFilter: Op = Op(
    "llm_repetition_filter",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .withColumn("n_toks", size(col("tk")).cast(LongType))
        .withColumn("dup_word_frac",
          round(lit(1) - size(array_distinct(col("tk"))).cast(DoubleType) /
            col("n_toks"), 6))
      // explode a cheap INDEX sequence and build each bigram after the
      // Generate — exploding a transform()-built string array instead
      // would re-evaluate the whole array per emitted row once
      // CollapseProject folds it into the Generate (the measured
      // quadratic trap, see llm_decontaminate's scaladoc)
      val bigrams = d.filter(col("n_toks") >= 2)
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(1), size(col("tk")) - 1)).as("i"))
        .select(col("doc_id"),
          concat_ws(" ", element_at(col("tk"), col("i")),
            element_at(col("tk"), col("i") + 1)).as("bg"))
      val topBg = bigrams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_bg"))
      d.join(topBg, Seq("doc_id"), "left")
        .withColumn("top_bigram_frac",
          round(coalesce(col("top_bg"), lit(0L)) * 2.0 / col("n_toks"), 6))
        .withColumn("keep",
          when(col("dup_word_frac") <= 0.7 && col("top_bigram_frac") <= 0.18,
            1L).otherwise(0L))
        .select(col("doc_id"), col("n_toks"), col("dup_word_frac"),
          col("top_bigram_frac"), col("keep"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        FROM documents
      ), base AS (
        SELECT doc_id, tk, n_toks,
          ROUND(1 - CAST(len(list_distinct(tk)) AS DOUBLE) / n_toks, 6)
            AS dup_word_frac
        FROM d
      ), bg AS (
        SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg
        FROM (SELECT doc_id, tk,
                unnest(generate_series(1, len(tk) - 1)) AS i
              FROM d WHERE n_toks >= 2)
      ), topbg AS (
        SELECT doc_id, MAX(c) AS top_bg
        FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2)
        GROUP BY 1
      )
      SELECT b.doc_id, b.n_toks, b.dup_word_frac,
        ROUND(COALESCE(t.top_bg, 0) * 2.0 / b.n_toks, 6) AS top_bigram_frac,
        CASE WHEN b.dup_word_frac <= 0.7
              AND ROUND(COALESCE(t.top_bg, 0) * 2.0 / b.n_toks, 6) <= 0.18
             THEN 1 ELSE 0 END AS keep
      FROM base b LEFT JOIN topbg t ON t.doc_id = b.doc_id
      ORDER BY b.doc_id
    """.stripMargin.trim))

  /** RAG-style document chunking: split each document's token stream
    * into overlapping windows (64 tokens, stride 48 — 16-token
    * overlap), emit per chunk its position, length, and an md5 content
    * fingerprint (what an embedding/indexing stage downstream would
    * key on). Chunk starts are 1, 49, 97, … while they still index
    * into the document; the final chunk may be short.
    *
    * Scale shape: fully narrow — chunks derive per-row from the token
    * array (generate offsets → slice); nothing shuffles until the
    * final total order. Chunk count is ⌈n/stride⌉ per doc, so output
    * scales linearly with corpus tokens, exactly like the real
    * indexing pipeline it mirrors.
    */
  val llmDocChunk: Op = Op(
    "llm_doc_chunk",
    (s, dir) => {
      val size64 = 64
      val stride = 48
      Tables.documents(s, dir)
        .select(col("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) >= 1)
        .select(col("doc_id"), col("tk"),
          posexplode(sequence(lit(1), size(col("tk")), lit(stride))))
        .select(col("doc_id"), col("pos").cast(LongType).as("chunk_id"),
          slice(col("tk"), col("col"), lit(size64)).as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast(LongType).as("n_chunk_toks"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 1
      ), starts AS (
        SELECT doc_id, tk, unnest(generate_series(1, len(tk), 48)) AS st
        FROM d
      )
      SELECT doc_id,
        CAST((st - 1) // 48 AS BIGINT) AS chunk_id,
        CAST(len(tk[st:st+63]) AS BIGINT) AS n_chunk_toks,
        md5(array_to_string(tk[st:st+63], ' ')) AS chunk_fp
      FROM starts ORDER BY doc_id, chunk_id
    """.stripMargin.trim))

  /** Cross-corpus (incremental-ingestion) dedup — the op a lake runs on
    * every NEW BATCH: drop arriving documents whose normalized-text
    * fingerprint already exists in the reference corpus, then keep-one
    * within the batch itself. Corpora derive in-plan from the `source`
    * column (src15-19 arrive, the rest are the lake). Verdicts are
    * per-row flags (dup_of_ref / keep) so the output is the exact
    * decision feed an ingestion job applies.
    *
    * Scale shape: only 64-char fingerprints ever shuffle, never
    * documents; the reference side pre-collapses to DISTINCT
    * fingerprints (partial-agg) before the join, and both the ref
    * membership probe and the within-batch keep-one hash on the same
    * fp key — at 100 TB this is two co-keyed narrow shuffles, with the
    * new batch typically small enough to broadcast instead.
    */
  val llmCrossDedup: Op = Op(
    "llm_cross_dedup",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), normFp.as("fp"))
      val isNew = regexp_extract(col("source"), "src1[5-9]", 0) =!= ""
      val refFps = docs.filter(!isNew).select("fp").distinct()
        .withColumn("in_ref", lit(1L))
      val batch = docs.filter(isNew)
      val keepIds = batch.join(refFps, Seq("fp"), "left_anti")
        .groupBy("fp").agg(min("doc_id").as("keep_id"))
      batch.join(refFps, Seq("fp"), "left")
        .join(keepIds, Seq("fp"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("in_ref"), lit(0L)).as("dup_of_ref"),
          when(col("keep_id") === col("doc_id"), 1L).otherwise(0L).as("keep"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, source,
          sha256(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp,
          source SIMILAR TO '.*src1[5-9].*' AS is_new
        FROM documents
      ), ref AS (
        SELECT DISTINCT fp FROM d WHERE NOT is_new
      ), batch AS (
        SELECT doc_id, source, fp FROM d WHERE is_new
      ), keepids AS (
        SELECT fp, MIN(doc_id) AS keep_id
        FROM batch WHERE fp NOT IN (SELECT fp FROM ref)
        GROUP BY fp
      )
      SELECT b.doc_id, b.source,
        CASE WHEN r.fp IS NOT NULL THEN 1 ELSE 0 END AS dup_of_ref,
        CASE WHEN k.keep_id = b.doc_id THEN 1 ELSE 0 END AS keep
      FROM batch b
        LEFT JOIN ref r ON r.fp = b.fp
        LEFT JOIN keepids k ON k.fp = b.fp
      ORDER BY b.doc_id
    """.stripMargin.trim))

  /** BLOOM-PREFILTERED cross-corpus dedup — the scale twin of
    * `llm_cross_dedup` (same semantics, same oracle VERBATIM, the
    * win_*_scale precedent): instead of joining every arriving row
    * against the reference fingerprint table, the reference set packs
    * into ONE fixed-size bloom row (2^18 bits as 4096 longs, 3
    * md5-seeded hashes — the sink_bloom_index kernel applied to dedup),
    * broadcast to the batch; rows whose 3 bits are not all set are
    * DEFINITE non-members (bloom has no false negatives) and skip the
    * join entirely, and only the maybe-members pay the exact fp join
    * that resolves false positives. The final flags are exact, so the
    * shared oracle's hash match proves the bloom never dropped a true
    * duplicate.
    *
    * Scale shape: THE incremental-ingestion shape at 100 TB — the
    * reference corpus is petabytes but its bloom is kilobytes-to-
    * gigabytes and broadcast-able (size it at ~10 bits/key for 1%
    * fp); the arriving batch filters row-locally in the scan stage and
    * the residual exact join sees only |batch| × fp-rate + true-dup
    * rows instead of the whole batch. PropertySuite asserts the twin
    * equals llm_cross_dedup bit-for-bit AND that the prefilter
    * actually prunes (maybe-set strictly smaller than the batch) with
    * zero false negatives.
    */
  val llmDedupBloom: Op = Op(
    "llm_dedup_bloom",
    (s, dir) => {
      // r22 (guide §1.2): consumed by keepIds AND the final join — the
      // before-plan ran the whole bloom pipeline twice (23 Exchanges).
      // The flagged frame is batch-sized, so materializing it once
      // halves the plan.
      val flagged = dedupBloomFlagged(s, dir).localCheckpoint(true)
      val keepIds = flagged.filter(col("dup_of_ref") === 0L)
        .groupBy("fp").agg(min("doc_id").as("keep_id"))
      flagged.join(keepIds, Seq("fp"), "left")
        .select(col("doc_id"), col("source"), col("dup_of_ref"),
          when(col("keep_id") === col("doc_id"), 1L).otherwise(0L).as("keep"))
        .orderBy("doc_id")
    },
    llmCrossDedup.oracle)

  /** Hash position i of the bloom for the `fp` column (md5-seeded
    * double hashing over 2^18 bits — the sink_bloom_index discipline). */
  private def dedupBloomPosSql(i: Int): String =
    s"(cast(conv(substring(md5(concat('db$i:', fp)), 1, 12), 16, 10) " +
      "as bigint) % 262144)"
  private def dedupBloomPos(i: Int): Column = expr(dedupBloomPosSql(i))

  /** Batch rows flagged by the bloom-prefiltered membership pipeline —
    * (doc_id, source, fp, maybe_ref, dup_of_ref); exposed so
    * PropertySuite can assert the prefilter prunes and never drops a
    * true duplicate. */
  private[graft] def dedupBloomFlagged(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // r22 (guide §1.2): the per-row sha256 fingerprint pass fed three
    // consumers (the bloom build, the exact-join reference set, and the
    // probed batch) — materialize the fingerprinted corpus once
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), normFp.as("fp"))
      .localCheckpoint(true)
    val isNew = regexp_extract(col("source"), "src1[5-9]", 0) =!= ""
    val refFps = docs.filter(!isNew).select("fp").distinct()
    // one-row bloom: word index -> bit_or of member bits (a map is the
    // natural sparse form; absent word = all-zero bits)
    val bloomRow = refFps
      .select(explode(array((0 until 3).map(dedupBloomPos): _*)).as("pos"))
      .select(expr("cast(pos div 64 as int)").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("bit"))
      .groupBy("word").agg(expr("bit_or(bit)").as("bits"))
      .agg(map_from_arrays(collect_list(col("word")),
        collect_list(col("bits"))).as("bloom"))
    def member(i: Int): Column = {
      val p = dedupBloomPosSql(i)
      expr(s"coalesce((element_at(bloom, cast($p div 64 as int)) & " +
        s"shiftleft(cast(1 as bigint), cast($p % 64 as int))) != 0, false)")
    }
    val probed = docs.filter(isNew)
      .crossJoin(broadcast(bloomRow))
      .withColumn("maybe_ref", (0 until 3).map(member).reduce(_ && _))
      .drop("bloom")
    // only maybe-members pay the exact join; definite-nos are clean by
    // the bloom's no-false-negative guarantee
    val maybes = probed.filter(col("maybe_ref"))
      .join(refFps.withColumn("in_ref", lit(1L)), Seq("fp"), "left")
      .select(col("doc_id"), col("source"), col("fp"), col("maybe_ref"),
        coalesce(col("in_ref"), lit(0L)).as("dup_of_ref"))
    val nos = probed.filter(!col("maybe_ref"))
      .select(col("doc_id"), col("source"), col("fp"), col("maybe_ref"),
        lit(0L).as("dup_of_ref"))
    maybes.unionByName(nos)
  }

  /** BPE train chain (v -> w5), ONE definition shared verbatim by the
    * apply oracle and the tokenizer-compare oracle (the revenueSql
    * discipline: the merge-table derivation can never fork per
    * consumer). Spliced after "WITH " or a comma; defines CTEs
    * v, w0..w5, p1..p5, t1..t5 and nothing else.
    */
  private val bpeChainCtes: String = """v AS (
        SELECT w, COUNT(*) AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) >= 1 GROUP BY w
      ), w0 AS (
        SELECT w, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq, wn FROM v
      ), p1 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w0),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1
      ), w1 AS (
        SELECT w, replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w0, t1
      ), p2 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w1),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1
      ), w2 AS (
        SELECT w, replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w1, t2
      ), p3 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w2),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t3 AS (SELECT pair, n FROM p3 ORDER BY n DESC, pair LIMIT 1
      ), w3 AS (
        SELECT w, replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w2, t3
      ), p4 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w3),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t4 AS (SELECT pair, n FROM p4 ORDER BY n DESC, pair LIMIT 1
      ), w4 AS (
        SELECT w, replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w3, t4
      ), p5 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w4),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t5 AS (SELECT pair, n FROM p5 ORDER BY n DESC, pair LIMIT 1
      ), w5 AS (
        SELECT w, replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w4, t5)"""

  /** The tokenizer ENCODE pass — the consumer of `llm_vocab_merges`'
    * merge table, completing train→apply the way `llm_ivf_fit` →
    * `llm_simsearch_ivf` completes fit→search: every document is
    * tokenized with the 5 learned merges and scored per doc (word
    * count, BPE token count, chars per token — the compression metric
    * tokenizer training optimizes). Encoding is a JOIN against the
    * trained vocabulary (word → merged symbol string) from
    * `bpeTrained`, built once per session; the first of
    * trainer/encoder to run pays the training.
    *
    * Scale shape: the encoded vocabulary is a broadcast-able dimension
    * (distinct words ≪ word occurrences) so the corpus-scale side
    * never shuffles for the join; the per-doc rollup's partial
    * aggregate collapses each document inside its generating partition
    * (words of one doc never leave it), so the one exchange moves
    * doc-level rows. In-vocabulary coverage is total here because the
    * vocab was trained on the same corpus; an open-vocabulary deployment
    * adds a char-fallback branch for OOV words (coalesce over the
    * left join) — semantics this fixture cannot exercise honestly.
    */
  val llmVocabApply: Op = Op(
    "llm_vocab_apply",
    (s, dir) => {
      val enc = bpeTrained(s, dir)._2
        .select(col("w"), size(split(trim(col("seq")), " ")).as("n_tok"))
      val docw = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), explode(toks).as("w"))
        .filter(length(col("w")) >= 1)
      docw.join(enc, "w")
        .groupBy("doc_id", "n_chars")
        .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_tokens"),
          round(col("n_chars").cast(DoubleType) / col("n_tokens"), 6)
            .as("chars_per_token"))
        .orderBy("doc_id")
    },
    Some(("""
      WITH """ + bpeChainCtes + """
      , enc AS (
        SELECT w, len(string_split(trim(seq), ' ')) AS n_tok FROM w5
      ), docw AS (
        SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS w
        FROM documents
      )
      SELECT doc_id, COUNT(*) AS n_words,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        ROUND(CAST(n_chars AS DOUBLE) / SUM(n_tok), 6) AS chars_per_token
      FROM docw JOIN enc USING (w)
      WHERE length(w) >= 1
      GROUP BY doc_id, n_chars
      ORDER BY doc_id
    """).stripMargin.trim))

  /** Deterministic train/val/test holdout assignment — the split step
    * between mixing and packing: every doc lands in exactly one split
    * by content hash (md5 mod 100 → [0,90) train, [90,95) val,
    * [95,100) test), so the assignment is partition-invariant,
    * replayable on re-ingest, and needs no coordination — the same
    * hash-split discipline `sample_hash_pct` uses for a single cut,
    * extended to a partition of the corpus. Output is the per-(source,
    * split) ledger a pipeline audits (counts + char volume);
    * disjointness + exhaustiveness are structural (one CASE over one
    * hash) and the ledger's totals prove it against the corpus size in
    * the oracle comparison.
    */
  val llmSplitHoldout: Op = Op(
    "llm_split_holdout",
    (s, dir) => {
      val h = expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10) as bigint) % 100")
      Tables.documents(s, dir)
        .withColumn("split",
          when(h < 90, "train").when(h < 95, "val").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        .orderBy("source", "split")
    },
    Some("""
      SELECT source, split, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM (
        SELECT source, n_chars,
          CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT source, n_chars,
                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
                  % 100 AS h
              FROM documents))
      GROUP BY source, split ORDER BY source, split
    """.stripMargin.trim))

  /** Training-mix DIVERSITY audit — Shannon entropy of each source's
    * language distribution plus its effective language count exp(H),
    * the curation metric that catches a "multilingual" source that is
    * 95% one language before it skews the mix (the diagnostic
    * companion to `llm_mix_sources`' quota enforcement). Determinism
    * discipline: the per-(source, lang) counts close EXACTLY first,
    * then the −Σ p·ln p fold runs over the languages in SORTED order
    * via the `aggregate` HOF on a `sort_array`'d list — a plain
    * groupBy double-sum would add in partition order and break the
    * partition-invariance gate; DuckDB mirrors with
    * `list(... ORDER BY lang)` + `list_reduce`, the identical IEEE
    * left fold. Scale shape: one partial+final count on (source,
    * lang), then the fold over a ≤n_langs list per source row —
    * nothing after the first aggregate sees the corpus.
    */
  val llmMixEntropy: Op = Op(
    "llm_mix_entropy",
    (s, dir) => {
      val c = Tables.documents(s, dir)
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      c.groupBy("source")
        .agg(sum("n").as("n_docs"), count(lit(1)).as("n_langs"),
          sort_array(collect_list(struct(col("lang"), col("n")))).as("ls"))
        .withColumn("h", expr(
          """aggregate(ls, cast(0.0 as double), (acc, x) ->
               acc - (cast(x.n as double) / n_docs) * ln(cast(x.n as double) / n_docs))"""))
        .select(col("source"), col("n_docs"), col("n_langs"),
          round(col("h"), 6).as("lang_entropy"),
          round(exp(col("h")), 6).as("effective_langs"))
        .orderBy("source")
    },
    Some("""
      WITH c AS (
        SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
      ), g AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs, COUNT(*) AS n_langs,
          list(CAST(n AS DOUBLE) ORDER BY lang) AS ns
        FROM c GROUP BY source
      ), h AS (
        SELECT source, n_docs, n_langs,
          list_reduce(list_transform(ns, x -> -(x / n_docs) * ln(x / n_docs)),
                      (a, b) -> a + b) AS h
        FROM g
      )
      SELECT source, n_docs, n_langs, ROUND(h, 6) AS lang_entropy,
        ROUND(exp(h), 6) AS effective_langs
      FROM h ORDER BY source
    """.stripMargin.trim))

  /** Temperature-scaled source weights (α = 0.5) — the multilingual /
    * multi-source rebalancing rule from the T5/mT5 line of work:
    * upsample small sources, downsample large, q_i ∝ p_i^α with p_i
    * the source's share of total CHARS (chars, not doc counts — the
    * fixture's doc counts are uniform by construction, which would
    * make any exponent pass the oracle; char mass varies, so a wrong
    * α hash-mismatches). Determinism: char sums close exactly per
    * source; the Σ p^α normalizer folds over the sources in SORTED
    * order via the `aggregate` HOF (partition-order double addition
    * would break the invariance gate); DuckDB mirrors with
    * list(ORDER BY) + list_reduce, the identical IEEE left fold.
    * Scale shape: one partial+final agg on source, a 1-row broadcast
    * normalizer, no further shuffle.
    */
  val llmMixTemperature: Op = Op(
    "llm_mix_temperature",
    (s, dir) => {
      val c = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        // 20-row summary consumed by the normalizer AND the output
        // join: materialize once = one documents scan total
        .localCheckpoint(true)
      val g = c.agg(sum(col("chars")).as("total"),
          sort_array(collect_list(struct(col("source"), col("chars")))).as("cs"))
        .withColumn("z", expr(
          """aggregate(cs, cast(0.0 as double), (acc, x) ->
               acc + sqrt(cast(x.chars as double) / total))"""))
        .select(col("total"), col("z"))
      c.crossJoin(broadcast(g))
        .select(col("source"), col("n_docs"), col("chars"),
          round(col("chars").cast(DoubleType) / col("total"), 6).as("p_raw"),
          round(sqrt(col("chars").cast(DoubleType) / col("total")) / col("z"), 6)
            .as("q_temp"),
          round(sqrt(col("chars").cast(DoubleType) / col("total")) / col("z") *
            col("total"), 2).as("eff_chars"))
        .orderBy("source")
    },
    Some("""
      WITH c AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY source
      ), g AS (
        SELECT CAST(SUM(chars) AS BIGINT) AS total,
          list(CAST(chars AS DOUBLE) ORDER BY source) AS cs
        FROM c
      ), d AS (
        SELECT total,
          list_reduce(list_transform(cs, x -> sqrt(x / total)), (a, b) -> a + b) AS z
        FROM g
      )
      SELECT c.source, c.n_docs, c.chars,
        ROUND(CAST(c.chars AS DOUBLE) / d.total, 6) AS p_raw,
        ROUND(sqrt(CAST(c.chars AS DOUBLE) / d.total) / d.z, 6) AS q_temp,
        ROUND(sqrt(CAST(c.chars AS DOUBLE) / d.total) / d.z * d.total, 2) AS eff_chars
      FROM c CROSS JOIN d ORDER BY c.source
    """.stripMargin.trim))

  /** Token-budget allocation by LARGEST-REMAINDER rounding — the exact
    * integer-allocation step every sampler needs between "source i
    * deserves share p_i of the 100k-token budget" and "emit whole
    * tokens": floor allocations leave a deficit of at most n_sources−1
    * tokens, and the sources with the largest fractional remainders
    * (ties pinned by source name) each get +1 so the allocations sum
    * to the budget EXACTLY — conservation a proportional-rounding
    * allocator must guarantee or downstream packing over/under-fills.
    * Determinism: token counts and the total close exactly as longs;
    * share/remainder are identical double arithmetic; the remainder
    * rank is a total order. Scale shape: one corpus pass for token
    * counts; everything after runs on the n_sources-row summary (two
    * 1-row broadcast crossJoins — the in-plan-N pattern).
    */
  val llmTokenBudget: Op = Op(
    "llm_token_budget",
    (s, dir) => {
      val t = Tables.documents(s, dir)
        .groupBy("source").agg(sum(size(toks)).as("toks"))
        // 20-row summary consumed three times (total, remainders,
        // deficit): materialize once = one documents scan total
        .localCheckpoint(true)
      val g = t.agg(sum(col("toks")).as("total"))
      val share = col("toks").cast(DoubleType) / col("total")
      val a = t.crossJoin(broadcast(g))
        .select(col("source"), col("toks"), share.as("share"),
          floor(share * 100000).cast(LongType).as("base"),
          (share * 100000 - floor(share * 100000)).as("rem"))
      val d = a.agg((lit(100000L) - sum(col("base"))).as("deficit"))
      a.withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
        .crossJoin(broadcast(d))
        .select(col("source"), col("toks"), round(col("share"), 6).as("share"),
          (col("base") + when(col("rk") <= col("deficit"), lit(1L))
            .otherwise(lit(0L))).as("alloc"))
        .orderBy("source")
    },
    Some("""
      WITH t AS (
        SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
        FROM documents GROUP BY 1
      ), g AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM t),
      a AS (
        SELECT source, toks,
          CAST(toks AS DOUBLE) / total AS share,
          CAST(floor(CAST(toks AS DOUBLE) / total * 100000) AS BIGINT) AS base,
          CAST(toks AS DOUBLE) / total * 100000
            - floor(CAST(toks AS DOUBLE) / total * 100000) AS rem
        FROM t CROSS JOIN g
      ), r AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM a
      ), d AS (SELECT 100000 - CAST(SUM(base) AS BIGINT) AS deficit FROM a)
      SELECT r.source, r.toks, ROUND(r.share, 6) AS share,
        r.base + CASE WHEN r.rk <= d.deficit THEN 1 ELSE 0 END AS alloc
      FROM r CROSS JOIN d ORDER BY r.source
    """.stripMargin.trim))

  /** Mixture-weighted source sampling — the step between curation and
    * packing in every real pretraining pipeline: each corpus SOURCE
    * contributes to the training mix in proportion to its configured
    * weight, not its raw size. The mixture config is a tiny broadcast
    * dimension (tier → weight) joined onto the corpus; each source's
    * quota is weight × 5 docs, filled in deterministic content-hash
    * order (md5 of doc_id — partition-invariant and replayable, the
    * same machinery as `sample_stratified`, which is the fixed-quota
    * primitive this op generalizes). Realized proportions hit the
    * targets EXACTLY (property-tested), which rate-based sampling only
    * achieves in expectation.
    *
    * SCALE NOTE: the quota needs a per-source ranking window — a
    * single task per source in this spec form. The production
    * formulation IS implemented: `llm_mix_sources_scale` below
    * computes the identical ranks via the distributed-rank machinery
    * (bit-equality pinned in WindowScaleSuite, same oracle). At true
    * 100 TB the quota also flips to the rate-based hash-threshold form
    * (`sample_hash_pct` with per-source rates) — no ranking, pure
    * row-local predicate — or two-phase: hash-threshold to ~1.1× the
    * quota, then rank only the survivors.
    */
  /** DISTRIBUTION-MATCHED REJECTION SAMPLING — the data-mix op that
    * reshapes one pool to LOOK like another: resample the non-English
    * pool so its length distribution matches the English pool's (the
    * quality-matching step run before mixing heterogeneous sources, so
    * a length-skewed source can't smuggle its skew into the mix).
    * Classic rejection sampling made fully deterministic: per
    * 100-char band, ratio = target density / proposal density,
    * normalized by the max ratio so the tightest band accepts at 1.0;
    * each proposal doc accepts iff its md5-derived uniform (the
    * sample_hash_pct idiom — content-seeded, never rand()) falls
    * under its band's rate. Every number is a double computed from
    * exact integer counts with IDENTICAL parenthesization on both
    * engines, so acceptance is bit-deterministic and the whole op is
    * oracle-graded: per band, target/proposal/accepted counts + the
    * acceptance rate.
    *
    * Scale shape: two band aggregates (map-side partials), a tiny
    * full-outer band join, two 1-row broadcast totals (in-plan-N),
    * and ONE proposal-pool scan with a broadcast band-rate join — at
    * 100 TB acceptance is a stateless per-row decision, which is why
    * rejection beats quota sampling for distribution matching (no
    * per-stratum ranking state).
    */
  val llmMatchDistribution: Op = Op(
    "llm_match_distribution",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") / 100).cast(LongType).as("band"))
      val t = d.filter(col("lang") === "en")
        .groupBy("band").agg(count(lit(1)).as("nt"))
      val pr = d.filter(col("lang") =!= "en")
        .groupBy("band").agg(count(lit(1)).as("np"))
      val tots = d.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ntot"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("ptot"))
      val ratios = t.join(pr, Seq("band"), "full_outer")
        .na.fill(0L, Seq("nt", "np"))
        .crossJoin(broadcast(tots))
        .withColumn("ratio",
          when(col("np") > 0 && col("nt") > 0,
            (col("nt").cast(DoubleType) * col("ptot").cast(DoubleType)) /
              (col("np").cast(DoubleType) * col("ntot").cast(DoubleType)))
            .otherwise(lit(0.0)))
      val rates = ratios
        .crossJoin(broadcast(ratios.agg(max("ratio").as("mx"))))
        .withColumn("arate", col("ratio") / col("mx"))
        .select(col("band"), col("nt"), col("np"), col("arate"))
        .localCheckpoint(true) // consumed by the accept join AND output
      val accepted = d.filter(col("lang") =!= "en")
        .join(broadcast(rates.select(col("band"), col("arate"))), "band")
        .filter(expr(
          """cast(conv(substring(md5(concat('mds:', cast(doc_id as string))), 1, 7), 16, 10)
             as bigint) / 268435456.0""") < col("arate"))
        .groupBy("band").agg(count(lit(1)).as("nacc"))
      rates.join(accepted, Seq("band"), "left")
        .select(col("band"), col("nt").as("n_target"), col("np").as("n_proposal"),
          coalesce(col("nacc"), lit(0L)).as("n_accepted"),
          round(col("arate"), 6).as("accept_rate"))
        .orderBy("band")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang, n_chars // 100 AS band FROM documents
      ), t AS (
        SELECT band, COUNT(*) AS nt FROM d WHERE lang = 'en' GROUP BY band
      ), p AS (
        SELECT band, COUNT(*) AS np FROM d WHERE lang != 'en' GROUP BY band
      ), j AS (
        SELECT COALESCE(t.band, p.band) AS band,
          COALESCE(nt, 0) AS nt, COALESCE(np, 0) AS np
        FROM t FULL OUTER JOIN p ON p.band = t.band
      ), tots AS (
        SELECT (SELECT COUNT(*) FROM d WHERE lang = 'en') AS ntot,
               (SELECT COUNT(*) FROM d WHERE lang != 'en') AS ptot
      ), r AS (
        SELECT band, nt, np,
          CASE WHEN np > 0 AND nt > 0 THEN
            (CAST(nt AS DOUBLE) * CAST(ptot AS DOUBLE)) /
              (CAST(np AS DOUBLE) * CAST(ntot AS DOUBLE))
          ELSE 0.0 END AS ratio
        FROM j CROSS JOIN tots
      ), m AS (SELECT MAX(ratio) AS mx FROM r
      ), a AS (
        SELECT band, nt, np, ratio / mx AS arate FROM r CROSS JOIN m
      ), acc AS (
        SELECT d.band, COUNT(*) AS nacc
        FROM d JOIN a ON a.band = d.band
        WHERE d.lang != 'en'
          AND CAST('0x' || substr(md5('mds:' || CAST(d.doc_id AS VARCHAR)), 1, 7) AS BIGINT)
              / 268435456.0 < a.arate
        GROUP BY d.band
      )
      SELECT a.band, a.nt AS n_target, a.np AS n_proposal,
        COALESCE(acc.nacc, 0) AS n_accepted, ROUND(a.arate, 6) AS accept_rate
      FROM a LEFT JOIN acc ON acc.band = a.band
      ORDER BY a.band
    """.stripMargin.trim))

  val llmMixSources: Op = Op(
    "llm_mix_sources",
    (s, dir) => {
      import s.implicits._
      val tiers = Seq(("high", 4L), ("mid", 2L), ("low", 1L))
        .toDF("tier", "weight")
      val srcNum = substring(col("source"), 4, 10).cast(IntegerType)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("tier",
          when(srcNum < 5, "high").when(srcNum < 10, "mid").otherwise("low"))
      docs.join(broadcast(tiers), "tier")
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(
            expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10) as bigint)"),
            col("doc_id"))).cast(LongType))
        .filter(col("rn") <= col("weight") * 5)
        .select(col("source"), col("tier"), col("weight"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source,
          CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 'high'
               WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'mid'
               ELSE 'low' END AS tier,
          CAST(CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 4
               WHEN CAST(substr(source, 4) AS INT) < 10 THEN 2
               ELSE 1 END AS BIGINT) AS weight
        FROM documents
      ), r AS (
        SELECT *, row_number() OVER (PARTITION BY source
          ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT),
                   doc_id) AS rn
        FROM t
      )
      SELECT source, tier, weight, rn, doc_id FROM r
      WHERE rn <= weight * 5
      ORDER BY source, rn
    """.stripMargin.trim))

  /** llm_mix_sources' SCALE FORMULATION — the per-source md5-order rank
    * is GlobalRank's distributed row number, grouped by source. The spec
    * form's per-source window is a single task per source — a skew
    * ceiling when one source holds billions of docs. Rank depends only
    * on the total order, so the result is bit-identical (equivalence
    * pinned in WindowScaleSuite; SAME oracle as llm_mix_sources). At
    * true 100 TB the quota also flips from rank to sampling RATE
    * (two-phase: count per source, then hash-threshold) — that form
    * needs no rank at all; this twin grades the exact-quota semantics
    * at scale.
    */
  val llmMixSourcesScale: Op = Op(
    "llm_mix_sources_scale",
    (s, dir) => {
      import s.implicits._
      val tiers = Seq(("high", 4L), ("mid", 2L), ("low", 1L))
        .toDF("tier", "weight")
      val srcNum = substring(col("source"), 4, 10).cast(IntegerType)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("tier",
          when(srcNum < 5, "high").when(srcNum < 10, "mid").otherwise("low"))
        .withColumn("h", expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 7), 16, 10) as bigint)"))
      GlobalRank.rank(docs, Seq("source"), Seq(col("h"), col("doc_id")))
        .join(broadcast(tiers), "tier")
        .filter(col("rn") <= col("weight") * 5)
        .select(col("source"), col("tier"), col("weight"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },
    llmMixSources.oracle)

  /** BPE vocabulary induction, step one: count adjacent-symbol pairs
    * across every word OCCURRENCE in the corpus (the statistic the
    * first byte-pair-encoding merge maximizes) and rank the top 50
    * merge candidates. A real tokenizer-training pipeline iterates
    * this count-merge loop; the counting pass — the part that touches
    * corpus-scale data — is exactly this query, so its plan shape is
    * the one that matters at 100 TB: explode words, explode character
    * positions (an index sequence, never a computed string array — see
    * the Generate-trap note on llm_repetition_filter), then ONE
    * partial+final hash aggregate on the pair key; the top-50 rank
    * runs on the tiny distinct-pair table. Rank ties break
    * alphabetically so the cut line is deterministic in both engines.
    */
  val llmVocabInduce: Op = Op(
    "llm_vocab_induce",
    (s, dir) => {
      val words = Tables.documents(s, dir)
        .select(explode(toks).as("w"))
        .filter(length(col("w")) >= 2)
      val pairs = words
        .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(col("w").substr(col("i"), lit(2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
      pairs
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("pair"))).cast(LongType))
        .filter(col("rank") <= 50)
        .select(col("rank"), col("pair"), col("n"))
        .orderBy("rank")
    },
    Some("""
      WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ), p AS (
        SELECT substring(w, i, 2) AS pair, COUNT(*) AS n
        FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
              FROM w WHERE length(w) >= 2)
        GROUP BY 1
      )
      SELECT rank, pair, n FROM (
        SELECT row_number() OVER (ORDER BY n DESC, pair) AS rank, pair, n
        FROM p)
      WHERE rank <= 50 ORDER BY rank
    """.stripMargin.trim))

  /** One BPE merge application over a space-separated symbol string —
    * factored out so its run semantics are unit-testable. `pair` is
    * "x y"; greedy left-to-right, every non-overlapping " x y "
    * occurrence becomes " xy ". A naive replace() on the single-space
    * form under-merges back-to-back runs: the match consumes the SHARED
    * boundary space, so in "a a a a a a" the scan resumes mid-run and
    * drifts off the greedy alignment (a second pass repairs runs ≤4 but
    * runs ≥5 still diverge — round-9 advice). The fix keeps the merge a
    * plain replace but removes the sharing: widen every separator to
    * TWO spaces, so " x  y " matches consume one space from each side
    * and adjacent occurrences no longer overlap — one left-to-right
    * replace() pass in the doubled form IS reference greedy BPE (runs
    * of any length, x==y included; property-tested in UnitSuite against
    * a token-wise greedy fold) — then collapse separators back. No
    * regex lookaround, which matters because plain replace() is
    * left-to-right non-overlapping in both engines.
    */
  private[graft] def bpeApplyMerge(seq: Column, pair: Column): Column = {
    val doubled = call_function("replace", seq, lit(" "), lit("  "))
    val from = concat(lit(" "), call_function("replace", pair, lit(" "), lit("  ")), lit(" "))
    val to = concat(lit(" "), call_function("replace", pair, lit(" "), lit("")), lit(" "))
    val merged = call_function("replace", doubled, from, to)
    call_function("replace", merged, lit("  "), lit(" "))
  }

  /** Trained 5-round BPE state, built ONCE per (session, fixture dir) —
    * the tokenizer deployment lifecycle (train once, ship the merge
    * table, encode many; same pattern as the IVF fit): returns the
    * merge table (round, pair, new_sym, count) and the final ENCODED
    * VOCABULARY (word → merged symbol string, occurrence count).
    *
    * Training mechanics: the ONLY corpus-scale pass collapses word
    * occurrences to (distinct word, count) — the iteration then runs on
    * VOCABULARY-sized data with counts carried as weights, exactly how
    * reference BPE trainers scale (pair count = Σ wn ≡ the
    * occurrence-level count). Each round: one weighted pair
    * hash-aggregate (symbol-index explode, never a computed-array
    * Generate), a 1-row top-1 riding back as a broadcast dimension,
    * and a narrow per-row `bpeApplyMerge`. Per-round symbol tables and
    * tops localCheckpoint — without that, round r's top-1 subplan nests
    * rounds 1..r-1's broadcasts and lineage re-derives them multiply
    * (measured 5.7 s vs 1.7 s warm at sf0.1).
    *
    * The vocabulary admits len≥1 words so the ENCODER covers every
    * word; single-symbol rows produce no pairs, so the merge sequence
    * is provably identical to counting len≥2 words only (the merges
    * oracle keeps its len≥2 filter on exactly that argument).
    */
  private val bpeTrainedState = new SessionArtifact[(DataFrame, DataFrame)]
  private[graft] def bpeTrained(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    bpeTrainedState(s, dir) {
      val vocab = Tables.documents(s, dir)
        .select(explode(toks).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("wn"))
      var seqs = vocab.select(col("w"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seq"),
        col("wn"))
        .localCheckpoint(true)
      val rounds = (1 to 5).map { r =>
        val pairs = seqs
          .select(split(trim(col("seq")), " ").as("sy"), col("wn"))
          .filter(size(col("sy")) >= 2)
          .select(col("sy"), col("wn"),
            explode(sequence(lit(1), size(col("sy")) - 1)).as("i"))
          .select(concat(element_at(col("sy"), col("i")), lit(" "),
            element_at(col("sy"), col("i") + 1)).as("pair"), col("wn"))
          .groupBy("pair").agg(sum("wn").as("n"))
        val top = pairs.orderBy(col("n").desc, col("pair")).limit(1)
          .localCheckpoint(true)
        seqs = seqs.crossJoin(broadcast(top.select(col("pair"))))
          .select(col("w"), bpeApplyMerge(col("seq"), col("pair")).as("seq"),
            col("wn"))
          .localCheckpoint(true)
        top.select(lit(r.toLong).as("merge_round"), col("pair"),
          regexp_replace(col("pair"), " ", "").as("new_sym"), col("n"))
      }
      (rounds.reduce(_ unionByName _).localCheckpoint(true), seqs)
    }

  /** The iterated BPE trainer — `llm_vocab_induce` is round one's
    * statistic; this op runs the actual merge LOOP: pick the most
    * frequent adjacent symbol pair (ties break alphabetically), apply
    * the merge to every word occurrence, recount on the MERGED symbols,
    * repeat — k=5 unrolled rounds, emitting the merge table a tokenizer
    * ships (round, winning pair, new symbol, count at merge time).
    * Round r's winner depends on rounds 1..r-1's applications, so a
    * green hash proves the whole sequence, not just the first count.
    * Words start as space-separated characters; merges apply via
    * `bpeApplyMerge` (see its scaladoc for why two replace() passes
    * equal reference greedy BPE). Training runs in `bpeTrained` (once
    * per session — the first of trainer/encoder to run pays it, like
    * the IVF fit); see that scaladoc for the scale shape.
    */
  val llmVocabMerges: Op = Op(
    "llm_vocab_merges",
    (s, dir) => bpeTrained(s, dir)._1.orderBy("merge_round"),
    Some("""
      WITH v AS (
        SELECT w, COUNT(*) AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) >= 2 GROUP BY w
      ), w0 AS (
        SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS seq, wn FROM v
      ), p1 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w0),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1
      ), w1 AS (
        SELECT replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w0, t1
      ), p2 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w1),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1
      ), w2 AS (
        SELECT replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w1, t2
      ), p3 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w2),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t3 AS (SELECT pair, n FROM p3 ORDER BY n DESC, pair LIMIT 1
      ), w3 AS (
        SELECT replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w2, t3
      ), p4 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w3),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t4 AS (SELECT pair, n FROM p4 ORDER BY n DESC, pair LIMIT 1
      ), w4 AS (
        SELECT replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w3, t4
      ), p5 AS (
        SELECT sy[i] || ' ' || sy[i+1] AS pair, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w4),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1
      ), t5 AS (SELECT pair, n FROM p5 ORDER BY n DESC, pair LIMIT 1)
      SELECT merge_round, pair, replace(pair, ' ', '') AS new_sym, n FROM (
        SELECT CAST(1 AS BIGINT) AS merge_round, pair, n FROM t1
        UNION ALL SELECT 2, pair, n FROM t2
        UNION ALL SELECT 3, pair, n FROM t3
        UNION ALL SELECT 4, pair, n FROM t4
        UNION ALL SELECT 5, pair, n FROM t5)
      ORDER BY merge_round
    """.stripMargin.trim))

  /** Trained 5-round WordPiece state (Schuster & Nakajima 2012 / the
    * BERT trainer), built once per (session, dir) like bpeTrained. The
    * ONLY difference from BPE is the merge SCORE: WordPiece picks the
    * pair maximizing LIKELIHOOD GAIN count(pair)/(count(l)·count(r)) —
    * merge what co-occurs more than its parts' frequencies predict —
    * where BPE picks raw count(pair). The score is ranked as the EXACT
    * integer key n·10¹² div (ul·ur) (ties → pair asc): a double ratio
    * could tie-break on the last ulp and fork engines; the integer
    * form is portable by construction (n ≤ ~10⁶ at fixture scale, so
    * n·10¹² fits int64 — DuckDB errors on overflow where Spark wraps,
    * the pass_at_k lesson, so the bound is load-bearing and documented
    * here). Vocab filters len ≥ 2 on BOTH sides — unlike BPE (where
    * len-1 words provably cannot change pair counts), the unigram
    * DENOMINATOR would see their symbols, so the filter must match the
    * oracle exactly.
    */
  private val wordpieceTrainedState = new SessionArtifact[DataFrame]
  private[graft] def wordpieceTrained(s: SparkSession, dir: String): DataFrame =
    wordpieceTrainedState(s, dir) {
      val vocab = Tables.documents(s, dir)
        .select(explode(toks).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wn"))
      var seqs = vocab.select(col("w"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("seq"),
        col("wn"))
        .localCheckpoint(true)
      val rounds = (1 to 5).map { r =>
        val syms = seqs
          .select(explode(split(trim(col("seq")), " ")).as("s"), col("wn"))
          .groupBy("s").agg(sum("wn").as("un"))
        val pairs = seqs
          .select(split(trim(col("seq")), " ").as("sy"), col("wn"))
          .filter(size(col("sy")) >= 2)
          .select(col("sy"), col("wn"),
            explode(sequence(lit(1), size(col("sy")) - 1)).as("i"))
          .select(element_at(col("sy"), col("i")).as("l"),
            element_at(col("sy"), col("i") + 1).as("r"), col("wn"))
          .groupBy("l", "r").agg(sum("wn").as("n"))
        val top = pairs
          .join(broadcast(syms.select(col("s").as("l"), col("un").as("ul"))), "l")
          .join(broadcast(syms.select(col("s").as("r"), col("un").as("ur"))), "r")
          .select(concat(col("l"), lit(" "), col("r")).as("pair"), col("n"),
            expr("n * 1000000000000L div (ul * ur)").as("sk"))
          .orderBy(col("sk").desc, col("pair")).limit(1)
          .localCheckpoint(true)
        seqs = seqs.crossJoin(broadcast(top.select(col("pair"))))
          .select(col("w"), bpeApplyMerge(col("seq"), col("pair")).as("seq"),
            col("wn"))
          .localCheckpoint(true)
        top.select(lit(r.toLong).as("merge_round"), col("pair"),
          regexp_replace(col("pair"), " ", "").as("new_sym"), col("n"),
          col("sk"))
      }
      rounds.reduce(_ unionByName _).localCheckpoint(true)
    }

  /** The WordPiece merge LOOP, graded — the third tokenizer trainer
    * next to BPE (llm_vocab_merges) and unigram-LM (llm_vocab_unigram),
    * completing the family every production stack picks from (GPT =
    * BPE, BERT = WordPiece, T5/SentencePiece = unigram). Round r's
    * winner depends on rounds 1..r-1's applications, so the hash
    * proves the full likelihood-scored sequence; the merge APPLICATION
    * is byte-identical to BPE's (shared bpeApplyMerge — the doubled-
    * separator greedy form), isolating the score as the only moving
    * part. Emits (round, pair, new symbol, pair count, integer score
    * key).
    *
    * Scale shape: identical to bpeTrained — one corpus pass collapses
    * to (distinct word, count); each round is a vocab-sized pair
    * aggregate + a vocab-sized unigram aggregate + a 1-row broadcast
    * top + a narrow per-row merge. The unigram side is the same
    * partial+final shape as the pair side; nothing corpus-scale
    * re-runs after round 0.
    */
  val llmVocabWordpiece: Op = Op(
    "llm_vocab_wordpiece",
    (s, dir) => wordpieceTrained(s, dir).orderBy("merge_round"),
    Some {
      val rounds = (1 to 5).map { r =>
        s"""u$r AS (
        SELECT s, CAST(SUM(wn) AS BIGINT) AS un
        FROM (SELECT unnest(string_split(trim(seq), ' ')) AS s, wn
              FROM w${r - 1})
        GROUP BY s
      ), p$r AS (
        SELECT sy[i] AS l, sy[i+1] AS r, CAST(SUM(wn) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS sy, wn FROM w${r - 1}),
             LATERAL (SELECT unnest(generate_series(1, len(sy) - 1)) AS i)
        WHERE len(sy) >= 2 GROUP BY 1, 2
      ), t$r AS (
        SELECT pair, n, sk FROM (
          SELECT p.l || ' ' || p.r AS pair, p.n,
            (p.n * 1000000000000) // (ul.un * ur.un) AS sk
          FROM p$r p JOIN u$r ul ON ul.s = p.l JOIN u$r ur ON ur.s = p.r)
        ORDER BY sk DESC, pair LIMIT 1
      ), w$r AS (
        SELECT replace(replace(replace(seq, ' ', '  '),
            ' ' || replace(pair, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '') || ' '),
            '  ', ' ') AS seq, wn
        FROM w${r - 1}, t$r
      )"""
      }.mkString(", ")
      s"""
      WITH v AS (
        SELECT w, COUNT(*) AS wn
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) >= 2 GROUP BY w
      ), w0 AS (
        SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq, wn FROM v
      ), $rounds
      SELECT merge_round, pair, replace(pair, ' ', '') AS new_sym, n, sk FROM (
        SELECT CAST(1 AS BIGINT) AS merge_round, pair, n, sk FROM t1
        UNION ALL SELECT 2, pair, n, sk FROM t2
        UNION ALL SELECT 3, pair, n, sk FROM t3
        UNION ALL SELECT 4, pair, n, sk FROM t4
        UNION ALL SELECT 5, pair, n, sk FROM t5)
      ORDER BY merge_round
    """.stripMargin.trim
    })

  /** Contrastive-training triplet mining — the retrieval/embedding-model
    * data op every similarity pipeline runs after dedup: for each probe
    * anchor (vec_id ∤ 50, the simsearch probe set), the HARD POSITIVE
    * (same label, LEAST similar — the in-class example the model most
    * needs to pull in) and the top-3 HARD NEGATIVES (different label,
    * MOST similar — the impostors it must push away). Similarity is the
    * native codegen'd CosineSim kernel, ranked on the ROUNDED value with
    * id tie pins (an ulp can't flip a rank).
    *
    * Scale shape: anchors ride in as a BROADCAST dimension, so the
    * corpus scans exactly once with no big-side shuffle (the simsearch
    * pattern); only the |anchors|×N (anchor, sim) pairs — bounded by
    * the probe batch a deployment mines per pass — shuffle for the two
    * per-anchor rank windows. At 100 TB anchors batch in fixed-size
    * waves and the mining loop is this same plan per wave.
    */
  /** One Viterbi relaxation ladder for the unigram-LM oracle: 8
    * unrolled Bellman-Ford steps over the word-position DAG (piece
    * edges advance 1-4 chars; the corpus caps words at 8 chars, and
    * the `w` CTE filters to that bound SYMMETRICALLY on both engines).
    * MATERIALIZED is load-bearing: each step references its
    * predecessor twice (carry + extend), so an inlined CTE would
    * expand 2^8 copies of the scan.
    */
  private def unigramRelaxSql(rnd: Int): String =
    (1 to 8).map { t =>
      val prev = s"d${rnd}_${t - 1}"
      s"""d${rnd}_$t AS MATERIALIZED (
        SELECT w, j, cost, path FROM (
          SELECT w, j, cost, path,
            row_number() OVER (PARTITION BY w, j ORDER BY cost, path) AS rk
          FROM (
            SELECT w, j, cost, path FROM $prev
            UNION ALL
            SELECT d.w, e.j1 AS j,
              CAST(d.cost + e.cost AS DECIMAL(18,6)) AS cost,
              d.path || e.piece || ' ' AS path
            FROM $prev d JOIN e$rnd e ON e.w = d.w AND e.j0 = d.j
          )) WHERE rk = 1
      )"""
    }.mkString(", ")

  /** UNIGRAM-LM TOKENIZER — the OTHER mainstream subword family
    * (SentencePiece-style), completing the vocab trio next to the BPE
    * trainer/encoder (llm_vocab_induce/merges/apply): seed a piece
    * inventory from ONE corpus collapse (all single chars for
    * coverage + the top-40 weighted substrings of length 2-4), score
    * pieces by unigram negative log-likelihood (-ln(count/total),
    * rounded at 6 dp and carried as EXACT DECIMAL so path costs fold
    * associatively), then run hard-EM: VITERBI-segment the weighted
    * vocabulary under the current model (min-cost path over the
    * word-position DAG — 8 unrolled relaxation steps, ties broken on
    * (cost, path) in both engines), RECOUNT pieces from the
    * segmentation (the E-step; seeds the Viterbi never uses drop out
    * — the prune), re-estimate costs (M-step), and segment again.
    * The graded output is the round-2 segmentation of every distinct
    * word plus the seed/kept vocabulary sizes riding as in-plan
    * literals — the hash match pins the whole train-prune-resegment
    * chain, including the EM fixpoint (round 2 provably reproduces
    * round 1's segs on this corpus, which is what convergence means
    * at this vocabulary scale). Fully ORACLE-GRADED: the DuckDB twin
    * unrolls the same ladder (MATERIALIZED per step — see
    * unigramRelaxSql).
    *
    * Scale shape: the ONLY corpus-scale pass is the word collapse;
    * everything after rides the DISTINCT vocabulary weighted by
    * counts (the BPE-trainer discipline). The DP is bounded by
    * max-word-length × max-piece-length edges per word; at 100 TB the
    * same plan trains on the collapsed vocab of a trillion-token
    * corpus (vocab grows ~log-ish, not linearly), and the encoder is
    * the Viterbi pass applied per occurrence with the model broadcast.
    */
  private val unigramTrained = new SessionArtifact[DataFrame]

  /** The TRAINED unigram model — per-word (w, wn, Viterbi path, cost)
    * plus the seed/kept vocab stats — computed ONCE per (session,
    * fixture dir): the tokenizer deployment lifecycle (train once, ship
    * the model, encode many — the bpeTrained/ivfCents shape). Shared by
    * llm_vocab_unigram (which grades the training chain) and
    * llm_vocab_unigram_encode (which applies it to the corpus).
    */
  private[graft] def unigramModel(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    unigramTrained(s, dir) {
      val w = Tables.documents(s, dir)
        .select(explode(toks).as("w"))
        .filter(length(col("w")).between(1, 8))
        .groupBy("w").agg(count(lit(1)).as("wn"))
        .localCheckpoint(true) // vocab-sized; consumed by pos + 2 seg joins
      val pos = w.select(col("w"), col("wn"),
          explode(expr("sequence(1, length(w))")).as("i"))
        .select(col("w"), col("wn"), col("i"),
          explode(expr("sequence(1, 4)")).as("L"))
        .filter(col("i") + col("L") - 1 <= length(col("w")))
        .select(col("w"), col("wn"), col("i"), col("L"),
          expr("substring(w, i, L)").as("piece"))
        .localCheckpoint(true) // consumed by seed count + both edge builds
      val seedcnt = pos.groupBy("piece").agg(sum("wn").as("cnt"))
      val seedsel = seedcnt.filter(length(col("piece")) === 1)
        .unionByName(seedcnt.filter(length(col("piece")) >= 2)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("cnt").desc, col("piece"))))
          .filter(col("rk") <= 40).drop("rk"))
        .localCheckpoint(true)
      // -ln(count/total) at 6 dp as exact decimal: path costs then fold
      // associatively (partition-invariant), and both engines divide
      // and ln() the same doubles (the PSI precedent)
      def costify(cnts: DataFrame): DataFrame =
        cnts.crossJoin(broadcast(cnts.agg(sum("cnt").as("tot"))))
          .select(col("piece"),
            round(-log(col("cnt").cast(DoubleType) / col("tot")), 6)
              .cast(DecimalType(18, 6)).as("cost"))
      def viterbi(costTbl: DataFrame): DataFrame = {
        val edges = pos.join(costTbl, "piece")
          .select(col("w").as("ew"), (col("i") - 1).as("j0"),
            (col("i") + col("L") - 1).as("j1"), col("piece"),
            col("cost").as("ecost"))
          .localCheckpoint(true) // re-joined by every relaxation step
        var dist = w.select(col("w"), lit(0).as("j"),
          lit(0).cast(DecimalType(18, 6)).as("cost"), lit("").as("path"))
        for (step <- 1 to 8) {
          val ext = dist.join(edges,
              dist("w") === edges("ew") && dist("j") === edges("j0"))
            .select(col("w"), col("j1").as("j"),
              (col("cost") + col("ecost")).cast(DecimalType(18, 6)).as("cost"),
              concat(col("path"), col("piece"), lit(" ")).as("path"))
          dist = dist.unionByName(ext)
            .withColumn("rk", row_number().over(
              Window.partitionBy("w", "j").orderBy(col("cost"), col("path"))))
            .filter(col("rk") === 1).drop("rk")
          // materialize every OTHER step: without any cut, step r nests
          // rounds 1..r-1 multiplicatively (the bpeTrained lesson); a
          // two-step lineage is still linear but halves the job count
          // (measured 10.6 -> ~6 s one-time training at sf0.1)
          if (step % 2 == 0) dist = dist.localCheckpoint(true)
        }
        dist.join(w.select(col("w"), length(col("w")).as("wl")), "w")
          .filter(col("j") === col("wl"))
          .select(col("w"), col("path"), col("cost"))
      }
      val seg1 = viterbi(costify(seedsel)).localCheckpoint(true)
      val cnt2 = seg1.join(w, "w")
        .select(explode(split(trim(col("path")), " ")).as("piece"), col("wn"))
        .groupBy("piece").agg(sum("wn").as("cnt"))
        .localCheckpoint(true) // cost2 + kept-count stats
      val seg2 = viterbi(costify(cnt2))
      val vstats = seedsel.agg(count(lit(1)).as("n_seed_pieces"))
        .crossJoin(cnt2.agg(count(lit(1)).as("n_kept_pieces")))
      seg2.join(w, "w")
        .crossJoin(broadcast(vstats))
        .localCheckpoint(true)
    }

  val llmVocabUnigram: Op = Op(
    "llm_vocab_unigram",
    (s, dir) => unigramModel(s, dir)
      .select(col("w"), col("wn"), trim(col("path")).as("seg"),
        size(split(trim(col("path")), " ")).cast(LongType).as("n_pieces"),
        col("cost").cast(DoubleType).as("cost"),
        col("n_seed_pieces"), col("n_kept_pieces"))
      .orderBy("w"),
    Some((unigramChainSql + s"""
      SELECT s.w, w.wn, trim(s.path) AS seg,
        CAST(len(string_split(trim(s.path), ' ')) AS BIGINT) AS n_pieces,
        CAST(s.cost AS DOUBLE) AS cost,
        v.n_seed_pieces, v.n_kept_pieces
      FROM seg2 s JOIN w ON w.w = s.w CROSS JOIN vstats v
      ORDER BY s.w
    """).trim))

  /** The shared unigram-oracle CTE chain (corpus collapse → seeds →
    * cost model → two Viterbi/EM rounds → seg2 + vstats) — embedded
    * verbatim by llm_vocab_unigram and llm_vocab_unigram_encode, so the
    * trained model's definition cannot fork between trainer and
    * encoder (the pqChainSql discipline).
    */
  private def unigramChainSql: String = (s"""
      WITH w AS (
        SELECT w, COUNT(*) AS wn FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) BETWEEN 1 AND 8 GROUP BY w
      ), pos AS MATERIALIZED (
        SELECT w.w, w.wn, i, L, substring(w.w, i, L) AS piece
        FROM w,
          LATERAL (SELECT unnest(generate_series(1, length(w.w))) AS i),
          LATERAL (SELECT unnest(generate_series(1, 4)) AS L)
        WHERE i + L - 1 <= length(w.w)
      ), seedcnt AS (
        SELECT piece, SUM(wn) AS cnt FROM pos GROUP BY piece
      ), seedsel AS MATERIALIZED (
        SELECT piece, cnt FROM seedcnt WHERE length(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk
          FROM seedcnt WHERE length(piece) >= 2) WHERE rk <= 40
      ), cost1_tbl AS (
        SELECT piece,
          CAST(ROUND(-ln(CAST(cnt AS DOUBLE) / (SELECT SUM(cnt) FROM seedsel)), 6)
            AS DECIMAL(18,6)) AS cost
        FROM seedsel
      ), e1 AS MATERIALIZED (
        SELECT p.w, p.i - 1 AS j0, p.i + p.L - 1 AS j1, p.piece, c.cost
        FROM pos p JOIN cost1_tbl c ON c.piece = p.piece
      ), d1_0 AS (
        SELECT w.w, 0 AS j, CAST(0 AS DECIMAL(18,6)) AS cost, '' AS path FROM w
      ), """ + unigramRelaxSql(1) + s"""
      , seg1 AS (
        SELECT d.w, d.path, d.cost
        FROM d1_8 d JOIN w ON w.w = d.w AND d.j = length(w.w)
      ), cnt2 AS MATERIALIZED (
        SELECT piece, SUM(wn) AS cnt FROM (
          SELECT unnest(string_split(trim(s.path), ' ')) AS piece, w.wn
          FROM seg1 s JOIN w ON w.w = s.w)
        GROUP BY piece
      ), cost2_tbl AS (
        SELECT piece,
          CAST(ROUND(-ln(CAST(cnt AS DOUBLE) / (SELECT SUM(cnt) FROM cnt2)), 6)
            AS DECIMAL(18,6)) AS cost
        FROM cnt2
      ), e2 AS MATERIALIZED (
        SELECT p.w, p.i - 1 AS j0, p.i + p.L - 1 AS j1, p.piece, c.cost
        FROM pos p JOIN cost2_tbl c ON c.piece = p.piece
      ), d2_0 AS (
        SELECT w.w, 0 AS j, CAST(0 AS DECIMAL(18,6)) AS cost, '' AS path FROM w
      ), """ + unigramRelaxSql(2) + s"""
      , seg2 AS (
        SELECT d.w, d.path, d.cost
        FROM d2_8 d JOIN w ON w.w = d.w AND d.j = length(w.w)
      ), vstats AS (
        SELECT (SELECT COUNT(*) FROM seedsel) AS n_seed_pieces,
               (SELECT COUNT(*) FROM cnt2) AS n_kept_pieces
      )""")

  /** UNIGRAM ENCODER — the apply half of the unigram family (what
    * llm_vocab_apply is to the BPE trainer): segment the CORPUS under
    * the trained model and read out the token economics per (source,
    * lang) stratum — the "how many pieces does this tokenizer spend on
    * this slice" question a data-mix owner asks before fixing a token
    * budget (llm_token_budget counts whitespace tokens; this op counts
    * LEARNED subword pieces). Occurrences join the VOCABULARY-sized
    * model (broadcast), so the corpus is touched exactly once; the
    * oracle embeds the SAME chain string as the trainer, so the hash
    * match proves train+encode end-to-end on corpus-scale data.
    *
    * Encode domain: the trained model covers words of length 1–8 (the
    * trainer's collapsed-vocabulary bound), so longer words are OOV to
    * this encoder. They are NOT silently dropped: the corpus joins the
    * model LEFT-outer and each stratum carries `n_oov_words`, so the
    * token-economics reading (`pieces_per_word` over the in-domain
    * words) states its own coverage gap in the graded output.
    *
    * Scale shape: one corpus scan ⋈ broadcast model → one (source,
    * lang) aggregate; the model stays vocabulary-sized no matter the
    * corpus (the tokenizer-deployment contract at 100 TB).
    */
  val llmVocabUnigramEncode: Op = Op(
    "llm_vocab_unigram_encode",
    (s, dir) => {
      val model = unigramModel(s, dir)
        .select(col("w").as("cw"),
          size(split(trim(col("path")), " ")).as("np"))
      Tables.documents(s, dir)
        .select(col("source"), col("lang"), explode(toks).as("cw"))
        .join(broadcast(model), Seq("cw"), "left")
        .groupBy("source", "lang")
        .agg(count(col("np")).as("n_words"),
          (count(lit(1)) - count(col("np"))).as("n_oov_words"),
          sum("np").as("n_pieces"))
        .select(col("source"), col("lang"), col("n_words"),
          col("n_oov_words"), col("n_pieces"),
          round(col("n_pieces").cast(DoubleType) / col("n_words"), 6)
            .as("pieces_per_word"))
        .orderBy("source", "lang")
    },
    Some((unigramChainSql + s"""
      , corpus AS (
        SELECT source, lang, unnest(string_split(text, ' ')) AS cw
        FROM documents
      ), encw AS (
        SELECT c.source, c.lang,
          len(string_split(trim(s2.path), ' ')) AS np
        FROM corpus c LEFT JOIN seg2 s2 ON s2.w = c.cw
      )
      SELECT source, lang, COUNT(np) AS n_words,
        COUNT(*) - COUNT(np) AS n_oov_words,
        CAST(SUM(np) AS BIGINT) AS n_pieces,
        ROUND(CAST(SUM(np) AS DOUBLE) / COUNT(np), 6) AS pieces_per_word
      FROM encw GROUP BY source, lang ORDER BY source, lang
    """).trim))

  /** TOKENIZER COMPARISON — the "which tokenizer spends fewer pieces
    * on my data" question a data-mix owner answers before committing a
    * vocabulary, run over BOTH trained session artifacts at once (the
    * detector-agreement reading applied to tokenizers): per (source,
    * lang) stratum, BPE pieces/word vs unigram-LM pieces/word and the
    * signed gap, on the COMMON encode domain (words both models cover
    * — the unigram model's 1–8-char bound, documented at the encoder).
    * Both corpora joins ride the SHARED bpeTrained / unigramModel
    * session artifacts (train once, read many); the ORACLE splices
    * BOTH trainers' chain SQL verbatim — the hash proves two full
    * train+encode pipelines end-to-end in one query, the ivfpq
    * splice precedent.
    *
    * Scale shape: one corpus scan ⋈ two VOCABULARY-sized broadcast
    * models → one (source, lang) aggregate — the tokenizer-deployment
    * join shape at any corpus size.
    */
  val llmTokenizerCompare: Op = Op(
    "llm_tokenizer_compare",
    (s, dir) => {
      val bpe = bpeTrained(s, dir)._2
        .select(col("w").as("cw"),
          size(split(trim(col("seq")), " ")).as("bpe_tok"))
      val uni = unigramModel(s, dir)
        .select(col("w").as("cw"),
          size(split(trim(col("path")), " ")).as("uni_tok"))
      val bppw = col("sb").cast(DoubleType) / col("n_words")
      val uppw = col("su").cast(DoubleType) / col("n_words")
      Tables.documents(s, dir)
        .select(col("source"), col("lang"), explode(toks).as("cw"))
        .join(broadcast(bpe), "cw")
        .join(broadcast(uni), "cw")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_words"),
          sum("bpe_tok").as("sb"), sum("uni_tok").as("su"))
        .select(col("source"), col("lang"), col("n_words"),
          round(bppw, 6).as("bpe_pieces_per_word"),
          round(uppw, 6).as("uni_pieces_per_word"),
          round(bppw - uppw, 6).as("bpe_minus_uni"))
        .orderBy("source", "lang")
    },
    Some((unigramChainSql + ", " + bpeChainCtes + s"""
      , enc AS (
        SELECT w, len(string_split(trim(seq), ' ')) AS n_tok FROM w5
      ), corpus2 AS (
        SELECT source, lang, unnest(string_split(text, ' ')) AS cw
        FROM documents
      ), j AS (
        SELECT c.source, c.lang, e.n_tok AS bpe_tok,
          len(string_split(trim(s2.path), ' ')) AS uni_tok
        FROM corpus2 c
          JOIN enc e ON e.w = c.cw
          JOIN seg2 s2 ON s2.w = c.cw
      )
      SELECT source, lang, COUNT(*) AS n_words,
        ROUND(CAST(SUM(bpe_tok) AS DOUBLE) / COUNT(*), 6) AS bpe_pieces_per_word,
        ROUND(CAST(SUM(uni_tok) AS DOUBLE) / COUNT(*), 6) AS uni_pieces_per_word,
        ROUND(CAST(SUM(bpe_tok) AS DOUBLE) / COUNT(*)
            - CAST(SUM(uni_tok) AS DOUBLE) / COUNT(*), 6) AS bpe_minus_uni
      FROM j GROUP BY source, lang ORDER BY source, lang
    """).trim))

  /** The PERSISTED MODEL STORE — the deployment half of every fitted
    * artifact above: IVF centroids, PQ codebook + codes, BPE merge
    * table + encoded vocabulary, and the unigram model, each written
    * ONCE per (session, fixture dir) as parquet and read back by the
    * sink_model_artifact_* serving ops. Within a session the
    * SessionArtifact caches stand in for this store; writing the same
    * frames through parquet and serving from the FILES closes the loop
    * the r17 verdict asked for — a deployment's serving query never
    * re-fits, it scans the artifact table (parquet stores IEEE doubles
    * and arrays bit-exactly, so the persisted fit IS the session fit;
    * the serving ops' unchanged oracles prove it by hash).
    */
  private val modelStoreWritten = new SessionArtifact[String]
  private def modelStore(s: SparkSession, dir: String): String =
    modelStoreWritten(s, dir) {
      val p = Scratch.shared(s, dir, "model_store")
      ivfCents(s, dir).write.mode("overwrite").parquet(s"$p/ivf_centroids")
      val (cb, codes) = pqFit(s, dir)
      cb.write.mode("overwrite").parquet(s"$p/pq_codebook")
      codes.write.mode("overwrite").parquet(s"$p/pq_codes")
      val (merges, vocab) = bpeTrained(s, dir)
      merges.write.mode("overwrite").parquet(s"$p/bpe_merges")
      vocab.write.mode("overwrite").parquet(s"$p/bpe_vocab")
      unigramModel(s, dir)
        .write.mode("overwrite").parquet(s"$p/unigram_model")
      p
    }

  /** ANN SERVING FROM THE PERSISTED STORE — llm_simsearch_ivfpq's
    * composed route (probe routing → cell-local ADC → exact re-rank)
    * with ALL THREE fitted inputs (IVF centroids, PQ codebook, PQ
    * codes) scanned from the parquet model store instead of the
    * session cache. The oracle is the ivfpq chain VERBATIM, so the
    * hash match proves the write→read roundtrip preserved every
    * centroid component, codebook entry, and code id bit-exactly —
    * the question a deployment actually asks of its artifact store
    * ("does serving from the persisted fit return the fitted
    * answer?").
    *
    * Scale shape: identical to llm_simsearch_ivfpq (that scaladoc's
    * billion-vector layout argument carries over), plus the store
    * read pattern: centroids and codebook are broadcast-sized scans;
    * the codes table is the one corpus-scale artifact and joins on
    * vec_id/cell exactly as the cached frame did — at 100 TB it is
    * written cell-partitioned so the probed-cells join prunes files.
    */
  val sinkModelArtifactSearch: Op = Op(
    "sink_model_artifact_search",
    (s, dir) => {
      val p = modelStore(s, dir)
      val cents = Tables.parquet(s, s"$p/ivf_centroids")
      // serving derives nprobe from the ARTIFACT's own cell count — the
      // store is self-describing, no fit-time scalar needs persisting
      val nprobe = ivfPqNprobeOf(cents.count().toInt)
      pqSearch(ivfVecs(s, dir), Tables.parquet(s, s"$p/pq_codebook"),
        Tables.parquet(s, s"$p/pq_codes"), Some((ivfCentArr(cents), nprobe)))
    },
    llmSimsearchIvfpq.oracle)

  /** ARTIFACT REFRESH PROTOCOL — the lifecycle step the adaptive-k fit
    * makes mandatory (r18 verdict #8a): when the corpus grows, the
    * serving artifact must be REFIT at the new k and swapped in
    * without a serving gap. The op runs the full protocol every build:
    * (1) publish v1 = the base-corpus fit (k = 32 at the fixtures) —
    * write to a staging dir, ATOMIC_MOVE into the versioned path,
    * atomically swap a CURRENT pointer file onto it (the
    * version-hint/pointer-commit shape of the lake formats; readers
    * only ever see a complete version); (2) the corpus grows ×4 (the
    * semantic-scale amplification) → REFIT at the adaptive
    * k = ceil(2000/16) = 125, stage, publish v2, CAS the pointer;
    * (3) SERVE from whatever CURRENT names — assign the grown corpus
    * against the served centroids and emit the fit profile (cell,
    * n_members, cnorm — the llm_ivf_fit shape). The oracle replays
    * the REFIT chain from scratch, so the hash match proves the
    * staged-write → atomic-swap → serve path delivered exactly the
    * adaptive refit; in-op requires pin the protocol invariants (both
    * versions retained for rollback, pointer names v2).
    *
    * Scale shape: artifacts are k-row tables (staging writes are
    * model-sized, never corpus-sized); the one corpus-scale action is
    * the serving assignment — the same broadcast-centroid narrow fold
    * every IVF consumer uses. At 100 TB the pointer file becomes the
    * catalog's transactional commit; the staged-refit plan is
    * unchanged.
    */
  val sinkModelArtifactRefresh: Op = Op(
    "sink_model_artifact_refresh",
    (s, dir) => {
      val p = Scratch.perCall(s, "model_refresh")
      // the protocol IS the graded subject: every build re-runs it
      Scratch.empty(p)
      new java.io.File(p).mkdirs()
      def publish(df: DataFrame, ver: String): Unit = {
        val stage = s"$p/_staging_$ver"
        df.write.mode("overwrite").parquet(stage)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(stage), java.nio.file.Paths.get(s"$p/$ver"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        val tmp = java.nio.file.Paths.get(s"$p/_CURRENT.$ver")
        java.nio.file.Files.write(tmp, ver.getBytes("UTF-8"))
        // atomic pointer replace: a reader sees the old complete
        // version or the new one, never a torn state. ATOMIC_MOVE alone
        // onto an existing target is implementation-specific (POSIX
        // rename replaces; other filesystems may throw) — pass
        // REPLACE_EXISTING too so the contract is explicit (r19 ADVICE)
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$p/CURRENT"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      publish(ivfCents(s, dir), "v1")
      val (aug, cents2) = semScaleFit(s, dir)
      publish(cents2, "v2")
      require(new java.io.File(s"$p/v1").exists,
        "refresh must retain the previous version for rollback")
      val cur = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$p/CURRENT")), "UTF-8")
      require(cur == "v2", s"pointer swap failed: CURRENT names '$cur'")
      val served = s.read.parquet(s"$p/$cur")
      val members = ivfAssign(aug, ivfCentArr(served))
        .groupBy("cell").agg(count(lit(1)).as("n_members"))
      served.select(col("cell"), round(l2(col("cvec")), 6).as("cnorm"))
        .join(members, "cell")
        .select(col("cell"), col("n_members"), col("cnorm"))
        .orderBy("cell")
    },
    Some((ivfOracleCtesOver(semScaleOracleE) + s"""
      SELECT c.cell, COUNT(*) AS n_members,
        ROUND(sqrt(list_sum(list_transform(c.cvec, x -> x * x))), 6) AS cnorm
      FROM cents c JOIN asg a ON a.cell = c.cell
      GROUP BY c.cell, c.cvec ORDER BY c.cell
    """).trim))

  /** TOKENIZER SERVING FROM THE PERSISTED STORE — llm_tokenizer_compare's
    * dual encode (BPE vs unigram pieces/word per stratum) with BOTH
    * trained models scanned from the parquet model store instead of the
    * session caches. Oracle = both trainers' chain SQL verbatim (the
    * tokenizer_compare splice), so the hash proves the persisted vocab
    * and unigram segmentation tables serve the exact trained encodes.
    *
    * Scale shape: identical to llm_tokenizer_compare — one corpus scan
    * joined to two VOCABULARY-sized broadcast scans; the artifacts stay
    * model-sized no matter the corpus.
    */
  val sinkModelArtifactEncode: Op = Op(
    "sink_model_artifact_encode",
    (s, dir) => {
      val p = modelStore(s, dir)
      val bpe = Tables.parquet(s, s"$p/bpe_vocab")
        .select(col("w").as("cw"),
          size(split(trim(col("seq")), " ")).as("bpe_tok"))
      val uni = Tables.parquet(s, s"$p/unigram_model")
        .select(col("w").as("cw"),
          size(split(trim(col("path")), " ")).as("uni_tok"))
      val bppw = col("sb").cast(DoubleType) / col("n_words")
      val uppw = col("su").cast(DoubleType) / col("n_words")
      Tables.documents(s, dir)
        .select(col("source"), col("lang"), explode(toks).as("cw"))
        .join(broadcast(bpe), "cw")
        .join(broadcast(uni), "cw")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_words"),
          sum("bpe_tok").as("sb"), sum("uni_tok").as("su"))
        .select(col("source"), col("lang"), col("n_words"),
          round(bppw, 6).as("bpe_pieces_per_word"),
          round(uppw, 6).as("uni_pieces_per_word"),
          round(bppw - uppw, 6).as("bpe_minus_uni"))
        .orderBy("source", "lang")
    },
    Some((unigramChainSql + ", " + bpeChainCtes + s"""
      , enc AS (
        SELECT w, len(string_split(trim(seq), ' ')) AS n_tok FROM w5
      ), corpus2 AS (
        SELECT source, lang, unnest(string_split(text, ' ')) AS cw
        FROM documents
      ), j AS (
        SELECT c.source, c.lang, e.n_tok AS bpe_tok,
          len(string_split(trim(s2.path), ' ')) AS uni_tok
        FROM corpus2 c
          JOIN enc e ON e.w = c.cw
          JOIN seg2 s2 ON s2.w = c.cw
      )
      SELECT source, lang, COUNT(*) AS n_words,
        ROUND(CAST(SUM(bpe_tok) AS DOUBLE) / COUNT(*), 6) AS bpe_pieces_per_word,
        ROUND(CAST(SUM(uni_tok) AS DOUBLE) / COUNT(*), 6) AS uni_pieces_per_word,
        ROUND(CAST(SUM(bpe_tok) AS DOUBLE) / COUNT(*)
            - CAST(SUM(uni_tok) AS DOUBLE) / COUNT(*), 6) AS bpe_minus_uni
      FROM j GROUP BY source, lang ORDER BY source, lang
    """).trim))

  /** MERGE-TABLE ROUNDTRIP FROM THE PERSISTED STORE — the shipped BPE
    * merge table (round, winning pair, new symbol, count at merge time)
    * read back from parquet and graded against the trainer's oracle
    * chain verbatim: the artifact a tokenizer DISTRIBUTES is exactly
    * this table, so its persistence is graded directly rather than
    * inferred from an encode. Model-sized end to end (5 rows here;
    * vocabulary-sized in any deployment).
    */
  val sinkModelArtifactMerges: Op = Op(
    "sink_model_artifact_merges",
    (s, dir) => {
      val p = modelStore(s, dir)
      Tables.parquet(s, s"$p/bpe_merges").orderBy("merge_round")
    },
    llmVocabMerges.oracle)

  /** RETRIEVAL QUALITY EVALUATION — the metric row every embedding
    * deployment reports before swapping an index in (and the missing
    * third of the retrieval story next to the searchers and the
    * mined-pairs op): per anchor, rank the corpus by exact cosine
    * (round-6 sims, ties pinned by vec_id — a total order, so rank is
    * portable), relevance = label agreement, then MRR's reciprocal
    * rank of the first relevant hit, precision@10 and recall@10. The
    * brute-force exact ranking is the REFERENCE the ANN recall gates
    * (AnnRecallSuite) measure against — this op puts that reference's
    * metrics on the graded scoreboard.
    *
    * Scale shape: anchors are a fixed |corpus|/50 probe panel
    * broadcast against one corpus scan (the hard-negatives plan); the
    * rank window keys per anchor. At 100 TB the same evaluation runs
    * over an ANN shortlist instead of the full scan — the metrics
    * pipeline is unchanged.
    */
  val llmRetrievalMrr: Op = Op(
    "llm_retrieval_mrr",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), col("embedding").as("v"))
      val anchors = e.filter(isProbe)
        .select(col("vec_id").as("a_id"), col("label").as("a_label"),
          col("v").as("av"))
      e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("a_id"))
        .select(col("a_id"), col("a_label"), col("vec_id").as("n_id"),
          round(expr("graft_cosine(av, v)"), 6).as("sim"),
          (col("label") === col("a_label")).cast(LongType).as("rel"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("a_id").orderBy(col("sim").desc, col("n_id"))))
        .groupBy("a_id", "a_label")
        .agg(sum("rel").as("n_relevant"),
          min(when(col("rel") === 1, col("rnk"))).as("first_rel_rank"),
          sum(when(col("rnk") <= 10, col("rel")).otherwise(0L)).as("rel10"))
        .select(col("a_id"), col("a_label"), col("n_relevant"),
          col("first_rel_rank").cast(LongType).as("first_rel_rank"),
          round(lit(1.0) / col("first_rel_rank"), 6).as("rr"),
          round(col("rel10").cast(DoubleType) / 10, 6).as("p_at_10"),
          round(col("rel10").cast(DoubleType) / col("n_relevant"), 6)
            .as("r_at_10"))
        .orderBy("a_id")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), a AS (
        SELECT vec_id AS a_id, label AS a_label, v AS av
        FROM e WHERE ${probeSql("")}
      ), sims AS (
        SELECT a_id, a_label, vec_id AS n_id,
          ROUND(${cosSql("av", "v")}, 6) AS sim,
          CASE WHEN label = a_label THEN 1 ELSE 0 END AS rel
        FROM a, e WHERE vec_id != a_id
      ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY a_id
          ORDER BY sim DESC, n_id) AS rnk
        FROM sims
      ), agg AS (
        SELECT a_id, a_label,
          CAST(SUM(rel) AS BIGINT) AS n_relevant,
          CAST(MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT) AS first_rel_rank,
          CAST(SUM(CASE WHEN rnk <= 10 THEN rel ELSE 0 END) AS BIGINT) AS rel10
        FROM ranked GROUP BY a_id, a_label
      )
      SELECT a_id, a_label, n_relevant, first_rel_rank,
        ROUND(1.0 / first_rel_rank, 6) AS rr,
        ROUND(CAST(rel10 AS DOUBLE) / 10, 6) AS p_at_10,
        ROUND(CAST(rel10 AS DOUBLE) / n_relevant, 6) AS r_at_10
      FROM agg ORDER BY a_id
    """.stripMargin.trim))

  val llmHardNegatives: Op = Op(
    "llm_hard_negatives",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), col("embedding").as("v"))
      val anchors = e.filter(isProbe)
        .select(col("vec_id").as("a_id"), col("label").as("a_label"),
          col("v").as("av"))
      val sims = e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("a_id"))
        .select(col("a_id"), col("a_label"), col("vec_id").as("n_id"),
          col("label"), round(expr("graft_cosine(av, v)"), 6).as("sim"))
      val pos = sims.filter(col("label") === col("a_label"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("a_id").orderBy(col("sim").asc, col("n_id"))))
        .filter(col("rnk") === 1)
        .withColumn("role", lit("hard_pos"))
      val neg = sims.filter(col("label") =!= col("a_label"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("a_id").orderBy(col("sim").desc, col("n_id"))))
        .filter(col("rnk") <= 3)
        .withColumn("role", lit("hard_neg"))
      pos.unionByName(neg)
        .select(col("a_id"), col("role"), col("rnk"), col("n_id"), col("sim"))
        .orderBy("a_id", "role", "rnk")
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ), a AS (
        SELECT vec_id AS a_id, label AS a_label, v AS av
        FROM e WHERE ${probeSql("")}
      ), sims AS (
        SELECT a_id, a_label, vec_id AS n_id, label,
          ROUND(${cosSql("av", "v")}, 6) AS sim
        FROM a, e WHERE vec_id != a_id
      ), pos AS (
        SELECT a_id, 'hard_pos' AS role, CAST(rnk AS INT) AS rnk, n_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY a_id
            ORDER BY sim ASC, n_id) AS rnk
          FROM sims WHERE label = a_label)
        WHERE rnk = 1
      ), neg AS (
        SELECT a_id, 'hard_neg' AS role, CAST(rnk AS INT) AS rnk, n_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY a_id
            ORDER BY sim DESC, n_id) AS rnk
          FROM sims WHERE label != a_label)
        WHERE rnk <= 3
      )
      SELECT a_id, role, rnk, n_id, sim FROM pos
      UNION ALL SELECT a_id, role, rnk, n_id, sim FROM neg
      ORDER BY a_id, role, rnk
    """.stripMargin.trim))

  /** Dataset card — the governance artifact every published training
    * corpus ships (per-slice composition + quality stats): for each
    * (source, lang) slice, document count, corpus share, whitespace-token
    * totals, char-length mean/median, and the exact-duplicate rate
    * (1 − distinct normalized fingerprints / docs — the SAME normFp the
    * dedup family keys on, so card and dedup verdicts can't drift).
    * Median is exact interpolated percentile (both engines define
    * quantile_cont identically; surfaced rounded).
    *
    * Scale shape: ONE corpus scan → per-slice partial aggregates; the
    * fingerprint distinct is the only re-keyed pass and shuffles the
    * 32-byte hash, never the text. Slice count is bounded
    * (sources × langs), so the card itself is dimension-sized. The
    * corpus-share divisor rides back as a broadcast 1-row total (the
    * in-plan-N pattern).
    */
  val llmDatasetCard: Op = Op(
    "llm_dataset_card",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("lang"), col("n_chars"),
          size(toks).as("n_toks"), normFp.as("fp"))
      val card = d.groupBy("source", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast(LongType)).as("n_tokens"),
        round(avg(col("n_chars").cast(DoubleType)), 4).as("avg_chars"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
        countDistinct(col("fp")).as("n_uniq"))
      val tot = d.agg(count(lit(1)).as("n_total"))
      card.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"),
          round(col("n_docs").cast(DoubleType) / col("n_total"), 6).as("share"),
          col("n_tokens"), col("avg_chars"), col("p50_chars"),
          round(lit(1.0) - col("n_uniq").cast(DoubleType) / col("n_docs"), 6)
            .as("dup_rate"))
        .orderBy("source", "lang")
    },
    Some("""
      WITH d AS (
        SELECT source, lang, n_chars,
          len(string_split(text, ' ')) AS n_toks,
          sha256(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp
        FROM documents
      ), card AS (
        SELECT source, lang, COUNT(*) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
          ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
          ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
          COUNT(DISTINCT fp) AS n_uniq
        FROM d GROUP BY 1, 2
      )
      SELECT source, lang, n_docs,
        ROUND(CAST(n_docs AS DOUBLE) / (SELECT COUNT(*) FROM d), 6) AS share,
        n_tokens, avg_chars, p50_chars,
        ROUND(1.0 - CAST(n_uniq AS DOUBLE) / n_docs, 6) AS dup_rate
      FROM card ORDER BY source, lang
    """.stripMargin.trim))

  /** BM25 retrieval scoring — the lexical-retrieval standard behind
    * RAG indexing, eval-set mining, and retrieval-based dedup
    * (Okapi BM25, k1=1.2, b=0.75): probe queries are the distinct
    * terms of docs ∤ 100 (the simsearch probe convention), every other
    * doc scores Σ_{t∈q∩d} idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * with idf = ln(1+(N−df+.5)/(df+.5)), top-5 per query. All inputs
    * are exact integers (tf, df, dl, N) through the IDENTICAL double
    * expression tree in both engines; the per-(query,doc) term-sum is
    * the one order-sensitive fold, absorbed by the 6-dp round (the
    * llm_ngram_logprob precedent), and ranks read the ROUNDED score
    * with doc-id tie pins.
    *
    * Scale shape: ONE corpus scan builds the (doc, term, tf) table
    * (checkpointed — df, length, and scoring all consume it); scoring
    * joins candidates BY TERM (only docs sharing a query term ever
    * pair — the inverted-index shape, never doc×doc), then co-keyed
    * joins pull df/length; the probe set is a bounded batch per pass
    * exactly like the ANN probes.
    */
  val llmBm25Retrieval: Op = Op(
    "llm_bm25_retrieval",
    (s, dir) => {
      // r22 (guide §2.4): dl is folded into the checkpointed tf frame by
      // a doc_id window that rides the spreadDocs hash(doc_id)
      // partitioning (no new exchange), so the separate len frame — and
      // with it the doc-CARDINALITY lenN broadcast join plus two
      // duplicated len→stats aggregate subtrees the r21 plan still
      // carried — disappears. At 100 TB a per-doc-length broadcast is
      // not viable; carrying dl on the tf row is.
      val tf = spreadDocs(s, dir)
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
        .localCheckpoint(true)
      val stats = tf.groupBy("doc_id").agg(max("dl").as("dl"))
        .agg(count(lit(1)).as("nd"),
          avg(col("dl").cast(DoubleType)).as("avgdl"))
      // r21 (guide §2.3): idf is a TERM attribute — fold the 1-row
      // stats into the term dimension ONCE instead of cross-joining
      // stats onto every candidate row. Each double expression keeps
      // the oracle's exact association (idf first, then ·(tf·2.2), then
      // /(tf + denom)), so the values are bit-identical; only WHERE
      // they are computed moves. avgdl rides the same broadcast row so
      // the per-candidate denom needs no extra join.
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(stats))
        .select(col("term"),
          log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5))
            .as("idf"),
          col("avgdl"))
      val q = tf.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("q_id"), col("term"))
      // q and dft grow with the corpus: no broadcast hint, the planner
      // (AQE included) picks the join from their sizes
      val scores = tf.join(q, "term")
        .filter(col("doc_id") =!= col("q_id"))
        .join(dft, "term")
        .select(col("q_id"), col("doc_id"),
          (col("idf") * (col("tf") * 2.2) /
            (col("tf") +
              (lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
            .as("part"))
        .groupBy("q_id", "doc_id")
        .agg(round(sum("part"), 6).as("bm25"))
      scores.withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("bm25").desc, col("doc_id"))))
        .filter(col("rn") <= 5)
        .orderBy("q_id", "rn")
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY 1, 2
      ), len AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
      ), stats AS (
        SELECT COUNT(*) AS nd, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM len
      ), dft AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
      ), q AS (
        SELECT doc_id AS q_id, term FROM tf WHERE doc_id % 100 = 0
      ), parts AS (
        SELECT q.q_id, tf.doc_id,
          LN(1 + (s.nd - d.df + 0.5) / (d.df + 0.5)) * (tf.tf * 2.2) /
            (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS part
        FROM tf JOIN q USING (term) JOIN dft d USING (term)
          JOIN len l ON l.doc_id = tf.doc_id CROSS JOIN stats s
        WHERE tf.doc_id != q.q_id
      ), sc AS (
        SELECT q_id, doc_id, ROUND(SUM(part), 6) AS bm25
        FROM parts GROUP BY 1, 2
      )
      SELECT q_id, doc_id, bm25, CAST(rn AS INT) AS rn FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY bm25 DESC, doc_id) AS rn FROM sc)
      WHERE rn <= 5 ORDER BY q_id, rn
    """.stripMargin.trim))

  /** Embedding-population drift monitor — the ML-ops check every
    * embedding pipeline schedules between snapshot versions (model
    * refresh, re-crawl, encoder upgrade): split the table into a
    * reference and a current population (vec_id parity — a
    * deterministic stand-in for two snapshot dates), then per label
    * report sizes, the cosine between the two MEAN vectors (semantic
    * drift direction) and the mean-norm ratio (magnitude drift).
    * Per-dimension means fold identical doubles in both engines
    * (float→double is exact); the only order-sensitive folds (the avg
    * and the 64-term dot) sit under the 6-dp round (ngram_logprob
    * precedent).
    *
    * Scale shape: ONE scan explodes E×64 (vec, dim) rows into a
    * partial+final average keyed (label, pop, dim) — output bounded by
    * labels × dims, not corpus size; everything after is
    * dimension-sized. The count pass is a second narrow scan of the
    * same parquet (column-pruned to 2 ints).
    */
  val llmEmbeddingDrift: Op = Op(
    "llm_embedding_drift",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val dims = e
        .select(col("label"), (col("vec_id") % 2).as("pop"),
          posexplode(col("embedding")))
        .select(col("label"), col("pop"), col("pos"),
          col("col").cast(DoubleType).as("v"))
      val means = dims.groupBy("label", "pop", "pos").agg(avg("v").as("m"))
      val ref = means.filter(col("pop") === 0)
        .select(col("label"), col("pos"), col("m").as("mr"))
      val cur = means.filter(col("pop") === 1)
        .select(col("label"), col("pos"), col("m").as("mc"))
      val drift = ref.join(cur, Seq("label", "pos"))
        .groupBy("label")
        .agg(sum(col("mr") * col("mc")).as("dot"),
          sum(col("mr") * col("mr")).as("nr"),
          sum(col("mc") * col("mc")).as("nc"))
      val counts = e.groupBy("label").agg(
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_cur"))
      counts.join(drift, "label")
        .select(col("label"), col("n_ref"), col("n_cur"),
          round(col("dot") / sqrt(col("nr") * col("nc")), 6).as("mean_cosine"),
          round(sqrt(col("nr")) / sqrt(col("nc")), 6).as("norm_ratio"))
        .orderBy("label")
    },
    Some("""
      WITH d AS (
        SELECT label, vec_id % 2 AS pop, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings,
          LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
      ), m AS (
        SELECT label, pop, i, AVG(v) AS m FROM d GROUP BY 1, 2, 3
      ), j AS (
        SELECT r.label, SUM(r.m * c.m) AS dot,
          SUM(r.m * r.m) AS nr, SUM(c.m * c.m) AS nc
        FROM m r JOIN m c
          ON r.label = c.label AND r.i = c.i AND r.pop = 0 AND c.pop = 1
        GROUP BY 1
      ), cnt AS (
        SELECT label,
          CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_ref,
          CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cur
        FROM embeddings GROUP BY 1
      )
      SELECT cnt.label, n_ref, n_cur,
        ROUND(dot / SQRT(nr * nc), 6) AS mean_cosine,
        ROUND(SQRT(nr) / SQRT(nc), 6) AS norm_ratio
      FROM cnt JOIN j ON cnt.label = j.label ORDER BY cnt.label
    """.stripMargin.trim))

  /** Readability scoring — Flesch Reading Ease and Flesch-Kincaid grade
    * per document, the classic curation signal between raw length stats
    * (`llm_text_stats`) and the weighted quality composites
    * (`llm_quality_score`): both formulas need a SYLLABLE estimate,
    * which neither neighbor computes. Syllables ≈ vowel-group runs per
    * word (`[aeiouy]+`, floor 1 — the standard heuristic), summed by an
    * integer in-row fold (order-free, exact). FIXTURE ADAPTATION
    * (documented): the synthetic corpus has no sentence punctuation, so
    * sentences are fixed 15-token pseudo-sentences (⌈words/15⌉) — the
    * formula's shape is exercised end-to-end; on punctuated text the
    * sentence term swaps in a `[.!?]+` count. The two scores are pure
    * double arithmetic on integer ratios with literal weights —
    * engine-identical without any decimal snap.
    *
    * Scale shape: scan → per-row project (the fold is in-row, no
    * explode), zero shuffles before the presentational sort.
    */
  val llmReadability: Op = Op(
    "llm_readability",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), col("lang"),
          size(col("tk")).cast(LongType).as("n_words"),
          expr("aggregate(transform(tk, w -> greatest(CAST(regexp_count(w," +
            " '[aeiouy]+') AS BIGINT), 1L)), 0L, (a, x) -> a + x)")
            .as("n_syllables"))
        .withColumn("n_sentences",
          ceil(col("n_words").cast(DoubleType) / 15.0).cast(LongType))
        .withColumn("wps",
          col("n_words").cast(DoubleType) / col("n_sentences"))
        .withColumn("spw",
          col("n_syllables").cast(DoubleType) / col("n_words"))
        .select(col("doc_id"), col("lang"), col("n_words"),
          col("n_syllables"), col("n_sentences"),
          round(lit(206.835) - lit(1.015) * col("wps")
            - lit(84.6) * col("spw"), 6).as("fre"),
          round(lit(0.39) * col("wps") + lit(11.8) * col("spw")
            - lit(15.59), 6).as("fk_grade"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
      ), c AS (
        SELECT doc_id, lang,
          CAST(len(tk) AS BIGINT) AS n_words,
          CAST(list_aggregate(list_transform(tk,
            w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)),
            'sum') AS BIGINT) AS n_syllables,
          CAST(ceil(CAST(len(tk) AS DOUBLE) / 15.0) AS BIGINT) AS n_sentences
        FROM d
      )
      SELECT doc_id, lang, n_words, n_syllables, n_sentences,
        ROUND(206.835
          - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
          - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS fre,
        ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
          + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
          - 15.59, 6) AS fk_grade
      FROM c ORDER BY doc_id
    """.stripMargin.trim))

  /** Gopher quality rules — the PUBLISHED rule set (Rae et al. 2021,
    * "Scaling Language Models", table A1) as per-document boolean gates,
    * next to the house generic gate (`llm_quality_filter`, ad-hoc
    * thresholds) and composite (`llm_quality_score`): word-count bounds
    * [50, 100 000], mean word length [3, 10], symbol-to-word ratio
    * ≤ 0.1 (#/ellipsis), ≥ 80 % of words alphabetic, and the stopword
    * containment rule. FIXTURE ADAPTATIONS (documented): the corpus'
    * only function words are {the, a}, so the published stop list
    * {the, be, to, of, and, that, have, with} is swapped for {the, a}
    * (≥ 2 distinct hits ⇒ both); symbol and alpha ratios run the real
    * regexes and are honestly ~0 / ~1 on this clean fixture (the
    * quality_score punctuation precedent). All features are integer
    * counts; ratios are single double divisions rounded at emission.
    *
    * Scale shape: scan → per-row project with in-row folds; the only
    * shuffle is the presentational sort. At 100 TB this is the
    * map-only pre-filter it is in the published pipeline.
    */
  /** IN-ENGINE CLASSIFIER TRAINING — logistic regression by IRLS
    * (iteratively reweighted least squares, the GLM Newton method;
    * McCullagh & Nelder 1989), the SUPERVISED member the curation
    * family lacked: llm_quality_score/_gopher apply FIXED heuristics,
    * this TRAINS the fastText-style linear quality scorer a production
    * pipeline fits on labeled seed data and then applies at corpus
    * scale. Model: P(y=1|x) = σ(β₀ + β₁x) with x = chars/100; the
    * label is a synthetic stand-in (doc_id % 3 — non-separable by
    * construction, so IRLS cannot diverge; the MECHANISM is the graded
    * subject, the label column is the plug point for real seed
    * labels, exactly the agg_dp_laplace convention). Five Newton
    * steps from β = 0, each: per-row η, μ = σ(η), weight w = μ(1−μ),
    * working response z = η + (y−μ)/w, then the 2×2 normal equations
    * solved in closed form. Converges at step 3 on the fixture
    * (gradient exactly 0, checked against an independent Python IRLS).
    *
    * Portability: each per-row term (w, wx, wx², wz, wzx) is ONE
    * double expression rounded at 8 dp into an exact DECIMAL(28,8)
    * sum (the chisq treatment — partial-agg order cannot fork it);
    * the β update is the identical closed-form double expression on
    * both sides; exp rides the ln/exp-agreement precedent; the final
    * emission rounds at 6 dp. Output: n, β₀, β₁, and the threshold-0.5
    * training accuracy (an exact integer count ratio).
    *
    * Scale shape: the feature frame is materialized once; each IRLS
    * step is ONE partial+final aggregate to five decimal cells (the
    * textbook distributed-GLM profile — d×d normal equations with
    * d = 2, driver state two doubles, the dimension-bounded class);
    * the accuracy pass is one more aggregate. At 100 TB: cache the
    * features, pay 6 scans, ship 5 tiny rows per step.
    */
  val llmQualityLogreg: Op = Op(
    "llm_quality_logreg",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(when(col("doc_id") % 3 === 0, 1.0).otherwise(0.0).as("y"),
          (length(col("text")) / lit(100.0)).as("x"))
        .localCheckpoint(true) // 5 IRLS passes + the accuracy pass
      var b0 = 0.0
      var b1 = 0.0
      for (_ <- 1 to 5) {
        val t = d
          .withColumn("eta", lit(b0) + lit(b1) * col("x"))
          .withColumn("mu", lit(1.0) / (lit(1.0) + exp(-col("eta"))))
          .withColumn("w", col("mu") * (lit(1.0) - col("mu")))
          .withColumn("z", col("eta") + (col("y") - col("mu")) / col("w"))
          .agg(
            sum(expr("cast(round(w, 8) as decimal(28,8))")).as("a11"),
            sum(expr("cast(round(w * x, 8) as decimal(28,8))")).as("a12"),
            sum(expr("cast(round(w * x * x, 8) as decimal(28,8))")).as("a22"),
            sum(expr("cast(round(w * z, 8) as decimal(28,8))")).as("c1"),
            sum(expr("cast(round(w * z * x, 8) as decimal(28,8))")).as("c2"))
          .head()
        val a11 = t.getDecimal(0).doubleValue
        val a12 = t.getDecimal(1).doubleValue
        val a22 = t.getDecimal(2).doubleValue
        val c1 = t.getDecimal(3).doubleValue
        val c2 = t.getDecimal(4).doubleValue
        // the EXACT expression shapes the oracle CTE computes — operand
        // order matters for bit-identity
        b0 = (a22 * c1 - a12 * c2) / (a11 * a22 - a12 * a12)
        b1 = (a11 * c2 - a12 * c1) / (a11 * a22 - a12 * a12)
      }
      val acc = d.agg(count(lit(1)).as("n"),
        sum(when((lit(b0) + lit(b1) * col("x") > 0) === (col("y") === 1.0),
          1L).otherwise(0L)).as("correct")).head()
      import s.implicits._
      Seq((acc.getLong(0), b0, b1, acc.getLong(1)))
        .toDF("n", "b0r", "b1r", "correct")
        .select(col("n"), round(col("b0r"), 6).as("beta0"),
          round(col("b1r"), 6).as("beta1"),
          round(col("correct").cast(DoubleType) / col("n"), 6)
            .as("acc_at_half"))
    },
    Some {
      val iters = (1 to 5).map { k =>
        s"""it$k AS (
        SELECT (CAST(a22 AS DOUBLE) * CAST(c1 AS DOUBLE)
                 - CAST(a12 AS DOUBLE) * CAST(c2 AS DOUBLE))
               / (CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
                 - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE)) AS b0,
               (CAST(a11 AS DOUBLE) * CAST(c2 AS DOUBLE)
                 - CAST(a12 AS DOUBLE) * CAST(c1 AS DOUBLE))
               / (CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
                 - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE)) AS b1
        FROM (
          SELECT
            SUM(CAST(round(w, 8) AS DECIMAL(28,8))) AS a11,
            SUM(CAST(round(w * x, 8) AS DECIMAL(28,8))) AS a12,
            SUM(CAST(round(w * x * x, 8) AS DECIMAL(28,8))) AS a22,
            SUM(CAST(round(w * z, 8) AS DECIMAL(28,8))) AS c1,
            SUM(CAST(round(w * z * x, 8) AS DECIMAL(28,8))) AS c2
          FROM (
            SELECT w, x, eta + (y - mu) / w AS z FROM (
              SELECT y, x, eta, mu, mu * (1.0 - mu) AS w FROM (
                SELECT y, x, eta, 1.0 / (1.0 + exp(-eta)) AS mu FROM (
                  SELECT y, x, p.b0 + p.b1 * x AS eta FROM d, it${k - 1} p)))))
      )"""
      }.mkString(", ")
      s"""
      WITH d AS MATERIALIZED (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y,
          length(text) / 100.0 AS x
        FROM documents
      ), it0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1),
      $iters,
      acc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN (p.b0 + p.b1 * x > 0) = (y = 1.0)
            THEN 1 ELSE 0 END) AS BIGINT) AS correct
        FROM d, it5 p
      )
      SELECT acc.n, ROUND(p.b0, 6) AS beta0, ROUND(p.b1, 6) AS beta1,
        ROUND(CAST(acc.correct AS DOUBLE) / acc.n, 6) AS acc_at_half
      FROM it5 p, acc
    """.stripMargin.trim
    })

  val llmQualityGopher: Op = Op(
    "llm_quality_gopher",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"),
          col("text"))
        .select(col("doc_id"),
          size(col("tk")).cast(LongType).as("n_words"),
          expr("aggregate(transform(tk, w -> CAST(length(w) AS BIGINT))," +
            " 0L, (a, x) -> a + x)").as("n_chars"),
          expr("aggregate(transform(tk, w -> IF(w rlike '[a-z]', 1L, 0L))," +
            " 0L, (a, x) -> a + x)").as("n_alpha_words"),
          (regexp_count(col("text"), lit("#")) +
            regexp_count(col("text"), lit("\\.\\.\\.")))
            .cast(LongType).as("n_symbols"),
          (when(col("text").rlike("(^| )the( |$)"), 1L).otherwise(0L) +
            when(col("text").rlike("(^| )a( |$)"), 1L).otherwise(0L))
            .as("n_stop_hits"))
        .withColumn("mean_word_len",
          round(col("n_chars").cast(DoubleType) / col("n_words"), 6))
        .withColumn("symbol_ratio",
          round(col("n_symbols").cast(DoubleType) / col("n_words"), 6))
        .withColumn("alpha_ratio",
          round(col("n_alpha_words").cast(DoubleType) / col("n_words"), 6))
        .withColumn("g_word_count",
          (col("n_words") >= 50 && col("n_words") <= 100000L)
            .cast(LongType))
        .withColumn("g_word_len",
          (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
            .cast(LongType))
        .withColumn("g_symbol", (col("symbol_ratio") <= 0.1).cast(LongType))
        .withColumn("g_alpha", (col("alpha_ratio") >= 0.8).cast(LongType))
        .withColumn("g_stop", (col("n_stop_hits") >= 2).cast(LongType))
        .withColumn("gopher_pass",
          (col("g_word_count") + col("g_word_len") + col("g_symbol") +
            col("g_alpha") + col("g_stop") === 5L).cast(LongType))
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
          "alpha_ratio", "n_stop_hits", "g_word_count", "g_word_len",
          "g_symbol", "g_alpha", "g_stop", "gopher_pass")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents
      ), f AS (
        SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_words,
          CAST(list_aggregate(list_transform(tk, w -> len(w)), 'sum')
            AS BIGINT) AS n_chars,
          CAST(list_aggregate(list_transform(tk,
            w -> CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END),
            'sum') AS BIGINT) AS n_alpha_words,
          CAST(len(regexp_extract_all(text, '#'))
            + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT)
            AS n_symbols,
          CAST(CASE WHEN regexp_matches(text, '(^| )the( |$)')
                    THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(text, '(^| )a( |$)')
                   THEN 1 ELSE 0 END AS BIGINT) AS n_stop_hits
        FROM d
      ), g AS (
        SELECT *,
          ROUND(CAST(n_chars AS DOUBLE) / n_words, 6) AS mean_word_len,
          ROUND(CAST(n_symbols AS DOUBLE) / n_words, 6) AS symbol_ratio,
          ROUND(CAST(n_alpha_words AS DOUBLE) / n_words, 6) AS alpha_ratio
        FROM f
      ), h AS (
        SELECT *,
          CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
               THEN 1 ELSE 0 END AS BIGINT) AS g_word_count,
          CAST(CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
               THEN 1 ELSE 0 END AS BIGINT) AS g_word_len,
          CAST(CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS BIGINT)
            AS g_symbol,
          CAST(CASE WHEN alpha_ratio >= 0.8 THEN 1 ELSE 0 END AS BIGINT)
            AS g_alpha,
          CAST(CASE WHEN n_stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT)
            AS g_stop
        FROM g
      )
      SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
        n_stop_hits, g_word_count, g_word_len, g_symbol, g_alpha, g_stop,
        CAST(CASE WHEN g_word_count + g_word_len + g_symbol + g_alpha
             + g_stop = 5 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
      FROM h ORDER BY doc_id
    """.stripMargin.trim))

  /** Boilerplate stripping — the C4 line-dedup stage (Raffel et al.
    * 2020): any text segment occurring more than once across the corpus
    * keeps exactly its FIRST occurrence (smallest (doc_id, position))
    * and is stripped everywhere else, and each document is REASSEMBLED
    * from its surviving segments. The sibling `llm_dedup_spans` FLAGS
    * chunk duplication for scoring; this op performs the destructive
    * keep-first rewrite the published pipeline actually ships training
    * text through. Segments are fixed 8-token windows standing in for
    * lines (the fixture has no newlines); first-occurrence election is
    * `row_number() = 1` per segment fingerprint under the total
    * (doc_id, idx) order, so the rewrite is deterministic and
    * partition-invariant. Reassembly is the sorted in-row fold over
    * kept (idx, segment) structs; a fully-stripped doc survives as the
    * empty string (both engines md5('') identically).
    *
    * Scale shape: explode to segments (spreadDocs pre-spreads the
    * single-file scan), ONE exchange on the segment fingerprint for
    * the election window, ONE on doc_id for reassembly — the same
    * two-shuffle profile as the published dedup jobs; the fingerprint
    * key is max-cardinality so neither exchange skews.
    */
  val llmBoilerplateStrip: Op = Op(
    "llm_boilerplate_strip",
    (s, dir) => {
      val segs = spreadDocs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, cast(ceil(size(tk) / 8.0) as int) - 1)," +
            " i -> concat_ws(' ', slice(tk, i*8+1, 8)))")))
        .select(col("doc_id"), col("pos").as("idx"), col("col").as("seg"))
      val elected = segs
        .withColumn("keep",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("seg")))
            .orderBy("doc_id", "idx")) === 1).cast(LongType))
      elected.groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          (count(lit(1)) - sum(col("keep"))).as("n_removed"),
          sum(when(col("keep") === 1,
            size(split(col("seg"), " ")).cast(LongType)).otherwise(0L))
            .as("n_tokens_kept"),
          md5(concat_ws(" ", transform(array_sort(collect_list(
            when(col("keep") === 1, struct(col("idx"), col("seg"))))),
            x => x.getField("seg")))).as("cleaned_fp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      ), seg AS (
        SELECT doc_id, CAST((st - 1) // 8 AS INT) AS idx,
          array_to_string(tk[st:st+7], ' ') AS seg
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(tk), 8)) AS st)
      ), el AS (
        SELECT doc_id, idx, seg,
          CAST(CASE WHEN row_number() OVER (PARTITION BY md5(seg)
            ORDER BY doc_id, idx) = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM seg
      )
      SELECT doc_id, COUNT(*) AS n_segments,
        COUNT(*) - CAST(SUM(keep) AS BIGINT) AS n_removed,
        CAST(SUM(CASE WHEN keep = 1 THEN len(string_split(seg, ' '))
                 ELSE 0 END) AS BIGINT) AS n_tokens_kept,
        md5(coalesce(string_agg(CASE WHEN keep = 1 THEN seg END, ' '
          ORDER BY idx), '')) AS cleaned_fp
      FROM el GROUP BY doc_id ORDER BY doc_id
    """.stripMargin.trim))

  /** Zipf's-law fit — the corpus-health diagnostic every tokenizer/mix
    * decision leans on: per language, OLS slope of ln(frequency) on
    * ln(rank) over the top-200 terms (a healthy natural-language corpus
    * slopes ≈ −1; a template farm or dedup failure bends it). Ranks are
    * fully tie-broken (count desc, term asc), so the regression inputs
    * are identical sets in both engines. Float discipline is the house
    * log treatment: every transcendental TERM (ln, ln·ln products) is
    * rounded to 10 dp and summed as exact DECIMAL, and slope/intercept
    * are single closed-form double expressions over those exact sums,
    * rounded at emission — no order-dependent float fold anywhere.
    *
    * Scale shape: explode → partial+final count agg on (lang, term),
    * per-lang top-200 window over the already-aggregated (tiny) term
    * table, then a 5-row regression reduce. The only corpus-scale
    * stage is the first aggregate.
    */
  val llmZipfFit: Op = Op(
    "llm_zipf_fit",
    (s, dir) => {
      val terms = spreadDocs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      val ranked = terms
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")
            .orderBy(col("cnt").desc, col("term"))))
        .filter(col("rnk") <= 200)
        .select(col("lang"),
          expr("CAST(round(ln(rnk), 10) AS DECIMAL(18,10))").as("x"),
          expr("CAST(round(ln(cnt), 10) AS DECIMAL(18,10))").as("y"),
          expr("CAST(round(ln(rnk) * ln(cnt), 10) AS DECIMAL(18,10))").as("xy"),
          expr("CAST(round(ln(rnk) * ln(rnk), 10) AS DECIMAL(18,10))").as("xx"))
      ranked.groupBy("lang")
        .agg(count(lit(1)).as("n_terms"),
          // exact decimal sums surfaced as doubles BEFORE the closed
          // form: decimal×decimal would hit the engines' different
          // precision-overflow rules; double products of exact-valued
          // inputs are engine-identical
          sum("x").cast(DoubleType).as("sx"),
          sum("y").cast(DoubleType).as("sy"),
          sum("xy").cast(DoubleType).as("sxy"),
          sum("xx").cast(DoubleType).as("sxx"))
        .select(col("lang"), col("n_terms"),
          round((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6)
            .as("zipf_slope"),
          round((col("sy") * col("sxx") - col("sx") * col("sxy")) /
            (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6)
            .as("intercept"))
        .orderBy("lang")
    },
    Some("""
      WITH t AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
      ), c AS (
        SELECT lang, term, COUNT(*) AS cnt FROM t GROUP BY 1, 2
      ), r AS (
        SELECT lang, cnt,
          row_number() OVER (PARTITION BY lang
                             ORDER BY cnt DESC, term) AS rnk
        FROM c QUALIFY rnk <= 200
      ), z AS (
        SELECT lang,
          CAST(round(ln(rnk), 10) AS DECIMAL(18,10)) AS x,
          CAST(round(ln(cnt), 10) AS DECIMAL(18,10)) AS y,
          CAST(round(ln(rnk) * ln(cnt), 10) AS DECIMAL(18,10)) AS xy,
          CAST(round(ln(rnk) * ln(rnk), 10) AS DECIMAL(18,10)) AS xx
        FROM r
      ), sums AS (
        SELECT lang, COUNT(*) AS n_terms,
          CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
          CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx
        FROM z GROUP BY lang
      )
      SELECT lang, n_terms,
        ROUND((n_terms * sxy - sx * sy)
          / (n_terms * sxx - sx * sx), 6) AS zipf_slope,
        ROUND((sy * sxx - sx * sxy)
          / (n_terms * sxx - sx * sx), 6) AS intercept
      FROM sums ORDER BY lang
    """.stripMargin.trim))

  /** TextRank keyword extraction — the GRAPH member of the salience
    * family (RAKE = phrase statistics, TF-IDF = frequency contrast,
    * PMI = pair association): PageRank (d = 0.85, 10 fixed iterations)
    * over the per-language word co-occurrence graph (adjacent-token
    * pairs, self-loops dropped, symmetrized), Mihalcea & Tarau 2004.
    * Numerically every iteration is EXACT AND ROUND-FREE: each edge
    * contribution r·w/wdeg is one double expression snapped by
    * `floor(x·1e10)` to an INTEGER tenth-of-nano unit (floor of an
    * identical double is identical — unlike `round(double, n)`, whose
    * half-way handling the two engines implement differently, which a
    * first cut of this op tripped at iteration depth), summed as exact
    * BIGINT, and the damped update 0.15 + 0.85·(S/1e10) is the same
    * IEEE expression on both sides — so the 10-step fixed point is
    * bit-identical in both engines and under any partitioning, and the
    * final ranks are emitted RAW (no emission rounding to disagree
    * on). The oracle unrolls the iteration as ten generated CTEs (the
    * markov_stationary precedent — DuckDB's recursive member cannot
    * aggregate).
    *
    * Scale shape: the corpus-scale work is ONE pair-generate (in-row
    * transform, no self-join) + partial+final count into the edge
    * list, all distributed; the 10 iterations then run DRIVER-LOCAL on
    * the collected edge list (the events_markov_stationary /
    * llm_embed_pca eigensolve shape, one scale up): the edge list is
    * bounded by the count of DISTINCT adjacent-token pair types —
    * Heaps-law sublinear in corpus size, ~4.6k rows at sf0.1 and
    * saturating toward the (bounded) vocabulary's co-occurrence
    * ceiling, never corpus-proportional — so the collect is the
    * adjudicated model-sized class, not a data-proportional one. The
    * earlier form ran each iteration as a broadcast-hash join +
    * checkpoint over that same tiny table: correct, but 10 eager
    * vocab-sized Spark jobs cost 3.1 s warm where the identical
    * integer arithmetic costs ~0 driver-local (r19 verdict #4), and
    * the floor-snapped terms sum as order-free BIGINTs, so the driver
    * fold is bit-identical to both the old plan and the oracle's CTE
    * chain.
    */
  val llmKeywordTextrank: Op = Op(
    "llm_keyword_textrank",
    (s, dir) => {
      val undirected = spreadDocs(s, dir)
        .select(col("lang"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("lang"), explode(expr(
          "filter(transform(sequence(0, size(tk) - 2)," +
            " i -> struct(least(tk[i], tk[i+1]) AS u," +
            " greatest(tk[i], tk[i+1]) AS v)), p -> p.u <> p.v)")).as("e"))
        .groupBy(col("lang"), col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("w"))
      val directed = undirected
        .unionByName(undirected.select(col("lang"), col("v").as("u"),
          col("u").as("v"), col("w")))
      val wdeg = directed.groupBy("lang", "u")
        .agg(sum("w").as("wdeg"))
      // distinct-bigram-type-bounded collect (~4.6k rows at sf0.1):
      // (lang, u, v, w, wdeg)
      val edges = directed.join(wdeg, Seq("lang", "u")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4)))
      var ranks: Map[(String, String), Double] =
        edges.map(e => ((e._1, e._2), 1.0)).toMap
      for (_ <- 1 to 10) {
        val acc = scala.collection.mutable.HashMap.empty[(String, String), Long]
        edges.foreach { case (lang, u, v, w, wd) =>
          ranks.get((lang, u)).foreach { rv =>
            // the same left-assoc IEEE expression the old plan and the
            // oracle evaluate: floor of an identical double is
            // identical, and the BIGINT partials sum order-free
            val term = math.floor(rv * w / wd * 1e10).toLong
            val k = (lang, v)
            acc(k) = acc.getOrElse(k, 0L) + term
          }
        }
        ranks = acc.iterator.map { case (k, sm) =>
          k -> (0.15 + 0.85 * (sm.toDouble / 1e10))
        }.toMap
      }
      val top = ranks.toSeq
        .map { case ((lang, word), rv) => (lang, word, rv) }
        .groupBy(_._1).toSeq.flatMap { case (lang, g) =>
          g.sortBy { case (_, word, rv) => (-rv, word) }.take(10)
            .zipWithIndex
            .map { case ((_, word, rv), i) => (lang, (i + 1).toLong, word, rv) }
        }.sortBy(t => (t._1, t._2))
      import s.implicits._
      top.toDF("lang", "pos", "word", "textrank")
        .orderBy("lang", "pos")
    },
    Some {
      val iters = (1 to 10).map { k =>
        s"""it$k AS (
        SELECT e2.lang, e2.v AS word,
          0.15 + 0.85 * (CAST(SUM(CAST(floor(p.r * e2.w / e2.wdeg * 1e10)
            AS BIGINT)) AS DOUBLE) / 1e10) AS r
        FROM e2 JOIN it${k - 1} p ON e2.lang = p.lang AND e2.u = p.word
        GROUP BY e2.lang, e2.v
      )"""
      }.mkString(", ")
      s"""
      WITH d AS (
        SELECT lang, string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      ), pr AS (
        SELECT lang, least(tk[i], tk[i+1]) AS u, greatest(tk[i], tk[i+1]) AS v
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)
        WHERE tk[i] <> tk[i+1]
      ), eu AS (
        SELECT lang, u, v, COUNT(*) AS w FROM pr GROUP BY 1, 2, 3
      ), ed AS (
        SELECT lang, u, v, w FROM eu
        UNION ALL
        SELECT lang, v AS u, u AS v, w FROM eu
      ), wd AS (
        SELECT lang, u, SUM(w) AS wdeg FROM ed GROUP BY 1, 2
      ), e2 AS (
        SELECT ed.lang, ed.u, ed.v, ed.w, wd.wdeg
        FROM ed JOIN wd ON ed.lang = wd.lang AND ed.u = wd.u
      ), it0 AS (
        SELECT lang, u AS word, CAST(1.0 AS DOUBLE) AS r FROM wd
      ), $iters
      SELECT lang, CAST(pos AS BIGINT) AS pos, word, r AS textrank
      FROM (SELECT *, row_number() OVER (PARTITION BY lang
              ORDER BY r DESC, word) AS pos FROM it10)
      WHERE pos <= 10 ORDER BY lang, pos
    """.stripMargin.trim
    })

  /** PCA leading component — power iteration on the embedding scatter
    * matrix, the eigen-analysis every embedding-space diagnostic
    * (whitening, anisotropy checks, drift monitors) starts from, and
    * the second iterative-numerics op alongside TextRank: center the
    * 64-dim vectors, form the scatter matrix S = Σ (x−μ)(x−μ)ᵀ, run 8
    * power iterations v ← S·v / ‖S·v‖ from the uniform start, emit the
    * leading eigenvector with the final ‖S·v‖ as the eigenvalue
    * estimate. EVERY order-sensitive fold is floor-snapped (the
    * textrank discipline): per-element means, scatter entries,
    * matvec components, and the squared norm each sum
    * `floor(term·1e9)` BIGINTs exactly, and everything between snaps
    * is single double expressions — so 8 iterations of float linear
    * algebra land bit-identical in both engines and under any
    * partitioning. The eigenvector's sign is whatever the uniform
    * start converges to — deterministic, since both engines run the
    * identical arithmetic. The oracle unrolls 8 (matvec, norm) CTE
    * pairs, generated like textrank's.
    *
    * Scale shape: MLlib's own architecture for d ≪ n —
    * `RowMatrix.computePrincipalComponents` ships the d×d Gramian to
    * the driver and eigensolves locally (documented for d ≤ 65535).
    * Here likewise: the corpus-scale stages are the mean (one 64-row
    * agg) and the scatter (explode to (row, j, k) terms → partial+
    * final agg into 64×64 = 4 096 cells), both distributed; the 8
    * power iterations then run on the COLLECTED matrix-sized Gramian
    * in driver-local Scala (the adjudicated metadata-sized collect
    * class — 4 096 cells regardless of corpus size), with the SAME
    * floor-snap formulas, whose integer sums are order-free, so the
    * driver loop and the oracle's CTE chain are bit-identical. A
    * first cut iterated as 8 chained broadcast-join DataFrames:
    * correct, but each iteration's broadcast re-evaluated the growing
    * lineage (22 s for a 64-dim problem) — the driver eigensolve is
    * the architecture Spark itself ships for this shape.
    */
  /** Centered coordinates (vec_id, j, c) — shared by the pca eigensolve
    * and the whitening projection so the snap chain cannot fork.
    */
  private def pcaCentered(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("j"),
        col("col").cast(DoubleType).as("x"))
    val nDf = Tables.embeddings(s, dir).agg(count(lit(1)).as("n"))
    val mu = x.groupBy("j")
      .agg(sum(floor(col("x") * lit(1e9))).cast(DoubleType).as("sx"))
      .crossJoin(broadcast(nDf))
      .select(col("j"), (col("sx") / col("n") / lit(1e9)).as("mu"))
    x.join(broadcast(mu), Seq("j"))
      .select(col("vec_id"), col("j"), (col("x") - col("mu")).as("c"))
  }

  /** Driver-local eigensolve on the collected 64×64 Gramian (the MLlib
    * computePrincipalComponents shape); formulas mirror the oracle CTEs
    * exactly — integer floor-snap sums are order-free. Returns the
    * leading eigenvector and the final ‖S·v‖ eigenvalue estimate.
    */
  private def pcaEigen(c: DataFrame): (Array[Double], Double) = {
    val scatter = c.join(c.select(col("vec_id"),
        col("j").as("k"), col("c").as("ck")), Seq("vec_id"))
      .groupBy("j", "k")
      .agg((sum(floor(col("c") * col("ck") * lit(1e9)))
        .cast(DoubleType) / lit(1e9)).as("s"))
    val cells = scatter.collect()
    val d = cells.map(_.getInt(0)).max + 1
    val m = Array.ofDim[Double](d, d)
    cells.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    var v = Array.fill(d)(0.125)
    var lam = 0.0
    for (_ <- 1 to 8) {
      val w = Array.tabulate(d) { j =>
        var acc = 0L
        var k = 0
        while (k < d) { acc += math.floor(m(j)(k) * v(k) * 1e9).toLong; k += 1 }
        acc.toDouble / 1e9
      }
      lam = math.sqrt(
        w.map(x => math.floor(x * x * 1e9).toLong).sum.toDouble / 1e9)
      v = w.map(_ / lam)
    }
    (v, lam)
  }

  val llmEmbedPca: Op = Op(
    "llm_embed_pca",
    (s, dir) => {
      val (v, lam) = pcaEigen(pcaCentered(s, dir))
      import s.implicits._
      v.zipWithIndex
        .map { case (l, j) => (j.toLong, l, lam) }.toSeq
        .toDF("dim", "loading", "eigenvalue")
        .orderBy("dim")
    },
    Some(s"""$pcaOracleCtes
      SELECT CAST(v8.j AS BIGINT) AS dim, v8.v AS loading,
        nrm8.lam AS eigenvalue
      FROM v8, nrm8 ORDER BY dim
    """.stripMargin.trim))

  /** The pca fit chain as a shared oracle prefix (x → mu → c → scatter
    * → 8 unrolled matvec/norm CTE pairs ending v8/nrm8) — consumed by
    * llm_embed_pca and llm_embed_whiten verbatim. AS MATERIALIZED on
    * every iteration CTE: wK is referenced twice (matvec + norm), so
    * without it DuckDB's inlining doubles the expression tree per
    * iteration — 2^8 scatter recomputes turned a 0.1 s oracle into
    * minutes (markov's linear it-chain never hit this: each CTE there
    * is referenced exactly once).
    */
  private def pcaOracleCtes: String = {
    val iters = (1 to 8).map { k =>
      s"""w$k AS MATERIALIZED (
        SELECT sc.j,
          CAST(SUM(CAST(floor(sc.s * v.v * 1e9) AS BIGINT)) AS DOUBLE)
            / 1e9 AS w
        FROM sc JOIN v${k - 1} v ON sc.k = v.j
        GROUP BY sc.j
      ), nrm$k AS MATERIALIZED (
        SELECT sqrt(CAST(SUM(CAST(floor(w * w * 1e9) AS BIGINT))
          AS DOUBLE) / 1e9) AS lam FROM w$k
      ), v$k AS MATERIALIZED (
        SELECT w$k.j, w$k.w / nrm$k.lam AS v FROM w$k, nrm$k
      )"""
    }.mkString(", ")
    s"""
      WITH x AS (
        SELECT vec_id, i - 1 AS j, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings,
          LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
      ), nn AS (
        SELECT COUNT(*) AS n FROM embeddings
      ), mu AS (
        SELECT j, CAST(SUM(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE)
          / (SELECT n FROM nn) / 1e9 AS mu
        FROM x GROUP BY j
      ), c AS (
        SELECT x.vec_id, x.j, x.x - mu.mu AS c
        FROM x JOIN mu ON x.j = mu.j
      ), sc AS MATERIALIZED (
        SELECT a.j, b.j AS k,
          CAST(SUM(CAST(floor(a.c * b.c * 1e9) AS BIGINT)) AS DOUBLE)
            / 1e9 AS s
        FROM c a JOIN c b ON a.vec_id = b.vec_id
        GROUP BY a.j, b.j
      ), v0 AS (
        SELECT DISTINCT j, CAST(0.125 AS DOUBLE) AS v FROM sc
      ), $iters"""
  }

  /** PCA WHITENING — the projection consumer of the eigensolve (the
    * diagnostic llm_embed_pca's scaladoc names as what the fit is FOR):
    * every vector's leading principal coordinate pc1 = Σⱼ cⱼ·vⱼ over
    * its CENTERED coordinates, plus the scatter-normalized pc1_std =
    * pc1/√λ — the 1-D whitened embedding an anisotropy monitor
    * tracks. The matvec fold uses the IDENTICAL floor-snap form as the
    * power iterations (floor(c·v·1e9) BIGINT terms, exact sum, /1e9),
    * so the projection is partition-invariant and engine-identical by
    * the same argument; v and λ come from the driver eigensolve, whose
    * bit-equality with the oracle's v8/nrm8 the pca op's green hash
    * already proves, and ride into the plan as 64 double literals.
    *
    * Scale shape: one broadcast of the 64-vector + a per-row fold and
    * a vec_id-keyed partial+final aggregate — the corpus-scale stages
    * are the same centered scan pca makes; nothing new shuffles. The
    * full-chain oracle (fit CTEs + projection) hash-proves fit AND
    * apply end to end.
    */
  val llmEmbedWhiten: Op = Op(
    "llm_embed_whiten",
    (s, dir) => {
      // consumed by the scatter collect AND the projection: materialize
      val c = pcaCentered(s, dir).localCheckpoint(true)
      val (v, lam) = pcaEigen(c)
      val vArr = array(v.map(lit): _*)
      c.select(col("vec_id"),
          floor(col("c") * element_at(vArr, col("j") + 1) * lit(1e9))
            .cast(LongType).as("term"))
        .groupBy("vec_id")
        .agg((sum("term").cast(DoubleType) / lit(1e9)).as("coord"))
        .select(col("vec_id"), round(col("coord"), 6).as("pc1"),
          round(col("coord") / lit(math.sqrt(lam)), 6).as("pc1_std"))
        .orderBy("vec_id")
    },
    Some(s"""$pcaOracleCtes
      , proj AS (
        SELECT c.vec_id,
          CAST(SUM(CAST(floor(c.c * v8.v * 1e9) AS BIGINT)) AS DOUBLE)
            / 1e9 AS coord
        FROM c JOIN v8 ON v8.j = c.j
        GROUP BY c.vec_id
      )
      SELECT vec_id, ROUND(coord, 6) AS pc1,
        ROUND(coord / (SELECT sqrt(lam) FROM nrm8), 6) AS pc1_std
      FROM proj ORDER BY vec_id
    """.stripMargin.trim))

  /** Watermark detection — Kirchenbauer et al. 2023's greenlist test as
    * a corpus screen (the provenance question every training-data
    * pipeline now has to ask: is this text machine-generated by a
    * watermarking model?): token i is GREEN iff a hash of (prevtoken,
    * token) lands in the γ = 0.5 greenlist (here: md5 last hex digit
    * even — both engines produce identical md5 hex), and the detection
    * statistic is the one-proportion z-score z = (2g − n)/√n, > 4.0 ⇒
    * flagged. The z is a single double expression over two INTEGERS
    * (green count, scored count) — engine-identical without snapping;
    * the greenlist membership itself is exact string equality. First
    * token is unscored (no context); single-token docs emit z = 0 via
    * an explicit size(tk) >= 2 guard — Spark's sequence(1, 0) is the
    * DESCENDING [1, 0] (it would index tk[-1]/tk[size] and only reach 0
    * by null tolerance, erroring under ANSI array semantics), while
    * DuckDB's generate_series(2, 1) is empty; the IF makes both sides
    * compute the same empty fold by construction.
    *
    * Scale shape: scan → per-row in-row fold (the hash chain never
    * leaves the row), zero pre-sort shuffles — the map-only screen
    * shape, same as the published detector.
    */
  val llmWatermarkDetect: Op = Op(
    "llm_watermark_detect",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"),
          (size(col("tk")) - 1).cast(LongType).as("n_scored"),
          expr("IF(size(tk) < 2, 0L," +
            " aggregate(transform(sequence(1, size(tk) - 1)," +
            " i -> IF(substr(md5(concat(tk[i-1], ' ', tk[i])), 32, 1)" +
            " IN ('0','2','4','6','8','a','c','e'), 1L, 0L))," +
            " 0L, (a, x) -> a + x))").as("n_green"))
        .select(col("doc_id"), col("n_scored"), col("n_green"),
          when(col("n_scored") > 0,
            (lit(2) * col("n_green") - col("n_scored")).cast(DoubleType) /
              sqrt(col("n_scored").cast(DoubleType)))
            .otherwise(0.0).as("z_score"))
        .withColumn("watermarked", (col("z_score") > 4.0).cast(LongType))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      ), g AS (
        SELECT doc_id,
          CAST(len(tk) - 1 AS BIGINT) AS n_scored,
          CAST(coalesce(list_aggregate(list_transform(
            generate_series(2, len(tk)),
            i -> CASE WHEN substr(md5(tk[i-1] || ' ' || tk[i]), 32, 1)
                 IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE 0 END),
            'sum'), 0) AS BIGINT) AS n_green
        FROM d
      ), z AS (
        SELECT doc_id, n_scored, n_green,
          CASE WHEN n_scored > 0 THEN
            CAST(2 * n_green - n_scored AS DOUBLE)
              / sqrt(CAST(n_scored AS DOUBLE))
          ELSE 0.0 END AS z_score
        FROM g
      )
      SELECT doc_id, n_scored, n_green, z_score,
        CAST(CASE WHEN z_score > 4.0 THEN 1 ELSE 0 END AS BIGINT)
          AS watermarked
      FROM z ORDER BY doc_id
    """.stripMargin.trim))

  /** Nucleus (top-p) cutoff — Holtzman et al. 2020's decoding statistic
    * turned corpus diagnostic: per bigram context, how many successors
    * carry the top 90 % of continuation mass? (The fat-head/long-tail
    * shape of this distribution is what temperature/top-p tuning reads;
    * a near-1 nucleus everywhere means a degenerate corpus.) The
    * cutoff is computed ENTIRELY in integers — successor ranks are
    * fully tie-broken (count desc, successor asc), and the first rank
    * where 10·cumulative ≥ 9·total is the nucleus size, so no float
    * exists anywhere in the op. Emits per context: successor count,
    * total continuations, nucleus size, and the modal successor.
    *
    * Scale shape: one corpus-scale bigram count (partial+final), then
    * windows over the per-context successor lists — keyed by context,
    * the vocabulary spreads the sort; the canonical distribution-
    * diagnostic profile.
    */
  val llmNucleusCutoff: Op = Op(
    "llm_nucleus_cutoff",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("ctx")
      val wo = w.orderBy(col("cnt").desc, col("succ"))
      spreadDocs(s, dir)
        .select(split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(tk) - 2)," +
            " i -> struct(tk[i] AS ctx, tk[i+1] AS succ))")).as("bg"))
        .groupBy(col("bg.ctx").as("ctx"), col("bg.succ").as("succ"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("ctx"), col("succ"), col("cnt"),
          row_number().over(wo).as("rn"),
          sum("cnt").over(wo.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .as("cum"),
          sum("cnt").over(w).as("total"))
        .groupBy("ctx")
        .agg(count(lit(1)).as("n_succ"),
          max("total").as("total"),
          min(when(col("cum") * 10 >= col("total") * 9, col("rn")))
            .cast(LongType).as("nucleus_k"),
          min_by(col("succ"), col("rn")).as("top_succ"),
          max("cnt").as("top_cnt"))
        .orderBy("ctx")
    },
    Some("""
      WITH d AS (
        SELECT string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      ), bg AS (
        SELECT tk[i] AS ctx, tk[i+1] AS succ
        FROM d, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)
      ), c AS (
        SELECT ctx, succ, COUNT(*) AS cnt FROM bg GROUP BY 1, 2
      ), r AS (
        SELECT ctx, succ, cnt,
          row_number() OVER wo AS rn,
          SUM(cnt) OVER (wo ROWS UNBOUNDED PRECEDING) AS cum,
          SUM(cnt) OVER (PARTITION BY ctx) AS total
        FROM c
        WINDOW wo AS (PARTITION BY ctx ORDER BY cnt DESC, succ)
      )
      SELECT ctx, COUNT(*) AS n_succ,
        CAST(MAX(total) AS BIGINT) AS total,
        CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN rn END) AS BIGINT)
          AS nucleus_k,
        arg_min(succ, rn) AS top_succ,
        CAST(MAX(cnt) AS BIGINT) AS top_cnt
      FROM r GROUP BY ctx ORDER BY ctx
    """.stripMargin.trim))

  /** ROUGE-L — LCS-based summary/para similarity (Lin 2004), the
    * SUBSEQUENCE member of the text-similarity family (levenshtein =
    * edit ops, shingles = set overlap; LCS credits order-preserving
    * skips): per deterministic (even, even+1) doc pair, the longest
    * common token subsequence and F1 = 2·LCS/(n+m). The DP is a
    * compiled int-array two-row fold inside scan-stage mapPartitions —
    * an O(n·m) recurrence has no codegen-able SQL form, and a nested
    * higher-order-function encoding interprets ~m× slower (the
    * multimodal decode precedent: imperative per-row kernels belong in
    * mapPartitions). F1 is one double division of two integers — raw
    * emission, engine-identical. ORACLE: the row recurrence
    * reformulated for SQL — dp_new[j] = prefix-max of
    * greatest(prev[j+1], prev[j] + eq_j), valid because LCS rows are
    * monotone (prev[j-1]+0 ≤ prev[j]), stepped per token by a
    * recursive CTE carrying the row as a LIST.
    *
    * Scale shape: pair generation is an equi self-join on adjacent
    * ids (any real pairing — candidate blocks, retrieval pairs —
    * substitutes the same shape); the DP is row-local compute that
    * scales with pair count, embarrassing-parallel by construction.
    */
  /** Two-row LCS DP — the ROUGE-L kernel, factored for the UnitSuite
    * pin against the classic textbook instance.
    */
  private[graft] def lcsLen(ta: Array[String], tb: Array[String]): Int = {
    var prev = new Array[Int](tb.length + 1)
    var cur = new Array[Int](tb.length + 1)
    var i = 0
    while (i < ta.length) {
      var j = 0
      while (j < tb.length) {
        cur(j + 1) =
          if (ta(i) == tb(j)) prev(j) + 1
          else math.max(cur(j), prev(j + 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(tb.length)
  }

  val llmRougeL: Op = Op(
    "llm_rouge_l",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val pairs = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a_id"), col("tk").as("ta"))
        .join(docs.select((col("doc_id") - 1).as("a_id"),
          col("doc_id").as("b_id"), col("tk").as("tb")), Seq("a_id"))
      val outSchema = StructType(Seq(
        StructField("a_id", LongType), StructField("b_id", LongType),
        StructField("n", LongType), StructField("m", LongType),
        StructField("lcs", LongType)))
      val enc = RowEncoder.encoderFor(outSchema)
      pairs.mapPartitions { batch =>
        batch.map { r =>
          val ta = r.getSeq[String](1).toArray
          val tb = r.getSeq[String](3).toArray
          Row(r.getLong(0), r.getLong(2), ta.length.toLong,
            tb.length.toLong, lcsLen(ta, tb).toLong)
        }
      }(enc)
        .select(col("a_id"), col("b_id"), col("n"), col("m"), col("lcs"),
          ((col("lcs") * 2).cast(DoubleType) / (col("n") + col("m")))
            .as("rouge_l_f1"))
        .orderBy("a_id")
    },
    Some("""
      WITH RECURSIVE pr AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          string_split(a.text, ' ') AS ta, string_split(b.text, ' ') AS tb,
          len(string_split(a.text, ' ')) AS n,
          len(string_split(b.text, ' ')) AS m
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
      ), dp AS (
        SELECT a_id, b_id, ta, tb, n, m, 0 AS i,
          list_transform(generate_series(0, m), x -> 0) AS row
        FROM pr
        UNION ALL
        SELECT a_id, b_id, ta, tb, n, m, i + 1,
          list_prepend(0, list_transform(generate_series(1, m), j ->
            list_max(list_transform(generate_series(1, j), k ->
              greatest(row[k+1], row[k] +
                CASE WHEN ta[i+1] = tb[k] THEN 1 ELSE 0 END)))))
        FROM dp WHERE i < n
      )
      SELECT a_id, b_id, CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
        CAST(row[m+1] AS BIGINT) AS lcs,
        CAST(2 * row[m+1] AS DOUBLE) / (n + m) AS rouge_l_f1
      FROM dp WHERE i = n ORDER BY a_id
    """.stripMargin.trim))

  /** CORPUS BLEU — Papineni et al. 2002, the n-gram-precision member
    * of the eval family (llm_rouge_l = subsequence recall, this =
    * clipped n-gram precision with a brevity penalty): over the same
    * deterministic (even, even+1) doc pairing, per-lang corpus BLEU =
    * BP · exp(¼ Σₙ ln pₙ), n = 1..4, where pₙ is the CORPUS-level
    * clipped precision (Σ min(candidate count, reference count) /
    * Σ candidate count — clipping is per pair, the sums are corpus
    * aggregates, exactly the paper's micro-average) and BP =
    * min(1, e^(1−r/c)) on the summed lengths.
    *
    * Portability discipline: every count is exact integer; each pₙ and
    * BP is ONE double expression over integers rounded at 6 dp; BLEU
    * is then computed FROM the rounded components (both engines take
    * ln/exp of identical 6-dp doubles — the unigram cost-model
    * treatment) and rounded again. Zero clipped matches in any order
    * → BLEU 0 by explicit guard (ln(0) forks engines: -inf vs error).
    * N-gram extraction guards size ≥ n (Spark's sequence(1, 0) is
    * descending — the watermark_detect lesson, applied at birth).
    *
    * Scale shape: pair-local explode → two (pair, n, gram) count
    * aggregates → one left join co-keyed on (pair, n, gram) → a
    * per-lang rollup; nothing after the first aggregates sees the
    * corpus. The pairing column is the plug point for any real
    * candidate/reference feed (MT output vs references, RAG answer vs
    * gold), same as rouge_l.
    */
  val llmEvalBleu: Op = Op(
    "llm_eval_bleu",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      val pairs = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a_id"), col("lang"), col("tk").as("ta"))
        .join(docs.select((col("doc_id") - 1).as("a_id"), col("tk").as("tb")),
          Seq("a_id"))
        .localCheckpoint(true) // consumed by cand grams, ref grams, lengths
      def grams(c: String): Column = expr(
        s"flatten(transform(sequence(1, 4), n -> IF(size($c) >= n," +
          s" transform(sequence(1, size($c) - n + 1)," +
          s" i -> struct(n AS n, concat_ws(' ', slice($c, i, n)) AS gram))," +
          " array())))")
      val cg = pairs.select(col("lang"), col("a_id"), explode(grams("ta")).as("g"))
        .groupBy(col("lang"), col("a_id"), col("g.n").as("n"), col("g.gram").as("gram"))
        .agg(count(lit(1)).as("c_cnt"))
      val rg = pairs.select(col("a_id"), explode(grams("tb")).as("g"))
        .groupBy(col("a_id"), col("g.n").as("n"), col("g.gram").as("gram"))
        .agg(count(lit(1)).as("r_cnt"))
      val prec = cg.join(rg, Seq("a_id", "n", "gram"), "left")
        .groupBy("lang", "n")
        .agg(sum("c_cnt").as("tot"),
          sum(least(col("c_cnt"), coalesce(col("r_cnt"), lit(0L)))).as("m"))
        .select(col("lang"), col("n"),
          round(col("m").cast(DoubleType) / col("tot"), 6).as("p"))
      val lens = pairs.groupBy("lang")
        .agg(count(lit(1)).as("n_pairs"),
          sum(size(col("ta"))).cast(LongType).as("c_len"),
          sum(size(col("tb"))).cast(LongType).as("r_len"))
      def pn(k: Int): Column = max(when(col("n") === k, col("p")))
      prec.groupBy("lang")
        .agg(pn(1).as("p1"), pn(2).as("p2"), pn(3).as("p3"), pn(4).as("p4"))
        .join(lens, "lang")
        .select(col("lang"), col("n_pairs"), col("c_len"), col("r_len"),
          round(when(col("c_len") >= col("r_len"), 1.0).otherwise(
            exp(lit(1.0) - col("r_len").cast(DoubleType) /
              col("c_len").cast(DoubleType))), 6).as("bp"),
          col("p1"), col("p2"), col("p3"), col("p4"))
        .select(col("lang"), col("n_pairs"), col("c_len"), col("r_len"),
          col("bp"), col("p1"), col("p2"), col("p3"), col("p4"),
          round(when(col("p1") > 0 && col("p2") > 0 &&
              col("p3") > 0 && col("p4") > 0,
            col("bp") * exp((log(col("p1")) + log(col("p2")) +
              log(col("p3")) + log(col("p4"))) / 4.0))
            .otherwise(0.0), 6).as("bleu"))
        .orderBy("lang")
    },
    Some("""
      WITH pr AS (
        SELECT a.doc_id AS a_id, a.lang,
          string_split(a.text, ' ') AS ta, string_split(b.text, ' ') AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
      ), cg AS (
        SELECT lang, a_id, n, gram, COUNT(*) AS c_cnt FROM (
          SELECT lang, a_id, n, array_to_string(ta[gi:gi+n-1], ' ') AS gram
          FROM (SELECT lang, a_id, ta,
                  unnest(generate_series(1, 4)) AS n FROM pr) t,
            LATERAL (SELECT unnest(generate_series(1, len(ta) - n + 1)) AS gi)
          WHERE len(ta) >= n)
        GROUP BY 1, 2, 3, 4
      ), rg AS (
        SELECT a_id, n, gram, COUNT(*) AS r_cnt FROM (
          SELECT a_id, n, array_to_string(tb[gi:gi+n-1], ' ') AS gram
          FROM (SELECT a_id, tb,
                  unnest(generate_series(1, 4)) AS n FROM pr) t,
            LATERAL (SELECT unnest(generate_series(1, len(tb) - n + 1)) AS gi)
          WHERE len(tb) >= n)
        GROUP BY 1, 2, 3
      ), prec AS (
        SELECT cg.lang, cg.n,
          ROUND(CAST(SUM(LEAST(cg.c_cnt, coalesce(rg.r_cnt, 0))) AS DOUBLE)
            / SUM(cg.c_cnt), 6) AS p
        FROM cg LEFT JOIN rg
          ON rg.a_id = cg.a_id AND rg.n = cg.n AND rg.gram = cg.gram
        GROUP BY 1, 2
      ), w AS (
        SELECT lang,
          MAX(CASE WHEN n = 1 THEN p END) AS p1,
          MAX(CASE WHEN n = 2 THEN p END) AS p2,
          MAX(CASE WHEN n = 3 THEN p END) AS p3,
          MAX(CASE WHEN n = 4 THEN p END) AS p4
        FROM prec GROUP BY lang
      ), l AS (
        SELECT lang, COUNT(*) AS n_pairs,
          CAST(SUM(len(ta)) AS BIGINT) AS c_len,
          CAST(SUM(len(tb)) AS BIGINT) AS r_len
        FROM pr GROUP BY lang
      ), z AS (
        SELECT l.lang, l.n_pairs, l.c_len, l.r_len,
          ROUND(CASE WHEN l.c_len >= l.r_len THEN 1.0
            ELSE exp(1.0 - CAST(l.r_len AS DOUBLE) / l.c_len) END, 6) AS bp,
          w.p1, w.p2, w.p3, w.p4
        FROM w JOIN l ON l.lang = w.lang
      )
      SELECT lang, n_pairs, c_len, r_len, bp, p1, p2, p3, p4,
        ROUND(CASE WHEN p1 > 0 AND p2 > 0 AND p3 > 0 AND p4 > 0
          THEN bp * exp((ln(p1) + ln(p2) + ln(p3) + ln(p4)) / 4.0)
          ELSE 0.0 END, 6) AS bleu
      FROM z ORDER BY lang
    """.stripMargin.trim))

  /** chrF2 — Popović 2015, the CHARACTER-n-gram member of the MT-eval
    * family (llm_eval_bleu = word-n-gram precision + brevity penalty,
    * llm_rouge_l = subsequence recall; chrF is the tokenization-free
    * metric that correlates best with humans on morphology-rich
    * languages): over the same deterministic (even, even+1) pairing,
    * per-lang corpus chrF2 with β = 2 (recall weighted 2×). Spaces are
    * removed first (the sacrebleu convention), char n-grams run n =
    * 1..6, precision and recall are corpus micro-averages with
    * per-pair clipping (the BLEU discipline: min(candidate count,
    * reference count) per (pair, n, gram)), and chrP/chrR are the
    * ARITHMETIC means of the six per-n values.
    *
    * Portability: every count is exact integer; each Pₙ/Rₙ is ONE
    * double division rounded at 6 dp; the means sum the six rounded
    * values in EXPLICIT left-to-right order (a SUM() over them would
    * let either engine pick its own addition order on the 6 doubles —
    * the pivot-then-add shape from bleu's w CTE, applied at birth);
    * chrF2 = 5·P·R/(4·P + R) is computed FROM the rounded means with
    * a P + R > 0 guard (all-miss corpus → 0, no 0/0 fork). N-gram
    * extraction guards length ≥ n (sequence(1, 0) descends — the
    * watermark_detect lesson).
    *
    * Scale shape: the clipped-match count is PAIR-LOCAL, so it runs as
    * an imperative multiset-intersection kernel inside scan-stage
    * mapPartitions (the rouge_l precedent) emitting SIX integer rows
    * per pair — char 6-grams (~6× a doc's characters, ~3000 strings
    * per pair) never shuffle; only 6·|pairs| count rows reach the
    * per-lang rollup. The relational explode formulation measured
    * 5.3 s cold at sf0.1 (7.5M gram rows through two exchanges); this
    * form reads 0.9 s warm. The ORACLE keeps the relational
    * formulation — the counts are the same exact integers, so the
    * hash match proves the kernel against the declarative spec.
    */
  val llmEvalChrf: Op = Op(
    "llm_eval_chrf",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          expr("replace(text, ' ', '')").as("ch"))
      val pairs = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a_id"), col("lang"), col("ch").as("ca"))
        .join(docs.select((col("doc_id") - 1).as("a_id"), col("ch").as("cb")),
          Seq("a_id"))
        // explicit-count repartition (not AQE-coalescible): the fixture
        // is one row group, and the ~1500 char-gram rows per doc explode
        // BELOW the first exchange — unspread it serializes on one core
        // (5.7 s in the r19 gate; the spreadDocs discipline)
        .repartition(32)
        .localCheckpoint(true) // consumed by cand grams, ref grams, lengths
      // the clipped-match counting is PAIR-LOCAL (a multiset
      // intersection per (pair, n)) — the rouge_l precedent: an
      // imperative per-row kernel in scan-stage mapPartitions emits 6
      // count rows per pair, so NOTHING gram-sized ever shuffles. The
      // first cut exploded ~1500 char-grams per side per pair into a
      // corpus-wide (pair, n, gram) hash aggregate — 7.5M string rows
      // through two exchanges, 5.3 s cold at sf0.1; this form moves
      // only 6·|pairs| integer rows and the counts are the same exact
      // integers (the oracle keeps the relational formulation).
      val cntSchema = StructType(Seq(
        StructField("lang", StringType), StructField("n", IntegerType),
        StructField("tc", LongType), StructField("tr", LongType),
        StructField("mc", LongType)))
      val cntEnc = RowEncoder.encoderFor(cntSchema)
      val perPair = pairs.mapPartitions { it =>
        it.flatMap { r =>
          val lang = r.getString(1)
          val ca = r.getString(2)
          val cb = r.getString(3)
          (1 to 6).iterator.map { n =>
            val seen = new java.util.HashMap[String, Integer]()
            var tc = 0L
            var i = 0
            while (i + n <= ca.length) {
              seen.merge(ca.substring(i, i + n), 1, (a, b) => a + b)
              tc += 1; i += 1
            }
            var tr = 0L
            var mc = 0L
            var j = 0
            while (j + n <= cb.length) {
              val g = cb.substring(j, j + n)
              val c = seen.getOrDefault(g, 0)
              if (c > 0) { mc += 1; seen.put(g, c - 1) }
              tr += 1; j += 1
            }
            Row(lang, n, tc, tr, mc)
          }
        }
      }(cntEnc)
      val pn = perPair.groupBy("lang", "n")
        .agg(sum("tc").as("tc"), sum("tr").as("tr"), sum("mc").as("mm"))
        .select(col("lang"), col("n"),
          round(col("mm").cast(DoubleType) / col("tc"), 6).as("p"),
          round(col("mm").cast(DoubleType) / col("tr"), 6).as("r"))
      def piv(c: String, k: Int): Column = max(when(col("n") === k, col(c)))
      val lens = pairs.groupBy("lang")
        .agg(count(lit(1)).as("n_pairs"),
          sum(length(col("ca"))).cast(LongType).as("c_chars"),
          sum(length(col("cb"))).cast(LongType).as("r_chars"))
      pn.groupBy("lang")
        .agg(piv("p", 1).as("p1"), piv("p", 2).as("p2"), piv("p", 3).as("p3"),
          piv("p", 4).as("p4"), piv("p", 5).as("p5"), piv("p", 6).as("p6"),
          piv("r", 1).as("r1"), piv("r", 2).as("r2"), piv("r", 3).as("r3"),
          piv("r", 4).as("r4"), piv("r", 5).as("r5"), piv("r", 6).as("r6"))
        .select(col("lang"),
          round((col("p1") + col("p2") + col("p3") + col("p4") + col("p5") +
            col("p6")) / 6.0, 6).as("chrp"),
          round((col("r1") + col("r2") + col("r3") + col("r4") + col("r5") +
            col("r6")) / 6.0, 6).as("chrr"))
        .join(lens, "lang")
        .select(col("lang"), col("n_pairs"), col("c_chars"), col("r_chars"),
          col("chrp"), col("chrr"),
          round(when(col("chrp") + col("chrr") > 0,
            lit(5.0) * col("chrp") * col("chrr") /
              (lit(4.0) * col("chrp") + col("chrr"))).otherwise(0.0), 6)
            .as("chrf2"))
        .orderBy("lang")
    },
    Some("""
      WITH pr AS (
        SELECT a.doc_id AS a_id, a.lang,
          replace(a.text, ' ', '') AS ca, replace(b.text, ' ', '') AS cb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
      ), b AS (
        SELECT lang, a_id, 1 AS isc, n, substr(ca, gi, n) AS gram
        FROM (SELECT lang, a_id, ca,
                unnest(generate_series(1, 6)) AS n FROM pr) t,
          LATERAL (SELECT unnest(generate_series(1, len(ca) - n + 1)) AS gi)
        WHERE len(ca) >= n
        UNION ALL
        SELECT lang, a_id, 0 AS isc, n, substr(cb, gi, n) AS gram
        FROM (SELECT lang, a_id, cb,
                unnest(generate_series(1, 6)) AS n FROM pr) t,
          LATERAL (SELECT unnest(generate_series(1, len(cb) - n + 1)) AS gi)
        WHERE len(cb) >= n
      ), counts AS (
        SELECT lang, a_id, n, gram,
          SUM(isc) AS c_cnt, SUM(1 - isc) AS r_cnt
        FROM b GROUP BY 1, 2, 3, 4
      ), pn AS (
        SELECT lang, n,
          ROUND(CAST(SUM(LEAST(c_cnt, r_cnt)) AS DOUBLE)
            / SUM(c_cnt), 6) AS p,
          ROUND(CAST(SUM(LEAST(c_cnt, r_cnt)) AS DOUBLE)
            / SUM(r_cnt), 6) AS r
        FROM counts GROUP BY 1, 2
      ), w AS (
        SELECT lang,
          MAX(CASE WHEN n = 1 THEN p END) AS p1,
          MAX(CASE WHEN n = 2 THEN p END) AS p2,
          MAX(CASE WHEN n = 3 THEN p END) AS p3,
          MAX(CASE WHEN n = 4 THEN p END) AS p4,
          MAX(CASE WHEN n = 5 THEN p END) AS p5,
          MAX(CASE WHEN n = 6 THEN p END) AS p6,
          MAX(CASE WHEN n = 1 THEN r END) AS r1,
          MAX(CASE WHEN n = 2 THEN r END) AS r2,
          MAX(CASE WHEN n = 3 THEN r END) AS r3,
          MAX(CASE WHEN n = 4 THEN r END) AS r4,
          MAX(CASE WHEN n = 5 THEN r END) AS r5,
          MAX(CASE WHEN n = 6 THEN r END) AS r6
        FROM pn GROUP BY lang
      ), l AS (
        SELECT lang, COUNT(*) AS n_pairs,
          CAST(SUM(len(ca)) AS BIGINT) AS c_chars,
          CAST(SUM(len(cb)) AS BIGINT) AS r_chars
        FROM pr GROUP BY lang
      ), z AS (
        SELECT l.lang, l.n_pairs, l.c_chars, l.r_chars,
          ROUND((p1 + p2 + p3 + p4 + p5 + p6) / 6.0, 6) AS chrp,
          ROUND((r1 + r2 + r3 + r4 + r5 + r6) / 6.0, 6) AS chrr
        FROM w JOIN l ON l.lang = w.lang
      )
      SELECT lang, n_pairs, c_chars, r_chars, chrp, chrr,
        ROUND(CASE WHEN chrp + chrr > 0
          THEN 5.0 * chrp * chrr / (4.0 * chrp + chrr)
          ELSE 0.0 END, 6) AS chrf2
      FROM z ORDER BY lang
    """.stripMargin.trim))

  /** TOKEN-OVERLAP F1 (SQuAD-style) — the QA-evaluation member of the
    * eval family (Rajpurkar et al. 2016's answer-comparison metric,
    * the standard for extractive QA and short-form generation): per
    * (even, even+1) pair, unigram MULTISET overlap ov = Σ_tok
    * min(count_a, count_b), P = ov/|a|, R = ov/|b|, F1 = 2PR/(P+R)
    * (0 when ov = 0), then the per-lang MACRO average — the per-pair
    * mean, NOT bleu's corpus micro-average, which is exactly what
    * distinguishes the metric (every answer pair counts equally
    * regardless of length).
    *
    * Portability: overlaps and lengths are exact integers; each
    * per-pair P/R/F1 is one double expression rounded at 6 dp; the
    * macro mean sums the ROUNDED per-pair F1s as exact DECIMAL(18,6)
    * (a plain double SUM over ~50 pairs would let either engine pick
    * its own addition order — the chisq treatment, applied at the
    * aggregation step that needs it) and divides once.
    *
    * Scale shape: pair-local token explode → two (pair, token) count
    * aggregates → one co-keyed join → per-pair 1-row rollup → per-lang
    * rollup; word-granularity gram volume (~100 rows/doc), no kernel
    * needed (the chrf explode lesson applies to CHAR 6-grams, 30× this
    * volume).
    */
  val llmEvalF1Overlap: Op = Op(
    "llm_eval_f1_overlap",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      val pairs = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a_id"), col("lang"), col("tk").as("ta"))
        .join(docs.select((col("doc_id") - 1).as("a_id"), col("tk").as("tb")),
          Seq("a_id"))
        .localCheckpoint(true) // consumed by both token sides + lengths
      val ca = pairs.select(col("a_id"), explode(col("ta")).as("tok"))
        .groupBy("a_id", "tok").agg(count(lit(1)).as("c_cnt"))
      val cb = pairs.select(col("a_id"), explode(col("tb")).as("tok"))
        .groupBy("a_id", "tok").agg(count(lit(1)).as("r_cnt"))
      val ov = ca.join(cb, Seq("a_id", "tok"))
        .groupBy("a_id")
        .agg(sum(least(col("c_cnt"), col("r_cnt"))).as("ov"))
      val perPair = pairs
        .select(col("a_id"), col("lang"),
          size(col("ta")).cast(LongType).as("la"),
          size(col("tb")).cast(LongType).as("lb"))
        .join(ov, Seq("a_id"), "left")
        .na.fill(0L, Seq("ov"))
        .withColumn("p", col("ov").cast(DoubleType) / col("la"))
        .withColumn("r", col("ov").cast(DoubleType) / col("lb"))
        .withColumn("f1", round(when(col("ov") > 0,
          lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
          .otherwise(0.0), 6))
      perPair.groupBy("lang")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("f1").cast(DecimalType(18, 6))).as("sf1"))
        .select(col("lang"), col("n_pairs"),
          round(col("sf1").cast(DoubleType) / col("n_pairs"), 6)
            .as("macro_f1"))
        .orderBy("lang")
    },
    Some("""
      WITH pr AS (
        SELECT a.doc_id AS a_id, a.lang,
          string_split(a.text, ' ') AS ta, string_split(b.text, ' ') AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
      ), ca AS (
        SELECT a_id, tok, COUNT(*) AS c_cnt FROM (
          SELECT a_id, unnest(ta) AS tok FROM pr) GROUP BY 1, 2
      ), cb AS (
        SELECT a_id, tok, COUNT(*) AS r_cnt FROM (
          SELECT a_id, unnest(tb) AS tok FROM pr) GROUP BY 1, 2
      ), ov AS (
        SELECT ca.a_id, CAST(SUM(LEAST(ca.c_cnt, cb.r_cnt)) AS BIGINT) AS ov
        FROM ca JOIN cb ON ca.a_id = cb.a_id AND ca.tok = cb.tok
        GROUP BY ca.a_id
      ), pp AS (
        SELECT pr.lang,
          ROUND(CASE WHEN coalesce(ov.ov, 0) > 0
            THEN 2.0 * (CAST(ov.ov AS DOUBLE) / len(pr.ta))
                     * (CAST(ov.ov AS DOUBLE) / len(pr.tb))
                 / ((CAST(ov.ov AS DOUBLE) / len(pr.ta))
                     + (CAST(ov.ov AS DOUBLE) / len(pr.tb)))
            ELSE 0.0 END, 6) AS f1
        FROM pr LEFT JOIN ov ON ov.a_id = pr.a_id
      )
      SELECT lang, COUNT(*) AS n_pairs,
        ROUND(CAST(SUM(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
          AS macro_f1
      FROM pp GROUP BY lang ORDER BY lang
    """.stripMargin.trim))

  /** TER (no-shift) — Snover et al. 2006's translation edit rate in
    * its shift-free form (= word error rate): the EDIT-DISTANCE member
    * completing the MT-eval family (llm_eval_bleu = n-gram precision,
    * llm_eval_chrf = char-n-gram F, llm_rouge_l = subsequence recall;
    * TER is the metric that counts the post-editor's keystrokes). Over
    * the same deterministic (even, even+1) pairing, per-pair edits =
    * word-level Levenshtein distance (insert/delete/substitute, unit
    * costs; the block-shift move of full TER is a greedy search with
    * no declarative form, deliberately out of scope and out of the
    * name), corpus TER = Σ edits / Σ reference words — Snover's
    * micro-average, the BLEU discipline.
    *
    * The counts are exact integers, so no rounding discipline is
    * needed until the final ratio (one double division, 6 dp). ORACLE:
    * the DP has no SQL form, but word-level Levenshtein IS char-level
    * Levenshtein after a word→codepoint bijection — the oracle maps
    * the (31-word, fixed) corpus vocabulary to SINGLE-BYTE codepoints
    * 33..126 (DuckDB's levenshtein counts BYTES, not codepoints —
    * measured: a 3-byte CJK encoding read 2.3× the true distance) and
    * calls the engine-native levenshtein on the encoded strings, so
    * the hash match proves the imperative kernel against an
    * independent second implementation (the adversarial-oracle
    * discipline: same integers, two unrelated algorithms). The
    * encoding holds for vocab ≤ 94; beyond it the oracle would break
    * LOUDLY as a hash mismatch, never silently.
    *
    * Scale shape: the DP is PAIR-LOCAL (the chrf kernel precedent) —
    * an O(|a|·|b|) two-row rolling loop inside scan-stage
    * mapPartitions emitting ONE (lang, edits, rlen) integer row per
    * pair; nothing token-sized shuffles, and the per-lang rollup is a
    * partial-aggregable sum. At 100 TB the cost is Σ |a|·|b| over
    * pairs, embarrassingly parallel, zero driver state.
    */
  val llmEvalTer: Op = Op(
    "llm_eval_ter",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
      val pairs = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a_id"), col("lang"), col("tk").as("ta"))
        .join(docs.select((col("doc_id") - 1).as("a_id"), col("tk").as("tb")),
          Seq("a_id"))
        // explicit-count repartition: the fixture is one row group and
        // the O(|a|·|b|) DP sits below the first exchange (the chrf
        // spread discipline)
        .repartition(32)
      val outSchema = StructType(Seq(
        StructField("lang", StringType), StructField("edits", LongType),
        StructField("rlen", LongType)))
      val outEnc = RowEncoder.encoderFor(outSchema)
      val perPair = pairs.mapPartitions { it =>
        it.map { r =>
          val lang = r.getString(1)
          val ta = r.getSeq[String](2)
          val tb = r.getSeq[String](3)
          val m = tb.length
          var prev = Array.tabulate(m + 1)(j => j)
          var curr = new Array[Int](m + 1)
          var i = 1
          while (i <= ta.length) {
            curr(0) = i
            var j = 1
            while (j <= m) {
              val sub = prev(j - 1) + (if (ta(i - 1) == tb(j - 1)) 0 else 1)
              curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1), sub)
              j += 1
            }
            val t = prev; prev = curr; curr = t
            i += 1
          }
          Row(lang, prev(m).toLong, m.toLong)
        }
      }(outEnc)
      perPair.groupBy("lang")
        .agg(count(lit(1)).as("n_pairs"),
          sum("edits").as("edits"), sum("rlen").as("r_len"))
        .select(col("lang"), col("n_pairs"), col("edits"), col("r_len"),
          round(col("edits").cast(DoubleType) / col("r_len"), 6).as("ter"))
        .orderBy("lang")
    },
    Some("""
      WITH pr AS (
        SELECT a.doc_id AS a_id, a.lang,
          string_split(a.text, ' ') AS ta, string_split(b.text, ' ') AS tb
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
      ), vocab AS (
        SELECT w, CAST(32 + row_number() OVER (ORDER BY w) AS INTEGER) AS cp
        FROM (SELECT DISTINCT unnest(list_concat(ta, tb)) AS w FROM pr)
      ), ea AS (
        SELECT t.a_id, string_agg(chr(v.cp), '' ORDER BY t.i) AS sa
        FROM (SELECT a_id, ta[i] AS w, i
              FROM pr, LATERAL (SELECT unnest(generate_series(1, len(ta))) AS i)) t
        JOIN vocab v ON v.w = t.w GROUP BY t.a_id
      ), eb AS (
        SELECT t.a_id, string_agg(chr(v.cp), '' ORDER BY t.i) AS sb
        FROM (SELECT a_id, tb[i] AS w, i
              FROM pr, LATERAL (SELECT unnest(generate_series(1, len(tb))) AS i)) t
        JOIN vocab v ON v.w = t.w GROUP BY t.a_id
      ), d AS (
        SELECT pr.lang, levenshtein(ea.sa, eb.sb) AS edits, len(pr.tb) AS rlen
        FROM pr JOIN ea ON ea.a_id = pr.a_id JOIN eb ON eb.a_id = pr.a_id
      )
      SELECT lang, COUNT(*) AS n_pairs, CAST(SUM(edits) AS BIGINT) AS edits,
        CAST(SUM(rlen) AS BIGINT) AS r_len,
        ROUND(CAST(SUM(edits) AS DOUBLE) / SUM(rlen), 6) AS ter
      FROM d GROUP BY lang ORDER BY lang
    """.stripMargin.trim))

  /** pass@k — the unbiased estimator from the Codex paper (Chen et al.
    * 2021): with n attempts and c successes, pass@k = 1 − C(n−c,k)/
    * C(n,k), computed as the telescoped product Π (n−c−i)/(n−i) — here
    * over the behavioral fixture (a user's events are attempts,
    * purchases are successes), which is exactly how the estimator is
    * deployed over any (group, trials, successes) table. PORTABLE
    * arithmetic: the product is a LEFT-ASSOCIATED chain of per-factor
    * double ratios (a single integer numerator/denominator pair would
    * overflow int64 at k = 10 — n^10 ~ 1e30, and DuckDB errors on
    * int64 overflow where Spark would silently wrap); identical
    * expression trees over identical integers give identical doubles
    * in both engines, and greatest(., 0) zeroes the product when
    * c > n-k, giving the correct pass@k = 1.
    * n < k emits NULL (the estimator is undefined), mirrored in SQL.
    *
    * Scale shape: one partial+final per-user count aggregate, then
    * row-local integer math — the eval-aggregation profile.
    */
  val llmEvalPassAtK: Op = Op(
    "llm_eval_pass_at_k",
    (s, dir) => {
      def prod(k: Int): org.apache.spark.sql.Column = {
        val f = (0 until k).map(i =>
          s"(CAST(greatest(n - c - $i, 0) AS DOUBLE) / (n - $i))")
          .mkString(" * ")
        expr(s"CASE WHEN n >= $k THEN 1.0 - ($f) ELSE NULL END")
      }
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c"))
        .select(col("user_id"), col("n"), col("c"),
          prod(1).as("pass_at_1"),
          prod(5).as("pass_at_5"),
          prod(10).as("pass_at_10"))
        .orderBy("user_id")
    },
    Some {
      def prod(k: Int): String = {
        val f = (0 until k).map(i =>
          s"(CAST(greatest(n - c - $i, 0) AS DOUBLE) / (n - $i))")
          .mkString(" * ")
        s"CASE WHEN n >= $k THEN 1.0 - ($f) ELSE NULL END"
      }
      s"""
      WITH u AS (
        SELECT user_id, COUNT(*) AS n,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS c
        FROM events GROUP BY user_id
      )
      SELECT user_id, n, c,
        ${prod(1)} AS pass_at_1,
        ${prod(5)} AS pass_at_5,
        ${prod(10)} AS pass_at_10
      FROM u ORDER BY user_id
    """.stripMargin.trim
    })

  /** distinct-n diversity — the generation-diversity metric of Li et
    * al. 2016 as a per-document corpus screen (low distinct-2/3 is the
    * signature of degenerate/templated text that repetition_filter's
    * run-length rules miss): unique n-gram count over total n-gram
    * count for n = 1, 2, 3, all in-row (n-gram arrays by indexed
    * transform, uniqueness by array_distinct ↔ list_distinct), plus
    * the document's modal bigram as the interpretability handle (max
    * count, ties to the lexicographically first — derived by sorting
    * the bigram array and scanning runs, exact integers). Ratios are
    * single double divisions of integers — raw emission.
    *
    * Scale shape: scan → per-row project, zero pre-sort shuffles —
    * the map-only screen shape.
    */
  val llmNgramDiversity: Op = Op(
    "llm_ngram_diversity",
    (s, dir) => {
      def grams(n: Int) =
        if (n == 1) "tk"
        else s"transform(sequence(0, size(tk) - $n)," +
          s" i -> concat_ws(' ', slice(tk, i + 1, $n)))"
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"),
          size(col("tk")).cast(LongType).as("n_tokens"),
          expr(s"CAST(size(array_distinct(${grams(1)})) AS BIGINT)")
            .as("u1"),
          expr(s"CAST(size(array_distinct(${grams(2)})) AS BIGINT)")
            .as("u2"),
          expr(s"CAST(size(array_distinct(${grams(3)})) AS BIGINT)")
            .as("u3"),
          expr(
            // modal bigram: sort, then fold runs carrying (best, bestN,
            // cur, curN) — exact integers, lexicographic tie to first
            s"""aggregate(array_sort(${grams(2)}),
               named_struct('best', '', 'bn', 0L, 'cur', '', 'cn', 0L),
               (a, g) -> named_struct(
                 'best', IF(IF(g = a.cur, a.cn + 1L, 1L) > a.bn,
                            g, a.best),
                 'bn', greatest(IF(g = a.cur, a.cn + 1L, 1L), a.bn),
                 'cur', g,
                 'cn', IF(g = a.cur, a.cn + 1L, 1L)),
               a -> a.best)""").as("modal_bigram"))
        .select(col("doc_id"), col("n_tokens"), col("u1"), col("u2"),
          col("u3"),
          (col("u1").cast(DoubleType) / col("n_tokens")).as("distinct_1"),
          (col("u2").cast(DoubleType) / (col("n_tokens") - 1))
            .as("distinct_2"),
          (col("u3").cast(DoubleType) / (col("n_tokens") - 2))
            .as("distinct_3"),
          col("modal_bigram"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 3
      ), g AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(tk)) AS BIGINT) AS u1,
          list_sort(list_transform(generate_series(1, len(tk) - 1),
            i -> tk[i] || ' ' || tk[i+1])) AS bg,
          CAST(len(list_distinct(list_transform(
            generate_series(1, len(tk) - 1),
            i -> tk[i] || ' ' || tk[i+1]))) AS BIGINT) AS u2,
          CAST(len(list_distinct(list_transform(
            generate_series(1, len(tk) - 2),
            i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
            AS BIGINT) AS u3
        FROM d
      ), bgr AS (
        SELECT doc_id, unnest(bg) AS b FROM g
      ), md AS (
        SELECT doc_id, b AS modal_bigram FROM (
          SELECT doc_id, b,
            row_number() OVER (PARTITION BY doc_id
                               ORDER BY COUNT(*) DESC, b) AS rn
          FROM bgr GROUP BY doc_id, b)
        WHERE rn = 1
      ), m AS (
        SELECT g.doc_id, n_tokens, u1, u2, u3, md.modal_bigram
        FROM g JOIN md ON g.doc_id = md.doc_id
      )
      SELECT doc_id, n_tokens, u1, u2, u3,
        CAST(u1 AS DOUBLE) / n_tokens AS distinct_1,
        CAST(u2 AS DOUBLE) / (n_tokens - 1) AS distinct_2,
        CAST(u3 AS DOUBLE) / (n_tokens - 2) AS distinct_3,
        modal_bigram
      FROM m ORDER BY doc_id
    """.stripMargin.trim))

  /** Force every shared once-per-(session, fixture) model fit — the
    * train-once/serve-many artifacts (near-pair detector, minhash pair
    * set, embed TF spine, IVF centroids, PQ codebook+codes, BPE merges,
    * unigram model). The bench calls this UNCOUNTED after its warmup so
    * each graded query measures pure serving cost instead of whichever
    * sorted-order sibling happens to pay a fit first (the r17 lesson:
    * adding llm_simsearch_pq silently moved pqFit's cost onto
    * llm_simsearch_ivfpq and read as a 2× regression). A deployment
    * persists these as tables (see sink_model_artifact); within one
    * session the SessionArtifact cache is that persisted store.
    */
  private[graft] def prewarmArtifacts(s: SparkSession, dir: String): Unit = {
    // the fits run outside any Op.build, which installs the kernels
    graft.functions.GraftExtensions.register(s)
    nearPairs(s, dir)
    minhashPairs(s, dir)
    embedTf(s, dir)
    ivfCents(s, dir)
    semScaleFit(s, dir)
    pqFit(s, dir)
    bpeTrained(s, dir)
    wordpieceTrained(s, dir)
    unigramModel(s, dir)
    modelStore(s, dir): Unit
  }

  val ops: Seq[Op] = Seq(
    llmReadability, llmQualityGopher, llmBoilerplateStrip,
    llmZipfFit, llmKeywordTextrank, llmEmbedPca, llmEmbedWhiten,
    llmWatermarkDetect, llmNucleusCutoff, llmRougeL, llmEvalPassAtK, llmEvalChrf,
    llmEvalTer, llmEvalF1Overlap,
    llmNgramDiversity,
    llmHardNegatives, llmRetrievalMrr, llmDatasetCard, llmBm25Retrieval,
    llmEmbeddingDrift,
    llmVocabMerges, llmVocabWordpiece, llmVocabApply, llmVocabUnigram, llmVocabUnigramEncode,
    llmTokenizerCompare,
    llmSpanCorruption, llmPackSequences, llmRepetitionFilter, llmDocChunk,
    llmCrossDedup,
    llmVocabInduce, llmMatchDistribution, llmMixSources, llmMixSourcesScale, llmMixEntropy,
    llmMixTemperature, llmTokenBudget, llmSplitHoldout,
    llmQualityFilter, llmQualityScore, llmQualityLogreg, llmFilterAblation, llmSourceGini,
    llmSourceTheil,
    llmPrefPairs, llmTokenCount, llmLangId,
    llmNgramNovelty, llmCurriculumOrder, llmShardManifest,
    llmDocEntropy, llmCollocationPmi, llmKeywordRake,
    llmTextStats, llmTextTfidf, llmDedupExact, llmDedupUrl,
    llmDedupNear, llmDedupContainment, llmDedupSpans, llmDedupCluster,
    llmDedupClusterScale, llmDedupReweight, llmDedupMinhash,
    llmDedupDetectorAgreement,
    llmDedupSimhash, llmDedupFuzzy,
    llmDocEmbed,
    llmDedupEmbed, llmFingerprintWinnow, llmDecontaminate, llmPiiScrub,
    llmDedupBloom, llmEvalBleu,
    llmPipelineCurate,
    llmSimsearchTopk, llmSimsearchLsh, llmSimsearchLshDet, llmIvfFit, llmSimsearchIvf,
    llmSimsearchMmr, llmEmbedOutliers,
    llmSimsearchPq, llmSimsearchIvfpq,
    sinkModelArtifactSearch, sinkModelArtifactEncode, sinkModelArtifactMerges,
    llmDedupSemantic, llmDedupSemanticScale, sinkModelArtifactRefresh,
    llmEmbedQuantize, llmNgramLogprob, llmMultimodalJoin)
}
