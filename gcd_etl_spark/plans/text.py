"""Text-analysis query plans over the ``documents`` table.

North-star extension surface (BASELINE.json): token counting,
quality heuristics, language ID, fingerprinting — every one a pure
Catalyst-expression plan with a DuckDB oracle restating the
computation independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcd_etl_spark.functions import text as TX
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table, read_table_spread

#: DuckDB fragment: whitespace tokens of ``text`` (empty-safe).
_DUCK_TOKENS = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"


@query(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       length(text)                                   AS n_chars,
       len({_DUCK_TOKENS})                            AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+(?:''[A-Za-z]+)?|\\d+|[^ \\tA-Za-z\\d]')) AS n_bpe_tokens,
       CAST(list_sum(list_transform({_DUCK_TOKENS}, t -> length(t))) AS DOUBLE)
         / len({_DUCK_TOKENS})                        AS mean_word_len
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char/token counts (whitespace + BPE-ish regex) and mean word
    length — all codegen'd expressions, no UDFs."""
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.expr(TX.ws_tokens("text"))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        TX.char_count("text").alias("n_chars"),
        TX.token_count("text").alias("n_tokens"),
        TX.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        (total_len.cast("double") / F.size(toks)).alias("mean_word_len"),
    )


@query(
    "text_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n,
         {_DUCK_TOKENS} AS toks,
         length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS n_punct
  FROM documents
), s AS (
  SELECT doc_id, n, toks, n_punct,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, x -> list_contains(
             ['the','and','of','to','in','is','that','it','was','for'], lower(x)))) AS DOUBLE)
           / len(toks) ELSE 0.0 END AS sr,
         CASE WHEN n > 0 THEN CAST(n_punct AS DOUBLE) / n ELSE 1.0 END AS pr,
         CASE WHEN len(toks) > 0 THEN
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
         ELSE 0.0 END AS mwl
  FROM t
)
SELECT doc_id,
       ROUND((
         (CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 WHEN n > 0 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - (pr - 0.2) * 2.5) END)
         + (CASE WHEN sr >= 0.05 THEN 1.0 ELSE sr / 0.05 END)
         + (CASE WHEN mwl >= 3.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.4 END)
       ) / 4.0, 4) AS quality
FROM s
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length / punctuation / stopword /
    word-length bands) — C4/Gopher-style curation prefilter."""
    docs = read_table_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


@query(
    "text_lang_id",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
                        x -> lower(x)) AS toks
  FROM documents
), v AS (
  SELECT doc_id,
    len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','that','it','was','for'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','las','por'], x))) AS s_es,
    len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','un','une','du','est'], x))) AS s_fr,
    len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','von','den','mit','für','auf'], x))) AS s_de
  FROM t
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_es, s_fr, s_de) < 1 THEN 'und'
            WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
            WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
            WHEN s_fr >= s_de THEN 'fr'
            ELSE 'de' END AS lang_guess
FROM v
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language heuristic; first-listed language wins
    ties (en > es > fr > de), 'und' when nothing scores."""
    docs = read_table_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id("text").alias("lang_guess"))


@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_md5,
       substr(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 16) AS fp_prefix
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint (md5 for the cross-engine
    oracle; the engine also exposes xxhash64 via
    ``functions.text.fingerprint64`` for cheaper 64-bit identity)."""
    docs = read_table_spread(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(normalized).alias("content_md5"),
        F.substring(F.md5(normalized), 1, 16).alias("fp_prefix"),
    )


@query(
    "text_shingle_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN len(toks) >= 3
            THEN len(list_distinct(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> array_to_string(toks[i:i+2], ' '))))
            ELSE 0 END AS n_shingles
FROM t
""",
)
def text_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-shingle count per document (the MinHash input
    cardinality)."""
    docs = read_table_spread(spark, sf_dir, "documents")
    return docs.select("doc_id", F.size(F.expr(TX.shingles("text", k=3))).alias("n_shingles"))


@query(
    "corpus_curation",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n,
         {_DUCK_TOKENS} AS toks,
         length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS n_punct,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_hash
  FROM documents
), s AS (
  SELECT doc_id, n, toks, content_hash,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, x -> list_contains(
             ['the','and','of','to','in','is','that','it','was','for'], lower(x)))) AS DOUBLE)
           / len(toks) ELSE 0.0 END AS sr,
         CASE WHEN n > 0 THEN CAST(n_punct AS DOUBLE) / n ELSE 1.0 END AS pr,
         CASE WHEN len(toks) > 0 THEN
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
         ELSE 0.0 END AS mwl,
         len(list_filter(list_transform(toks, x -> lower(x)),
             x -> list_contains(['the','and','of','to','in','is','that','it','was','for'], x))) AS s_en,
         len(list_filter(list_transform(toks, x -> lower(x)),
             x -> list_contains(['el','la','de','que','y','en','los','del','las','por'], x))) AS s_es,
         len(list_filter(list_transform(toks, x -> lower(x)),
             x -> list_contains(['le','la','de','et','les','des','un','une','du','est'], x))) AS s_fr,
         len(list_filter(list_transform(toks, x -> lower(x)),
             x -> list_contains(['der','die','und','das','ist','von','den','mit','für','auf'], x))) AS s_de
  FROM t
), q AS (
  SELECT doc_id, content_hash, len(toks) AS n_tokens,
         ROUND((
           (CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 WHEN n > 0 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - (pr - 0.2) * 2.5) END)
           + (CASE WHEN sr >= 0.05 THEN 1.0 ELSE sr / 0.05 END)
           + (CASE WHEN mwl >= 3.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.4 END)
         ) / 4.0, 4) AS quality,
         CASE WHEN greatest(s_en, s_es, s_fr, s_de) < 1 THEN 'und'
              WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
              WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
              WHEN s_fr >= s_de THEN 'fr'
              ELSE 'de' END AS lang_guess
  FROM s
), k AS (
  SELECT content_hash, min(doc_id) AS keep_id FROM q GROUP BY 1
)
SELECT q.doc_id, q.quality, q.lang_guess, q.n_tokens
FROM q JOIN k ON q.doc_id = k.keep_id
WHERE q.quality >= 0.6 AND q.lang_guess = 'en'
""",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composite — the operators a training-data
    pipeline chains: exact-dedup survivorship (min doc per normalized
    content hash) + quality floor + language filter, one declarative
    plan. One scan, one groupBy(hash) exchange, one broadcast-able
    keep-id join."""
    docs = read_table_spread(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    enriched = docs.select(
        "doc_id",
        TX.quality_score("text").alias("quality"),
        TX.lang_id("text").alias("lang_guess"),
        TX.token_count("text").alias("n_tokens"),
        F.md5(normalized).alias("content_hash"),
    )
    keep = enriched.groupBy("content_hash").agg(F.min("doc_id").alias("keep_id"))
    return (
        enriched.join(keep, enriched.doc_id == keep.keep_id)
        .where((F.col("quality") >= 0.6) & (F.col("lang_guess") == "en"))
        .select("doc_id", "quality", "lang_guess", "n_tokens")
    )


@query(
    "data_split_deterministic",
    oracle="""
WITH b AS (
  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h
  FROM documents
)
SELECT doc_id,
       CAST(h * 100 // 4294967296 AS INT) AS bucket,
       CASE WHEN h * 100 // 4294967296 < 80 THEN 'train'
            WHEN h * 100 // 4294967296 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
)
def data_split_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment: a Knuth multiplicative
    hash of the stable id -> percentile bucket -> 80/10/10 split.
    Pure integer arithmetic, so the SAME rows land in the SAME split
    on every engine, every run, every scale — the property a training
    pipeline needs from its split (no rand(), no shuffle, no state).
    Runs entirely in the scan's projection; partition-local."""
    docs = read_table_spread(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    bucket = F.floor(h * 100 / F.lit(4294967296)).cast("int")
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


@query(
    "data_split_grouped",
    oracle="""
WITH b AS (
  SELECT event_id, user_id,
         (user_id * 2654435761) % 4294967296 AS h
  FROM events
)
SELECT event_id, user_id,
       CASE WHEN h * 100 // 4294967296 < 80 THEN 'train'
            WHEN h * 100 // 4294967296 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
)
def data_split_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-aware split: the hash runs on the ENTITY key (user_id),
    not the row id, so every row of an entity lands in the same split
    — the leakage guard ML evaluation needs (a user's history must
    not straddle train and test). Same reproducibility contract as
    data_split_deterministic: pure integer arithmetic in the scan's
    projection, no rand(), no shuffle, no state."""
    from gcd_etl_spark.sources.catalog import read_table

    ev = read_table(spark, sf_dir, "events")
    h = (F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)
    bucket = F.floor(h * 100 / F.lit(4294967296)).cast("int")
    return ev.select(
        "event_id",
        "user_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


@query(
    "sample_stratified",
    oracle="""
WITH h AS (
  SELECT doc_id, lang,
         (doc_id * 2654435761) % 4294967296 AS hv
  FROM documents
)
SELECT doc_id, lang
FROM h
WHERE hv < CASE lang WHEN 'en' THEN 429496730 ELSE 2147483648 END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling: each class keeps its own
    hash-threshold fraction (10% of 'en', 50% of everything else) —
    the class-rebalancing primitive of corpus construction, with the
    same reproducibility contract as data_split_deterministic (pure
    integer arithmetic, no rand(), no shuffle; a row's fate depends
    only on its id). Runs inside the scan's filter."""
    docs = read_table_spread(spark, sf_dir, "documents")
    hv = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    frac = F.when(F.col("lang") == "en", F.lit(429496730)).otherwise(F.lit(2147483648))
    return docs.where(hv < frac).select("doc_id", "lang")


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+\d{1,2} \d{3}-\d{4}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "text_pii_scrub",
    oracle=f"""
WITH w AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phones,
       len(regexp_extract_all(t, '{_PII_IP}'))    AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(t,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g') AS scrubbed
FROM w
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the email/phone/IP scrub every training-data
    pipeline runs before anything else. Deterministic synthetic PII is
    appended per doc (the fixture corpus has none), then detected and
    masked with the same regexes on both engines; counts come from the
    pre-scrub text. Pure regexp expressions — codegen'd, pushdown-safe,
    no UDF."""
    docs = read_table_spread(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ),
        _PII_IP,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_IP), F.lit(0))).alias("n_ips"),
        scrub.alias("scrubbed"),
    )


@query(
    "sample_weighted",
    oracle="""
SELECT doc_id, n_chars
FROM documents
WHERE CAST(('0x' || substr(md5('w:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 1000000
      < least(n_chars, 2000) * 500
""",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED Bernoulli sample: keep probability
    proportional to document length (p = min(n_chars, 2000)/2000),
    decided by an engine-portable hash of the doc id — so the sample
    is reproducible across runs, engines, and partitionings (integer
    threshold compare, no float RNG). The length-weighted variant of
    the hash-bucket train/val/test split: at 100 TB it is a pure scan
    predicate — no shuffle, no state, embarrassingly parallel."""
    from gcd_etl_spark.operators.dedup import portable_hash64

    docs = read_table(spark, sf_dir, "documents")
    h = F.pmod(
        portable_hash64(F.concat(F.lit("w:"), F.col("doc_id").cast("string"))),
        F.lit(1_000_000),
    )
    thresh = F.least(F.col("n_chars"), F.lit(2000)) * 500
    return docs.where(h < thresh).select("doc_id", "n_chars")


@query(
    "sample_consistent_hash",
    oracle="""
WITH h AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM documents
), r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS sample_rank
  FROM h
)
SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= 20
""",
)
def sample_consistent_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group consistent sample: the 20 documents per language
    with the smallest engine-portable hash of their id — a
    deterministic 'reservoir' whose membership is stable under
    reruns, engines, partitionings AND data growth (a new doc only
    displaces the current max, exactly like a bottom-k sketch).
    Bottom-k-by-hash is also the mergeable-sample primitive behind
    MinHash. One rank window per group key; at 100 TB switch the
    rank window for a per-partition bottom-k heap + re-merge
    (same result set by associativity of min-k)."""
    from gcd_etl_spark.operators.dedup import portable_hash64
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    h = portable_hash64(F.concat(F.lit("s:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(F.col("hv").asc(), F.col("doc_id").asc())
    return (
        docs.select("lang", "doc_id", h.alias("hv"))
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= 20)
        .select("lang", "doc_id", "sample_rank")
    )


# ------------------------------------------- temperature-scaled mix
#: alpha = 0.5 sampling temperature (sqrt scaling) and the overall
#: keep budget in ppm of the corpus — the mT5/XLM-R multilingual
#: recipe: low-resource sources are UP-weighted relative to their
#: share because quota ~ n_s^alpha, not n_s.
TEMP_KEEP_PPM = 300_000

_TEMP_MIX_ORACLE = f"""
WITH s AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
w AS (
  SELECT source, n_s,
         CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro
  FROM s
),
tot AS (
  SELECT CAST(SUM(w_micro) AS BIGINT) AS wsum,
         CAST(SUM(n_s) AS BIGINT) AS n_total
  FROM w
),
q AS (
  SELECT source, n_s, w_micro,
         CAST((n_total * {TEMP_KEEP_PPM} // 1000000) * w_micro // wsum AS BIGINT)
           AS quota
  FROM w CROSS JOIN tot
),
h AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM documents
),
r AS (
  SELECT h.doc_id, h.source, q.quota, q.n_s,
         ROW_NUMBER() OVER (PARTITION BY h.source ORDER BY hv, doc_id) AS rk
  FROM h JOIN q USING (source)
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk,
       CAST(n_s AS BIGINT) AS n_source, quota
FROM r WHERE rk <= quota
"""


@query("sample_temperature_mix", oracle=_TEMP_MIX_ORACLE)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (alpha = 0.5): each
    source's keep-quota is proportional to n_s^alpha rather than n_s
    — the standard multilingual/domain rebalancing formula (mT5,
    XLM-R), which up-weights low-resource sources without letting
    any single head domain dominate the mix. Unlike
    corpus_mix_sampling (fixed per-class ppm), the quota here is
    COMPUTED from the observed counts, so the same plan adapts as
    the corpus grows. Membership is bottom-rank by the portable md5
    hash, so the selected set is deterministic across engines, runs
    and partitionings; sqrt on an exact integer count is one
    correctly-rounded IEEE op, deterministic cross-engine.

    Scale shape: the per-source counts and quotas are a
    sources-sized broadcast artifact; selection is one rank window
    per source (at 100 TB: per-partition bottom-k + re-merge, the
    sample_reservoir_per_group note applies verbatim)."""
    from gcd_etl_spark.operators.dedup import portable_hash64
    from pyspark.sql import Window

    docs = read_table_spread(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w = s.select(
        "source",
        "n_s",
        F.floor(F.sqrt(F.col("n_s").cast("double")) * 1_000_000)
        .cast("bigint")
        .alias("w_micro"),
    )
    tot = w.agg(
        F.sum("w_micro").cast("bigint").alias("wsum"),
        F.sum("n_s").cast("bigint").alias("n_total"),
    )
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        F.expr(
            f"(n_total * {TEMP_KEEP_PPM} div 1000000) * w_micro div wsum"
        ).alias("quota"),
    )
    h = docs.select(
        "doc_id",
        "source",
        portable_hash64(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))).alias("hv"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("hv").asc(), F.col("doc_id").asc())
    )
    return (
        h.join(F.broadcast(q), "source")
        .withColumn("rk", rk)
        .where(F.col("rk") <= F.col("quota"))
        .select(
            "doc_id",
            "source",
            F.col("rk").cast("long").alias("rk"),
            F.col("n_s").cast("long").alias("n_source"),
            F.col("quota").cast("long").alias("quota"),
        )
    )


# --------------------------------------- contrastive negative draws
#: Negatives per anchor document, and the draw-family seed.
NEG_K = 4
NEG_SEED = "neg0"

_NEG_ORACLE = f"""
WITH n AS (SELECT MAX(doc_id) + 1 AS n_ids FROM documents),
draws AS (
  SELECT d.doc_id, g.j,
         CAST(('0x' || substr(md5('{NEG_SEED}:' || CAST(d.doc_id AS VARCHAR)
              || ':' || CAST(g.j AS VARCHAR)), 1, 15)) AS BIGINT)
           % n.n_ids AS neg_id
  FROM documents d
  CROSS JOIN n
  CROSS JOIN generate_series(1, {NEG_K}) AS g(j)
),
kept AS (SELECT * FROM draws WHERE neg_id <> doc_id)
SELECT k.doc_id, CAST(k.j AS BIGINT) AS j, k.neg_id,
       nb.source AS neg_source,
       CAST(a.source = nb.source AS INT) AS same_source
FROM kept k
JOIN documents a ON a.doc_id = k.doc_id
JOIN documents nb ON nb.doc_id = k.neg_id
"""


@query("sample_negatives_hash", oracle=_NEG_ORACLE)
def sample_negatives_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training
    (DPR-style retrieval, embedding training): each anchor document
    draws NEG_K pseudo-random negatives from the id space via the
    seeded portable hash — reproducible on any engine, any run, any
    partitioning (a retry or backfill pairs every anchor with the
    SAME negatives, which is what makes training runs comparable).
    Self-collisions are dropped; each negative carries its source
    and a same_source flag so the loader can separate in-domain
    (hard-ish) from cross-domain (easy) negatives. Epoch reshuffle =
    bump the seed, as in corpus_shuffle_shards.

    Scale shape: one 1-row id-space bound broadcast, a NEG_K-way
    sequence explode in the scan's projection (no shuffle), then ONE
    equi-join keyed on neg_id to attach negative metadata — at 100 TB
    that join is the only exchange, and it keys on the uniform hash
    draw (no skew by construction)."""
    from gcd_etl_spark.operators.dedup import portable_hash64

    docs = read_table_spread(spark, sf_dir, "documents")
    n = docs.agg((F.max("doc_id") + 1).alias("n_ids"))
    draws = (
        docs.select("doc_id", F.col("source").alias("anchor_source"))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "anchor_source",
            "n_ids",
            F.explode(F.sequence(F.lit(1), F.lit(NEG_K))).alias("j"),
        )
        .select(
            "doc_id",
            "anchor_source",
            F.col("j").cast("long").alias("j"),
            (
                portable_hash64(
                    F.concat(
                        F.lit(f"{NEG_SEED}:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                )
                % F.col("n_ids")
            ).alias("neg_id"),
        )
        .where(F.col("neg_id") != F.col("doc_id"))
    )
    neg = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")
    )
    return draws.join(neg, "neg_id").select(
        "doc_id",
        "j",
        "neg_id",
        "neg_source",
        (F.col("anchor_source") == F.col("neg_source")).cast("int").alias("same_source"),
    )
