"""Corpus-construction operators — engine extensions.

The operations an LLM-training corpus pipeline runs between
dedup/curation and the trainer (none exist in the reference), grown
across rounds 4-12: n-gram vocabularies, TF-IDF, context-window
packing (distributed prefix-sum, no single-partition exchange),
decontamination, mixture/temperature sampling, deterministic shard
shuffles (+ materialized write), bigram-LM perplexity filtering with
a frozen persisted-model delta lifecycle, DSIR importance resampling
(anchor / frozen-model delta / ingest gate), curriculum staging, and
Zipf/Heaps diagnostics. The founding three below kept their original
doc entries:

* ``text_ngram_counts`` — corpus bigram vocabulary with counts: the
  canonical explode -> groupBy shape whose cost is one shuffle keyed
  on the n-gram.
* ``text_tfidf_topk`` — per-document top TF-IDF terms over the full
  corpus vocabulary, scores quantized to integer micro-units
  (the plans/analytics BM25 pattern) so ranking is engine-exact.
* ``pack_token_budget`` — deterministic context-window packing:
  documents chunked into fixed token budgets by a running token
  cumsum, sharded so the cumsum window never needs a global sort.

All tokenization uses the ASCII-only split from plans/analytics
(identical semantics in java.util.regex and RE2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcd_etl_spark.plans.analytics import _TOKEN_SPLIT
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table_spread


def _safe_bigrams(toks, sep: str):
    """Adjacent-pair bigram array, SAFE on short documents: Spark's
    sequence(1, size-1) is DESCENDING when size < 2, so the unguarded
    transform feeds element_at an index <= 0 and throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT — fatal inside the streaming
    ingest gates, where one short arriving document would fail its
    whole micro-batch (ADVICE round 11). DuckDB's generate_series
    already yields an empty list there, so the guard also restores
    engine parity on <= 1-token documents: zero bigrams, unigrams
    (when concatenated) untouched. Shared by every adjacent-pair site
    in this module — the bigram twins can never tokenize-pair
    differently. ``toks`` is bound once per row (functions/text.py,
    "Bind once"): read inside the per-bigram lambda, it would be
    re-tokenized twice per bigram."""
    return F.transform(
        F.array(toks),
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat(F.element_at(t, i), F.lit(sep), F.element_at(t, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )[0]


_DUCK_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '" + _TOKEN_SPLIT + "'), x -> x <> '')"
)

# ----------------------------------------------------- bigram counts
NGRAM_TOP_K = 30

_NGRAM_ORACLE = f"""
WITH d AS (
  SELECT {_DUCK_TOKS} AS toks FROM documents
), grams AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM d
), counted AS (
  SELECT bigram, COUNT(*) AS n_occurrences,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rank
  FROM grams GROUP BY bigram
)
SELECT bigram, n_occurrences, rank FROM counted WHERE rank <= {NGRAM_TOP_K}
"""


@query("text_ngram_counts", oracle=_NGRAM_ORACLE)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K corpus bigrams: tokenize, form adjacent pairs with a
    codegen'd ``transform(sequence(...))`` (no UDF), explode, ONE
    count shuffle keyed on the bigram (map-side partials absorb the
    heavy head — 'of the' pre-aggregates inside each task), then
    TakeOrderedAndProject for the top-K. The LM-vocabulary /
    collocation-mining building block; total order (count DESC,
    bigram) makes the result deterministic cross-engine."""
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    bigrams = _safe_bigrams(toks, " ")
    counted = (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    top = counted.orderBy(
        F.col("n_occurrences").desc(), F.col("bigram").asc()
    ).limit(NGRAM_TOP_K)
    rank = F.row_number().over(
        Window.partitionBy().orderBy(F.col("n_occurrences").desc(), F.col("bigram").asc())
    )
    return top.select("bigram", "n_occurrences", rank.alias("rank"))


# ------------------------------------------------------ tf-idf top-k
#: Per-document top terms kept; document subset keeps the driver
#: result compact (the plan itself is corpus-wide).
TFIDF_TOP_PER_DOC = 3
TFIDF_DOC_MOD = 50
#: df bounds: drop hapax terms and stop-like terms in >half the docs.
TFIDF_MIN_DF = 2

_TFIDF_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), n AS (SELECT COUNT(*) AS n_docs FROM d),
tf AS (
  SELECT doc_id, unnest(toks) AS term FROM d
), tfc AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
), scored AS (
  SELECT t.doc_id, t.term,
         CAST(floor(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d2.df) * 1000000 + 0.5)
              AS BIGINT) AS score_us
  FROM tfc t JOIN df d2 USING (term) CROSS JOIN n
  WHERE d2.df >= {TFIDF_MIN_DF} AND d2.df * 2 <= n.n_docs
), ranked AS (
  SELECT doc_id, term, score_us,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_us DESC, term) AS term_rank
  FROM scored
)
SELECT doc_id, term, score_us, term_rank
FROM ranked
WHERE term_rank <= {TFIDF_TOP_PER_DOC} AND doc_id % {TFIDF_DOC_MOD} = 0
"""


@query("text_tfidf_topk", oracle=_TFIDF_ORACLE)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top TF-IDF terms over the corpus-wide vocabulary:
    explode to (doc, term), ONE groupBy for tf, ONE for df (both
    map-side combinable), score = tf * ln(N/df) quantized to integer
    micro-units — floor(x*1e6 + 0.5) is the same IEEE arithmetic on
    both engines, so per-doc ranking (score DESC, term) is exact —
    then a per-doc rank window keyed on doc_id. df bounds drop hapax
    and stop-like terms, which is also what keeps the df join's
    skewed head small. The (doc, term) shuffle is the canonical
    scale shape for corpus statistics; N arrives via a single-row
    broadcast like the BM25 stats row."""
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    pairs = docs.select("doc_id", F.explode(toks).alias("term"))
    tfc = pairs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N = ALL documents (the oracle's `n` CTE counts documents, not
    # documents-with-tokens — an empty doc still counts toward N)
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tfc.join(df, "term")
        .crossJoin(F.broadcast(n))
        .where(
            (F.col("df") >= TFIDF_MIN_DF) & (F.col("df") * 2 <= F.col("n_docs"))
        )
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("score_us"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_us").desc(), F.col("term").asc())
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(
            (F.col("term_rank") <= TFIDF_TOP_PER_DOC)
            & (F.col("doc_id") % TFIDF_DOC_MOD == 0)
        )
        .select("doc_id", "term", "score_us", "term_rank")
    )


# ------------------------------------------------ context packing
#: Token budget per pack and shard fan-out. Shards bound the window
#: partition size: the cumsum orders WITHIN a shard only, so no
#: global single-partition sort exists at any scale (shards pack
#: independently — the standard data-parallel chunking contract).
PACK_BUDGET = 2048
PACK_SHARDS = 16

_PACK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
         len({_DUCK_TOKS}) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - n_tokens AS prior_tokens
  FROM d
), p AS (
  SELECT shard,
         CAST(prior_tokens // {PACK_BUDGET} AS BIGINT) AS pack_id,
         n_tokens
  FROM c
)
SELECT shard, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM p GROUP BY shard, pack_id
"""


@query("pack_token_budget", oracle=_PACK_ORACLE)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic context-window packing: documents hash to one of
    PACK_SHARDS shards, each shard orders by doc_id and chunks at
    PACK_BUDGET tokens via a running-cumsum bucket (a doc starts a
    new pack when the tokens BEFORE it fill the current budget —
    streaming chunking, one window pass, no driver loop). Sharding
    is the scale contract: the cumsum window partitions by shard, so
    there is never a global sort; packs are reproducible from
    (doc_id, token-count) alone, which is what a resumable training
    job needs. Token counts are whitespace-class splits (ASCII
    regex, identical both engines)."""
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    d = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).alias("shard"),
        F.size(toks).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("prior_tokens"),
    )
    p = c.select(
        "shard",
        F.floor(F.col("prior_tokens") / PACK_BUDGET).cast("bigint").alias("pack_id"),
        "n_tokens",
    )
    return p.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


#: Context length for the concat-and-split packer below. Distinct
#: from PACK_BUDGET so the two packers' oracles can never be confused.
PACK_CONTEXT = 512

_PACK_CONCAT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, len({_DUCK_TOKS}) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
       CAST(CASE WHEN n_tokens > 0
                 THEN start_offset // {PACK_CONTEXT} END AS BIGINT)
         AS seq_first,
       CAST(CASE WHEN n_tokens > 0
                 THEN (start_offset + n_tokens - 1) // {PACK_CONTEXT} END
            AS BIGINT) AS seq_last
FROM c
"""


@query("pack_concat_split", oracle=_PACK_CONCAT_ORACLE)
def pack_concat_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate every document's token
    stream in doc_id order and split the stream into PACK_CONTEXT-token
    context windows; per document, report its global token offset and
    the first/last window it lands in (a doc spanning a boundary is
    the "crossing" a loader must mask or split). Complements
    pack_token_budget, which packs at DOCUMENT granularity per shard —
    this one is the exact-global-order form training jobs use when
    context windows must be byte-identical across re-runs.

    The interesting part is the plan. The direct expression of
    "running total in global doc_id order" is a window with no
    partitionBy — Spark executes that as Exchange SinglePartition +
    one task scanning everything: the canonical scale-killer. The
    registered plan is the classic two-phase distributed prefix sum
    instead: repartitionByRange(doc_id) so partition order equals key
    order (frozen with an eager localCheckpoint so the offsets and
    the final pass cannot see different samplings), per-partition
    token totals -> a #partitions-row control-plane collect ->
    exclusive offsets broadcast back, and a partition-LOCAL cumsum
    window keyed by spark_partition_id. No single-partition exchange
    anywhere (pinned in tests); every stage is as wide as the data.
    """
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (
        docs.select("doc_id", F.size(toks).alias("n_tokens"))
        .repartitionByRange(n_parts, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # control plane: one row per partition — never data-sized
    part_sums = {
        r["pid"]: r["s"]
        for r in d.groupBy("pid").agg(F.sum("n_tokens").alias("s")).collect()
    }
    running, offsets = 0, []
    for pid in sorted(part_sums):
        offsets.append((pid, running))
        running += part_sums[pid] or 0
    off = spark.createDataFrame(offsets or [(0, 0)], "pid int, pid_offset long")
    w = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        d.join(F.broadcast(off), "pid")
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("pid_offset") + F.sum("n_tokens").over(w) - F.col("n_tokens")
            ).alias("start_offset"),
        )
    )
    nz = F.col("n_tokens") > 0
    return c.select(
        "doc_id",
        "n_tokens",
        F.col("start_offset").cast("long").alias("start_offset"),
        F.when(nz, F.floor(F.col("start_offset") / PACK_CONTEXT))
        .cast("long")
        .alias("seq_first"),
        F.when(
            nz,
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / PACK_CONTEXT),
        )
        .cast("long")
        .alias("seq_last"),
    )


#: Closed power-of-two bucket ladder for length-bucketed batching —
#: a CASE chain over a FIXED set (not float log2, whose behavior at
#: exact powers of two is an engine-dependent last-ulp coin flip).
LENGTH_BUCKETS = [16, 32, 64, 128, 256, 512, 1024, 2048]

_LB_SQL_CASE = (
    "CASE "
    + " ".join(
        f"WHEN n_tokens <= {b} THEN {b}" for b in LENGTH_BUCKETS
    )
    + f" ELSE {LENGTH_BUCKETS[-1]} END"
)

_LENGTH_BUCKETS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, len({_DUCK_TOKS}) AS n_tokens FROM documents
), b AS (
  SELECT doc_id,
         LEAST(n_tokens, {LENGTH_BUCKETS[-1]}) AS kept_tokens,
         n_tokens > {LENGTH_BUCKETS[-1]} AS truncated,
         {_LB_SQL_CASE} AS bucket
  FROM t
)
SELECT bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(kept_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) * bucket AS BIGINT) AS padded_slots,
       CAST((COUNT(*) * bucket - SUM(kept_tokens)) * 1000000
            // (COUNT(*) * bucket) AS BIGINT) AS pad_waste_ppm,
       CAST(SUM(CASE WHEN truncated THEN 1 ELSE 0 END) AS BIGINT)
         AS n_truncated
FROM b GROUP BY bucket
"""


@query("batch_length_buckets", oracle=_LENGTH_BUCKETS_ORACLE)
def batch_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching accounting: documents are assigned to
    the smallest power-of-two context bucket holding their token
    count (capped at 2048 with a truncation count — the cap is the
    model's context limit), and each bucket reports exact pad-waste
    ppm = (padded slots - real tokens) / padded slots. This is the
    number that decides batching strategy: padding waste is wall-clock
    waste on the training cluster, and the bucket histogram is what a
    loader uses to size its per-bucket batch dimensions.

    One map-side-combinable groupBy on a CLOSED 8-value key — the
    cheapest possible shuffle — after pure per-row expression work.
    The bucket ladder is a literal CASE chain over fixed powers of
    two, deliberately NOT float log2: at exact powers of two
    ceil(log2(x)) is a last-ulp coin flip across engines, while the
    CASE chain is bit-exact everywhere."""
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    cap = LENGTH_BUCKETS[-1]
    n = F.size(toks)
    bucket = F.lit(cap)
    for b in reversed(LENGTH_BUCKETS):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    t = docs.select(
        F.least(n, F.lit(cap)).alias("kept_tokens"),
        (n > cap).cast("int").alias("truncated"),
        bucket.alias("bucket"),
    )
    agg = t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept_tokens").cast("long").alias("total_tokens"),
        F.sum("truncated").cast("long").alias("n_truncated"),
    )
    padded = F.col("n_docs") * F.col("bucket")
    return agg.select(
        "bucket",
        "n_docs",
        "total_tokens",
        padded.cast("long").alias("padded_slots"),
        F.expr("(n_docs * bucket - total_tokens) * 1000000 div (n_docs * bucket)")
        .cast("long")
        .alias("pad_waste_ppm"),
        "n_truncated",
    )


# ------------------------------------------------ sliding chunking
#: RAG-style chunk geometry: fixed token window, fixed overlap.
CHUNK_SIZE = 128
CHUNK_STRIDE = 96  # = CHUNK_SIZE - 32 token overlap

_CHUNK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(generate_series(0, GREATEST(len(toks) - 1, 0), {CHUNK_STRIDE}))
           AS start_tok
  FROM d
)
SELECT doc_id,
       start_tok // {CHUNK_STRIDE} AS chunk_id,
       start_tok,
       len(toks[start_tok + 1 : start_tok + {CHUNK_SIZE}]) AS n_tokens,
       md5(array_to_string(toks[start_tok + 1 : start_tok + {CHUNK_SIZE}], ' '))
         AS chunk_md5
FROM s
WHERE start_tok < n
"""


@query("chunk_sliding_tokens", oracle=_CHUNK_ORACLE)
def chunk_sliding_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: each document's token stream cut
    into CHUNK_SIZE-token windows every CHUNK_STRIDE tokens (32-token
    overlap), the retrieval-index preprocessing step between
    curation and embedding. Pure per-row codegen — chunk starts come
    from ``sequence``, chunk bodies from ``slice`` — then ONE explode
    whose fan-out is tokens/stride per doc; no shuffle at all until a
    consumer aggregates. Chunks surface as md5 fingerprints (not raw
    text) so the result stays narrow; zero-token documents produce
    zero chunks, and the last chunk of a doc may be short — both
    pinned by the oracle."""
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    d = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n") - 1, F.lit(0)), F.lit(CHUNK_STRIDE)
    )
    s = d.select("doc_id", "toks", "n", F.explode(starts).alias("start_tok")).where(
        F.col("start_tok") < F.col("n")
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok") + 1, CHUNK_SIZE)
    return s.select(
        "doc_id",
        F.floor(F.col("start_tok") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        "start_tok",
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# ------------------------------------------------- BPE merge learning
#: Fixed merge budget (static job graph + unrollable oracle) and the
#: symbol separator used by the fold serialization — any non-alnum
#: char is safe because tokens are [a-z0-9]+ by construction.
BPE_ROUNDS = 3
BPE_SEP = "-"


def _bpe_fold_sql(ma: str = "ma", mb: str = "mb", merged: str = "merged") -> str:
    """Greedy left-to-right merge application as a string fold (the
    lambda only uses ops with identical semantics in Spark SQL and
    DuckDB); the acc carries BPE_SEP-joined symbols. The rule can be
    referenced as COLUMNS (the oracle's CTE form, defaults) or
    embedded as SQL literal expressions (the Spark side passes
    ``"'xy'"``-style quoted strings)."""
    return (
        f"aggregate(slice(syms, 2, size(syms) - 1), syms[0], (acc, x) -> "
        f"CASE WHEN substring_index(acc, '{BPE_SEP}', -1) = {ma} AND x = {mb} "
        f"THEN concat(substring(acc, 1, length(acc) - length({ma})), {merged}) "
        f"ELSE concat(acc, '{BPE_SEP}', x) END)"
    )


def _bpe_oracle() -> str:
    head = """
WITH t AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents
),
w0 AS (SELECT w, regexp_split_to_array(w, '') AS syms, COUNT(*) AS wc FROM t GROUP BY w)"""
    steps = []
    for r in range(1, BPE_ROUNDS + 1):
        steps.append(f"""
p{r} AS (
  SELECT syms[t.i] AS a, syms[t.i + 1] AS b, CAST(SUM(wc) AS BIGINT) AS cnt
  FROM w{r - 1}, LATERAL (SELECT UNNEST(range(1, length(syms))) AS i) t
  GROUP BY 1, 2
),
top{r} AS (
  SELECT a, b, a || b AS merged, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
),
w{r} AS (
  SELECT w, wc,
         CASE WHEN length(syms) < 2 THEN syms
              ELSE regexp_split_to_array(
                     list_reduce(syms, (acc, x) ->
                       CASE WHEN regexp_extract(acc, '[^{BPE_SEP}]*$') = t.a
                                 AND x = t.b
                            THEN substr(acc, 1, length(acc) - length(t.a)) || t.merged
                            ELSE acc || '{BPE_SEP}' || x END),
                     '{BPE_SEP}') END AS syms
  FROM w{r - 1} CROSS JOIN top{r} t
)""")
    tail = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS sym_a, b AS sym_b, merged, cnt AS pair_count FROM top{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return head + "," + ",".join(steps) + "\n" + tail


@query("bpe_learn_merges", oracle=_bpe_oracle())
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING on the corpus: learn the
    first {BPE_ROUNDS} merge rules — repeatedly count adjacent symbol
    pairs over the word-frequency dictionary, take the most frequent
    pair ((count DESC, pair) tie-break, so the winner is unique), and
    apply the merge greedily left-to-right to every word. Exact
    integer counts end to end, so even the ITERATIVE trainer carries
    a full cross-engine value-hash oracle (DuckDB restates each round
    as CTEs with the same string-fold merge application).

    Scale shape — the reason BPE training is tractable on a cluster:
    after the first groupBy the working set is the WORD-FREQUENCY
    dict (vocab-sized, not corpus-sized; Zipf makes this orders of
    magnitude smaller than the text). Per round: one pair-count
    shuffle over ~|vocab|·avg_len rows, ONE collected winning-rule
    row embedded as literals in the next round's codegen'd per-word
    fold — no UDF, no driver loop over data; only the single winning
    rule ever crosses to the driver. The per-word fold is the same
    greedy scan a single-node trainer does, just data-parallel over
    the vocab."""
    _, rules = _bpe_train(spark, sf_dir)
    out = rules[0]
    for rdf in rules[1:]:
        out = out.unionByName(rdf)
    return out


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop: returns (final word table with
    ``w`` / ``syms`` / ``wc`` after BPE_ROUNDS merges, per-round rule
    DataFrames). Used by both the learn and the encode plans so the
    two are the same trainer by construction.

    The single winning (pair, count) row of each round is COLLECTED
    and embedded as literals in the next round's fold (the k-row
    centroid precedent, operators/clustering.py) instead of the
    previous crossJoin(broadcast(1-row-checkpoint)) formulation:
    functionally identical, but each per-round lazy checkpoint of a
    nested plan forced a full Catalyst re-plan — 9.4s of pure
    plan-compilation at sf0.01 before any data moved (vs 0.2s of
    actual execution; the vocab is tiny). Cold build is now ~2s.
    Only the 1-row rule crosses to the driver; the vocab-sized word
    table stays distributed throughout.
    """
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    words = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select("w", F.split("w", "").alias("syms"), "wc")
        .localCheckpoint(eager=True)
    )
    rules = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = words.where(F.size("syms") >= 2).select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(syms[i - 1] AS a, syms[i] AS b))"
                )
            ).alias("p"),
        )
        top_rows = (
            pairs.groupBy(F.col("p.a").alias("ma"), F.col("p.b").alias("mb"))
            .agg(F.sum("wc").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("ma").asc(), F.col("mb").asc())
            .limit(1)
            .collect()
        )
        if not top_rows:
            raise ValueError(
                "BPE training found no adjacent symbol pairs — corpus has "
                "no multi-character tokens"
            )
        ma, mb, cnt = top_rows[0]["ma"], top_rows[0]["mb"], top_rows[0]["cnt"]
        merged = ma + mb
        rules.append(
            spark.createDataFrame(
                [(r, ma, mb, merged, cnt)],
                "round int, sym_a string, sym_b string, merged string, "
                "pair_count bigint",
            )
        )
        # tokens are [a-z0-9]+ so the literals are quote-safe
        fold = _bpe_fold_sql(f"'{ma}'", f"'{mb}'", f"'{merged}'")
        words = (
            words.select(
                "w",
                F.expr(
                    f"CASE WHEN size(syms) < 2 THEN syms "
                    f"ELSE split({fold}, '{BPE_SEP}') END"
                ).alias("syms"),
                "wc",
            )
            .localCheckpoint(eager=True)
        )
    return words, rules


# -------------------------------------------- benchmark decontamination
#: Shingle width for contamination matching (production uses 8-13
#: token shingles; 5 fits the synthetic corpus' n-gram diversity) and
#: the eval-set boundary (doc_id < 10 plays the held-out benchmark).
DECON_NGRAM = 5
DECON_BENCH_MAX_ID = 10

#: Engine-portable 60-bit shingle hash (operators/dedup.py
#: portable_hash64): both engines match on md5-derived keys, so the
#: result is identical even under (astronomically unlikely) collisions.
_DECON_DUCK_HASH = "CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)"

_DECON_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, {_DECON_DUCK_HASH} AS h
  FROM (
    SELECT doc_id, array_to_string(t[i.i:i.i + {DECON_NGRAM - 1}], ' ') AS g
    FROM toks, LATERAL (SELECT UNNEST(range(1, length(t) - {DECON_NGRAM - 2})) AS i) i
  )
),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id < {DECON_BENCH_MAX_ID}),
corpus AS (SELECT doc_id, h FROM sh WHERE doc_id >= {DECON_BENCH_MAX_ID}),
m AS (
  SELECT c.doc_id,
         COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
  FROM corpus c LEFT JOIN bench b ON c.h = b.h
  GROUP BY c.doc_id
)
SELECT doc_id, n_shingles, n_matched,
       CASE WHEN n_matched > 0 THEN 1 ELSE 0 END AS contaminated
FROM m
"""


@query("decontaminate_ngrams", oracle=_DECON_ORACLE)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — the training-data hygiene pass
    every LLM pipeline runs before training: every corpus document
    is checked for {DECON_NGRAM}-token shingle overlap against a
    held-out eval set, reporting per-doc shingle totals, matched
    counts, and the contamination flag.

    Scale shape: shingles hash to portable 60-bit keys BEFORE any
    shuffle (64-bit keys instead of strings across the wire); the
    eval-set side is distinct-deduped and BROADCAST — eval sets are
    tiny by nature, so the corpus-side scan never shuffles at all:
    one broadcast left join + one per-doc count. Both engines match
    on the same md5-derived keys, so the result is value-hash exact
    by construction. At real scale the bench set is a prebuilt
    bloom/exact hash table shipped to executors — the same plan."""
    from gcd_etl_spark.operators.dedup import portable_hash64

    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    grams = F.expr(
        f"transform(sequence(1, size(t) - {DECON_NGRAM - 1}), "
        f"i -> array_join(slice(t, i, {DECON_NGRAM}), ' '))"
    )
    sh = (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= DECON_NGRAM)
        .select("doc_id", F.explode(grams).alias("g"))
        .select("doc_id", portable_hash64("g").alias("h"))
        .distinct()
    )
    bench = (
        sh.where(F.col("doc_id") < DECON_BENCH_MAX_ID)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.where(F.col("doc_id") >= DECON_BENCH_MAX_ID)
    m = (
        corpus.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_matched"),
        )
    )
    return m.select(
        "doc_id",
        "n_shingles",
        "n_matched",
        (F.col("n_matched") > 0).cast("int").alias("contaminated"),
    )


def _bpe_apply_oracle() -> str:
    chain = _bpe_oracle()
    # reuse the training chain up to the final merged word table, then
    # encode the per-document token stream against it
    chain = chain.split("\nSELECT 1 AS round")[0]
    return f"""{chain},
tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents
),
enc AS (SELECT w, length(syms) AS n_syms FROM w{BPE_ROUNDS})
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(length(t.w)) AS BIGINT) AS n_chars,
       CAST(SUM(e.n_syms) AS BIGINT) AS n_symbols,
       CAST((SUM(length(t.w)) * 100) // SUM(e.n_syms) AS BIGINT)
         AS chars_per_100_symbols
FROM tok t JOIN enc e USING (w)
GROUP BY t.doc_id
"""


@query("tokenizer_apply_bpe", oracle=_bpe_apply_oracle())
def tokenizer_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of BPE: every document's token stream encoded
    with the merges learned by bpe_learn_merges (same `_bpe_train`
    loop, so trainer and encoder cannot drift), reporting per-doc
    token / character / post-merge symbol counts and the integer
    compression ratio (chars per 100 symbols).

    Scale shape: encoding is a broadcast-shaped equi-join of the
    token stream against the VOCAB-sized (word -> symbol-count)
    table — the corpus-scale side never shuffles on anything wider
    than the word key, and in production the trained vocab table is
    the broadcast artifact shipped with the tokenizer. Exact integer
    counts, full value-hash oracle."""
    words, _ = _bpe_train(spark, sf_dir)
    enc = words.select("w", F.size("syms").alias("n_syms"))
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    tok = docs.select("doc_id", F.explode(toks).alias("w"))
    return (
        tok.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum("n_syms").cast("bigint").alias("n_symbols"),
            F.expr("(sum(length(w)) * 100) div sum(n_syms)").alias(
                "chars_per_100_symbols"
            ),
        )
    )


# ---------------------------------------------- unigram LM scoring
_UNIGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents
),
v AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
n AS (SELECT SUM(c) AS total_tokens, COUNT(*) AS vocab FROM v),
cost AS (
  SELECT w,
         CAST(floor(-ln(CAST(c + 1 AS DOUBLE) / (total_tokens + vocab))
                    * 1000000 + 0.5) AS BIGINT) AS nll_micro
  FROM v CROSS JOIN n
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(cost.nll_micro) AS BIGINT) AS nll_total_micro,
       CAST(SUM(cost.nll_micro) // COUNT(*) AS BIGINT) AS nll_mean_micro
FROM tok t JOIN cost USING (w)
GROUP BY t.doc_id
"""


@query("quality_unigram_nll", oracle=_UNIGRAM_ORACLE)
def quality_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring — the perplexity-proxy filter
    (KenLM's role in a curation pipeline) as a self-trained unigram
    LM: corpus token counts with Laplace smoothing give every token
    a cost of -ln p(w), quantized to integer micro-units PER TOKEN
    so the per-document sums are exact integer arithmetic (never an
    order-dependent float sum); the mean is an integer division.
    High mean-NLL docs are rare-token-heavy — the curation signal.

    Scale shape: the vocab (word, cost) table is the broadcast
    artifact (Zipf-small); scoring is one broadcast join over the
    token stream + one per-doc aggregate — the tokenizer_apply_bpe
    plan with a different payload. Residual ln() 1-ulp risk at a .5
    micro boundary accepted as in BM25/PSI (documented there)."""
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    tok = docs.select("doc_id", F.explode(toks).alias("w"))
    v = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = v.agg(
        F.sum("c").alias("total_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    cost = v.crossJoin(F.broadcast(n)).select(
        "w",
        F.floor(
            -F.log((F.col("c") + 1).cast("double") / (F.col("total_tokens") + F.col("vocab")))
            * 1_000_000
            + 0.5
        )
        .cast("bigint")
        .alias("nll_micro"),
    )
    return (
        tok.join(F.broadcast(cost), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_micro").cast("bigint").alias("nll_total_micro"),
            F.expr("sum(nll_micro) div count(1)").alias("nll_mean_micro"),
        )
    )


# ------------------------------------------------- mixture sampling
#: Mixture spec: even-numbered sources are upweighted (training-mix
#: style domain weighting), in parts-per-million of each source's own
#: volume. Literal constants so both engines fold them.
MIX_PPM_EVEN = 600_000
MIX_PPM_ODD = 200_000

_MIX_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h,
         CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
              THEN {MIX_PPM_EVEN} ELSE {MIX_PPM_ODD} END AS ppm
  FROM documents
),
r AS (
  SELECT doc_id, source, ppm,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_source
  FROM d
)
SELECT doc_id, source,
       CAST(rk AS BIGINT) AS rk,
       CAST(n_source AS BIGINT) AS n_source,
       CAST(n_source * ppm // 1000000 AS BIGINT) AS quota
FROM r
WHERE rk <= n_source * ppm // 1000000
"""


@query("corpus_mix_sampling", oracle=_MIX_ORACLE)
def corpus_mix_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling — the data-mixing step
    of LLM corpus assembly: each source contributes a configured
    share of ITS OWN volume (even-numbered sources 60%, odd 20%),
    selected as the bottom-`quota` documents by the engine-portable
    md5 hash family (operators/dedup.py portable_hash64) with a
    doc_id tie-break.

    Properties that matter at 100 TB: the sample is a pure FUNCTION
    of (doc_id, source) — no RNG state, so reruns, retries and
    incremental extensions of the corpus select consistently (a doc
    stays in-sample as its source grows only if its hash rank
    stays under the moving quota — the consistent-hash 'reservoir'
    stance of sample_consistent_hash); quotas come from exact
    per-source window counts, positive truncating division
    (`div`/`//` agree on non-negatives). One shuffle on source for
    the rank window.
    """
    from gcd_etl_spark.operators.dedup import portable_hash64

    d = read_table_spread(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        portable_hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
        F.when(
            F.expr("substring(source, 4)").cast("int") % 2 == 0, F.lit(MIX_PPM_EVEN)
        )
        .otherwise(F.lit(MIX_PPM_ODD))
        .alias("ppm"),
    )
    w = Window.partitionBy("source")
    r = d.select(
        "doc_id",
        "source",
        "ppm",
        F.row_number().over(w.orderBy("h", "doc_id")).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n_source"),
    )
    quota = F.expr("n_source * ppm div 1000000")
    return (
        r.where(F.col("rk") <= quota)
        .select(
            "doc_id",
            "source",
            F.col("rk").cast("long").alias("rk"),
            F.col("n_source").cast("long").alias("n_source"),
            quota.cast("long").alias("quota"),
        )
    )


# ---------------------------------------------- feature hashing (BOW)
#: Hashed vocabulary size (buckets) for the hashing-trick vectorizer.
HASHVEC_BUCKETS = 256

_HASHVEC_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '{_TOKEN_SPLIT}'),
                            x -> x <> '')) AS word
  FROM documents
),
h AS (
  SELECT doc_id, word,
         CAST(('0x' || substr(md5('hv:' || word), 1, 15)) AS BIGINT)
           % {HASHVEC_BUCKETS} AS bucket
  FROM d
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS total_count,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_terms
FROM h GROUP BY bucket
"""


@query("text_hashing_vectorizer", oracle=_HASHVEC_ORACLE)
def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization (the vocabulary-free BOW featurizer
    of Vowpal-Wabbit/sklearn lineage): tokens hash straight into a
    fixed 256-bucket feature space — no vocabulary build, no second
    pass, no OOV problem — reported here as the per-bucket corpus
    profile (occurrences, document frequency, collision load
    ``n_terms``). On the engine-portable md5 family, so the whole
    feature space is value-hash-oracled, unlike native hashing
    vectorizers whose murmur seeds differ per library.

    Why it matters at 100 TB: a learned vocabulary is cluster state
    that must be built, broadcast and versioned; the hashed space is
    stateless — each executor featurizes rows independently (one
    explode + one groupBy with map-side partials here, and the
    per-doc sparse-vector form is the same expression grouped by
    (doc_id, bucket)). Collisions are the accepted trade — surfaced
    per bucket in ``n_terms``.
    """
    d = read_table_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
        ).alias("word"),
    )
    from gcd_etl_spark.operators.dedup import portable_hash64

    h = d.select(
        "doc_id",
        "word",
        (portable_hash64(F.concat(F.lit("hv:"), F.col("word"))) % HASHVEC_BUCKETS).alias(
            "bucket"
        ),
    )
    return h.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("total_count"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.countDistinct("word").cast("long").alias("n_terms"),
    )


# -------------------------------------------- cross-doc boilerplate
#: A trigram is boilerplate when it appears in at least this percent
#: of the corpus' documents.
BOILER_DF_PCT = 20
#: Keep rule: at most this many ppm of a doc's trigram slots may be
#: boilerplate.
BOILER_PPM_MAX = 500_000

_BOILER_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_SPLIT}'),
                     x -> x <> '') AS toks
  FROM documents
),
n AS (SELECT COUNT(*) AS n_docs FROM d),
g AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS tri
  FROM d WHERE len(toks) >= 3
),
df AS (SELECT tri, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY tri),
slots AS (
  SELECT g.doc_id,
         COUNT(*) AS n_slots,
         SUM(CASE WHEN df.df * 100 >= {BOILER_DF_PCT} * n.n_docs
                  THEN 1 ELSE 0 END) AS boiler_slots
  FROM g JOIN df USING (tri) CROSS JOIN n
  GROUP BY g.doc_id
)
SELECT doc_id,
       CAST(n_slots AS BIGINT) AS n_slots,
       CAST(boiler_slots AS BIGINT) AS boiler_slots,
       CAST(boiler_slots * 1000000 // n_slots AS BIGINT) AS boiler_ppm,
       boiler_slots * 1000000 // n_slots <= {BOILER_PPM_MAX} AS keep
FROM slots
"""


@query("corpus_boilerplate_ngrams", oracle=_BOILER_ORACLE)
def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate detection — the corpus-level
    complement to quality_repetition_ngrams' intra-doc signal: a
    trigram occurring in >= {BOILER_DF_PCT}% of all documents is
    template/boilerplate text (nav bars, license headers, scraper
    artifacts), and each document reports what fraction of its
    trigram slots that boilerplate occupies, with a keep verdict.

    Two shuffles at corpus scale: the (trigram -> document
    frequency) aggregate (map-side combinable; the vocabulary is the
    working set, not the corpus) and the slot-join back on the
    trigram key; the relative DF threshold is an integer
    cross-multiply against the corpus count, so no ratio ever
    materializes. Truncating non-negative division for the ppm (the
    quality_repetition_ngrams convention)."""
    d = read_table_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "").alias(
            "toks"
        ),
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    g = d.where(F.size("toks") >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("tri"),
    )
    df = g.groupBy("tri").agg(F.countDistinct("doc_id").alias("df"))
    slots = (
        g.join(df, "tri")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_slots"),
            F.sum(
                (F.col("df") * 100 >= BOILER_DF_PCT * F.col("n_docs")).cast("long")
            )
            .cast("long")
            .alias("boiler_slots"),
        )
    )
    ppm = F.expr("boiler_slots * 1000000 div n_slots")
    return slots.select(
        "doc_id",
        "n_slots",
        "boiler_slots",
        ppm.cast("long").alias("boiler_ppm"),
        (ppm <= BOILER_PPM_MAX).alias("keep"),
    )


# ---------------------------------------------- PMI collocations
#: Minimum bigram occurrences for a collocation candidate, and the
#: report's top-k size.
COLLOC_MIN_COUNT = 30
COLLOC_TOP_K = 25

_COLLOC_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{_TOKEN_SPLIT}'),
                     x -> x <> '') AS toks
  FROM documents
),
uni AS (
  SELECT unnest(toks) AS w FROM d
),
u AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
n AS (SELECT SUM(c) AS n_tokens FROM u),
bi AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM d WHERE len(toks) >= 2
),
b AS (SELECT bg, COUNT(*) AS c_ab FROM bi GROUP BY bg HAVING COUNT(*) >= {COLLOC_MIN_COUNT}),
scored AS (
  SELECT b.bg AS bigram, b.c_ab,
         u1.c AS c_a, u2.c AS c_b,
         CAST(floor(ln(CAST(b.c_ab AS DOUBLE) * n.n_tokens
                       / (CAST(u1.c AS DOUBLE) * u2.c))
                    * 1000000 + 0.5) AS BIGINT) AS pmi_micro
  FROM b
  JOIN u u1 ON u1.w = string_split(b.bg, ' ')[1]
  JOIN u u2 ON u2.w = string_split(b.bg, ' ')[2]
  CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_micro DESC, bigram) AS rank
  FROM scored
)
SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab, CAST(c_a AS BIGINT) AS c_a,
       CAST(c_b AS BIGINT) AS c_b, pmi_micro, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {COLLOC_TOP_K}
"""


@query("text_pmi_collocations", oracle=_COLLOC_ORACLE)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — the word2vec-phrases/tokenizer-prep step:
    adjacent word pairs scored by PMI against their unigram
    frequencies, support-filtered (>= {COLLOC_MIN_COUNT} occurrences
    — PMI without a support floor surfaces hapax noise), top-{COLLOC_TOP_K}
    by (pmi DESC, bigram). High-PMI pairs are the multi-word units a
    BPE/wordpiece vocabulary should learn as single tokens
    (bpe_learn_merges is the trainer this feeds).

    Exact counts from two explode+groupBy passes (unigrams, bigrams
    — both map-side combinable over vocabulary-sized working sets);
    the only float is the single quantized ln per surviving bigram
    (PSI stance), and top-k is orderBy+limit then rank (the BM25
    two-step, no global window over the vocabulary)."""
    d = read_table_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "").alias(
            "toks"
        ),
    )
    u = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = u.agg(F.sum("c").alias("n_tokens"))
    b = (
        d.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                    ),
                )
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= COLLOC_MIN_COUNT)
    )
    parts = F.split(F.col("bg"), " ")
    be = b.select("bg", "c_ab", parts.getItem(0).alias("w_a"), parts.getItem(1).alias("w_b"))
    scored = (
        be.join(u.select(F.col("w").alias("w_a"), F.col("c").alias("c_a")), "w_a")
        .join(u.select(F.col("w").alias("w_b"), F.col("c").alias("c_b")), "w_b")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("bg").alias("bigram"),
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            F.floor(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n_tokens")
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                )
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    from pyspark.sql import Window as W

    top = scored.orderBy(F.desc("pmi_micro"), F.asc("bigram")).limit(COLLOC_TOP_K)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.desc("pmi_micro"), F.asc("bigram")))
        .cast("long"),
    )


# ------------------------------------------- training-order shuffle
#: Shard fan-out for the deterministic epoch shuffle. At 100 TB this
#: is tens of thousands; the fixture keeps the per-shard window
#: readable. Epoch reshuffle = bump the seed string — no state, no
#: data dependency between epochs.
SHUFFLE_SHARDS = 8
SHUFFLE_SEED = "epoch0"

_SHUFFLE_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shuf:{SHUFFLE_SEED}:'
              || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM documents
)
SELECT doc_id,
       CAST(hv % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hv % {SHUFFLE_SHARDS}
                               ORDER BY hv, doc_id) AS BIGINT) AS pos
FROM h
"""


@query("corpus_shuffle_shards", oracle=_SHUFFLE_ORACLE)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document is
    assigned a shard and an intra-shard position by a seeded portable
    md5 hash — the materialized random permutation a training loader
    consumes (readers stream shard files in pos order; the epoch's
    order is i.i.d.-like yet exactly reproducible on any engine).
    No rand(), no driver state: a row's placement depends only on
    (seed, doc_id), so a re-run, a retry, or a backfill lands every
    doc in the same place.

    Scale shape: ONE hash exchange on the shard key + a per-shard
    sort for row_number — exactly the shuffle a writer needs anyway
    to emit shard files; at 100 TB the shard count scales so each
    sort fits an executor (no global single-partition order, unlike
    a naive ORDER BY rand())."""
    from pyspark.sql import Window as W

    docs = read_table_spread(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"shuf:{SHUFFLE_SEED}:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    h = docs.select("doc_id", hv.alias("hv"), (hv % SHUFFLE_SHARDS).alias("shard"))
    pos = F.row_number().over(W.partitionBy("shard").orderBy("hv", "doc_id"))
    return h.select(
        "doc_id", F.col("shard").cast("long").alias("shard"), pos.cast("long").alias("pos")
    )


# ---------------------------------------------- bigram LM scoring
_BIGRAM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || chr(31) || toks[i + 1])) AS bg
  FROM d
),
cb AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg),
cu AS (
  SELECT split_part(bg, chr(31), 1) AS p, CAST(SUM(c) AS BIGINT) AS cp
  FROM cb GROUP BY 1
),
vv AS (
  SELECT COUNT(DISTINCT w) AS vocab
  FROM (SELECT unnest(toks) AS w FROM d)
),
cost AS (
  SELECT cb.bg,
         CAST(floor(-ln(CAST(cb.c + 1 AS DOUBLE) / (cu.cp + vv.vocab))
                    * 1000000 + 0.5) AS BIGINT) AS nll_micro
  FROM cb JOIN cu ON split_part(cb.bg, chr(31), 1) = cu.p
  CROSS JOIN vv
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(cost.nll_micro) AS BIGINT) AS nll_total_micro,
       CAST(SUM(cost.nll_micro) // COUNT(*) AS BIGINT) AS nll_mean_micro
FROM bg b JOIN cost USING (bg)
GROUP BY b.doc_id
"""


@query("quality_bigram_nll", oracle=_BIGRAM_ORACLE)
def quality_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring — quality_unigram_nll upgraded to
    a conditional model: each adjacent pair (w_{i-1}, w_i) costs
    -ln p(w_i | w_{i-1}) under the corpus's own Laplace-smoothed
    bigram counts (p = (c(uv)+1) / (c(u·)+V)). Context-sensitive
    cost separates fluent-but-rare wording from token salad — the
    signal one smoothing step closer to KenLM than the unigram
    filter. Costs are quantized to integer micro-units per DISTINCT
    bigram, so per-document totals are exact integer sums (never an
    order-dependent float reduction) and the mean is integer division.

    Scale shape: the bigram table is the Zipf-small broadcast
    artifact (like the unigram vocab, one power of context larger);
    scoring = one count shuffle keyed on the bigram + one broadcast
    join over the pair stream + one per-doc aggregate. Residual ln()
    1-ulp risk at a .5 micro boundary accepted as in BM25/PSI."""
    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    sep = "\x1f"
    bigrams = _safe_bigrams(toks, sep)
    bg = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    cb = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    cu = cb.groupBy(F.split("bg", sep).getItem(0).alias("p")).agg(
        F.sum("c").cast("bigint").alias("cp")
    )
    vv = (
        docs.select(F.explode(toks).alias("w"))
        .agg(F.countDistinct("w").alias("vocab"))
    )
    cost = (
        cb.join(cu, F.split(cb.bg, sep).getItem(0) == cu.p)
        .crossJoin(F.broadcast(vv))
        .select(
            "bg",
            F.floor(
                -F.log((F.col("c") + 1).cast("double") / (F.col("cp") + F.col("vocab")))
                * 1_000_000
                + 0.5
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    return (
        bg.join(F.broadcast(cost), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_micro").cast("bigint").alias("nll_total_micro"),
            F.expr("sum(nll_micro) div count(1)").alias("nll_mean_micro"),
        )
    )


#: Rotation size for the materialized shard files — small enough that
#: rotation actually fires on the fixture (500 docs / 8 shards ~= 62
#: rows per shard -> ~2 files each); at 100 TB this is the usual
#: file-size target expressed in records.
SHUFFLE_WRITE_MAX_RECORDS = 32

#: Per-process run id baked into the shard staging path so two
#: concurrent runs on the same sf (parallel sweeps, or different
#: parent dirs sharing a basename) never overwrite each other's files
#: between the write and the read-back. Stable within a process so
#: the layout test can locate the directory after build().
_SHUFFLE_WRITE_RUN_ID = __import__("uuid").uuid4().hex[:8]


def shuffle_shards_staging_path(sf_dir: str) -> str:
    """The run-unique staging directory for the materialized epoch
    shuffle: /tmp/gcd_etl_shards_<sf-tag>_<per-process-uuid>."""
    from gcd_etl_spark.sources.catalog import sf_tag

    return f"/tmp/gcd_etl_shards_{sf_tag(sf_dir)}_{_SHUFFLE_WRITE_RUN_ID}"


@query("corpus_shuffle_shards_write", oracle=_SHUFFLE_ORACLE)
def corpus_shuffle_shards_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED half of the epoch shuffle — what a training
    loader actually consumes: the (shard, pos) permutation lands as
    shard-partitioned parquet (one directory per shard, pos-sorted
    rows, record-count file rotation), is read BACK from those files,
    and the read-back must value-match the computed permutation under
    the same oracle — proving the storage hop loses and reorders
    nothing (the gcd_snapshot_nightly_overwrite read-back discipline
    applied to the loader artifact).

    Scale shape: ONE exchange total (round 14, guide §2.4 — two
    operations keyed the same way share one exchange): the
    permutation's row_number window already hash-partitioned the data
    BY shard, so the write reuses that distribution instead of paying
    a second full-data `repartition("shard")` exchange; a local
    `sortWithinPartitions(shard, pos)` keeps every file
    loader-streamable in order (pos is row_number over the window's
    (hv, doc_id) sort — semantically the same order, but not derivable
    by the planner, and the dynamic-partition writer's own fallback
    sort is not guaranteed stable), `maxRecordsPerFile` rotation
    bounds file sizes; readers of one epoch-shard touch exactly one
    directory (partition pruning on shard)."""
    staged = shuffle_shards_staging_path(sf_dir)
    perm = corpus_shuffle_shards(spark, sf_dir)
    (
        perm.sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", SHUFFLE_WRITE_MAX_RECORDS)
        .partitionBy("shard")
        .parquet(staged)
    )
    # Explicit schema (incl. the partition column): read-back then
    # works on an empty corpus too, where the dir has no data files
    # to infer from (r7 empty-input convention).
    back = spark.read.schema("doc_id long, pos long, shard long").parquet(staged)
    return back.select(
        "doc_id", F.col("shard").cast("long").alias("shard"), F.col("pos").cast("long").alias("pos")
    )


# ------------------------------- frozen-LM delta scoring (lifecycle)
def ensure_bigram_lm_index(
    spark: SparkSession, sf_dir: str, corpus_docs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The persisted bigram-LM artifact — the KenLM operational
    pattern: the model TRAINS once on the standing corpus (one count
    pass) and is staged as two fingerprint-keyed tables, then every
    nightly delta and ingest gate scores against the FROZEN artifact
    without ever re-counting the corpus. Returns (costs, contexts):
    costs = (bg, nll_micro) for every corpus bigram; contexts =
    (p, unseen_nll_micro) per corpus context — the Laplace cost of an
    UNSEEN continuation, -ln(1/(c(p·)+V)) — plus one sentinel row
    (p = '') carrying the unknown-context cost ln(V). Both bucketed
    on their probe key."""
    from gcd_etl_spark.sources.catalog import ensure_staged, staged_name
    from gcd_etl_spark.sources.sinks import write_bucketed_table

    costs_name = staged_name("bigram_lm_costs", sf_dir, "documents")
    ctx_name = staged_name("bigram_lm_ctx", sf_dir, "documents")

    def stage() -> None:
        toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
        sep = "\x1f"
        bigrams = _safe_bigrams(toks, sep)
        bg = corpus_docs.select("doc_id", F.explode(bigrams).alias("bg"))
        cb = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
        cu = cb.groupBy(F.split("bg", sep).getItem(0).alias("p")).agg(
            F.sum("c").cast("bigint").alias("cp")
        )
        vv = (
            corpus_docs.select(F.explode(toks).alias("w"))
            .agg(F.countDistinct("w").alias("vocab"))
        )
        costs = (
            cb.join(cu, F.split(cb.bg, sep).getItem(0) == cu.p)
            .crossJoin(F.broadcast(vv))
            .select(
                "bg",
                F.floor(
                    -F.log(
                        (F.col("c") + 1).cast("double")
                        / (F.col("cp") + F.col("vocab"))
                    )
                    * 1_000_000
                    + 0.5
                )
                .cast("bigint")
                .alias("nll_micro"),
            )
        )
        ctx = cu.crossJoin(F.broadcast(vv)).select(
            "p",
            F.floor(
                F.log((F.col("cp") + F.col("vocab")).cast("double")) * 1_000_000
                + 0.5
            )
            .cast("bigint")
            .alias("unseen_nll_micro"),
        )
        sentinel = vv.select(
            F.lit("").alias("p"),
            F.floor(F.log(F.col("vocab").cast("double")) * 1_000_000 + 0.5)
            .cast("bigint")
            .alias("unseen_nll_micro"),
        )
        from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

        nb = suggest_bucket_count_for(sf_dir, "documents")
        write_bucketed_table(costs, costs_name, ["bg"], n_buckets=nb, sort_cols=["bg"])
        write_bucketed_table(
            ctx.unionByName(sentinel), ctx_name, ["p"], n_buckets=nb, sort_cols=["p"]
        )

    ensure_staged(spark, [costs_name, ctx_name], stage)
    return spark.table(costs_name), spark.table(ctx_name)


def _bigram_delta_oracle() -> str:
    from gcd_etl_spark.plans.dedup import DELTA_MOD

    return f"""
WITH d AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
corp_bg AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || chr(31) || toks[i + 1])) AS bg
  FROM d WHERE doc_id % {DELTA_MOD} <> 0
),
cb AS (SELECT bg, COUNT(*) AS c FROM corp_bg GROUP BY bg),
cu AS (
  SELECT split_part(bg, chr(31), 1) AS p, CAST(SUM(c) AS BIGINT) AS cp
  FROM cb GROUP BY 1
),
vv AS (
  SELECT COUNT(DISTINCT w) AS vocab
  FROM (SELECT unnest(toks) AS w FROM d WHERE doc_id % {DELTA_MOD} <> 0)
),
cost AS (
  SELECT cb.bg,
         CAST(floor(-ln(CAST(cb.c + 1 AS DOUBLE) / (cu.cp + vv.vocab))
                    * 1000000 + 0.5) AS BIGINT) AS nll_micro
  FROM cb JOIN cu ON split_part(cb.bg, chr(31), 1) = cu.p
  CROSS JOIN vv
),
ctx AS (
  SELECT p, CAST(floor(ln(CAST(cp + vv.vocab AS DOUBLE)) * 1000000 + 0.5)
                 AS BIGINT) AS unseen_nll_micro
  FROM cu CROSS JOIN vv
),
g AS (
  SELECT CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
         AS lnv
  FROM vv
),
delta_bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || chr(31) || toks[i + 1])) AS bg
  FROM d WHERE doc_id % {DELTA_MOD} = 0
),
scored AS (
  SELECT b.doc_id,
         COALESCE(cost.nll_micro, ctx.unseen_nll_micro, g.lnv) AS nll,
         CAST(cost.bg IS NULL AS INT) AS unseen
  FROM delta_bg b
  LEFT JOIN cost USING (bg)
  LEFT JOIN ctx ON split_part(b.bg, chr(31), 1) = ctx.p
  CROSS JOIN g
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(unseen) AS BIGINT) AS n_unseen,
       CAST(SUM(nll) AS BIGINT) AS nll_total_micro,
       CAST(SUM(nll) // COUNT(*) AS BIGINT) AS nll_mean_micro
FROM scored GROUP BY doc_id
"""


@query("quality_bigram_nll_delta", oracle=_bigram_delta_oracle())
def quality_bigram_nll_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly delta scoring under a FROZEN bigram LM — the
    production form of quality_bigram_nll and the lifecycle pattern
    of the dedup/ANN families applied to the quality filter: the LM
    trains ONCE on the standing corpus (docs outside the delta
    residue) and persists as two bucketed cost tables
    (ensure_bigram_lm_index); each night only the delta documents
    are tokenized and probed against the artifact. Unseen mass is
    scored the Laplace way — a seen-context/unseen-continuation pair
    costs -ln(1/(c(p·)+V)), an unknown context costs ln(V) — so the
    frozen model assigns every possible delta bigram a finite,
    deterministic integer cost, and n_unseen is reported per doc
    (the drift signal that schedules retraining).

    Scale shape: the staged LM is the broadcast artifact (Zipf-small
    — this IS the shippable model, the KenLM posture); scoring is
    one delta scan (residue filter pushed to parquet) + two
    broadcast left joins + one per-doc aggregate. The corpus is
    never re-counted — pinned by the plan test (zero corpus bigram
    aggregations when the index exists, staged files byte-stable
    across builds)."""
    from gcd_etl_spark.plans.dedup import DELTA_MOD

    docs = read_table_spread(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    costs, ctx_all = ensure_bigram_lm_index(spark, sf_dir, docs.where(~is_delta))
    return score_docs_frozen_bigram_lm(docs.where(is_delta), costs, ctx_all)


def score_docs_frozen_bigram_lm(
    docs: DataFrame, costs: DataFrame, ctx_all: DataFrame
) -> DataFrame:
    """Score a document frame against the FROZEN bigram-LM artifact:
    tokenize only ``docs``, broadcast-probe the staged cost/context
    tables with the Laplace unseen-fallback ladder, aggregate per
    doc. Shared by the nightly delta query and the streaming ingest
    gate so the two can never score differently."""
    g = ctx_all.where(F.col("p") == "").select(
        F.col("unseen_nll_micro").alias("lnv")
    )
    ctx = ctx_all.where(F.col("p") != "")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    sep = "\x1f"
    bigrams = _safe_bigrams(toks, sep)
    delta_bg = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    scored = (
        delta_bg.join(F.broadcast(costs), "bg", "left")
        .join(
            F.broadcast(ctx),
            F.split(delta_bg.bg, sep).getItem(0) == ctx.p,
            "left",
        )
        .crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            F.coalesce("nll_micro", "unseen_nll_micro", "lnv").alias("nll"),
            F.when(F.col("nll_micro").isNull(), 1).otherwise(0).alias("unseen"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("unseen").cast("bigint").alias("n_unseen"),
        F.sum("nll").cast("bigint").alias("nll_total_micro"),
        F.expr("sum(nll) div count(1)").alias("nll_mean_micro"),
    )



# ----------------------------- curriculum staging (round 11)
#: Number of curriculum stages (quartiles of the difficulty proxy).
CURRICULUM_STAGES = 4

_CURRICULUM_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
c AS (SELECT n_tokens, COUNT(*) AS cnt FROM d GROUP BY n_tokens),
cum AS (
  SELECT n_tokens,
         SUM(cnt) OVER (ORDER BY n_tokens
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - cnt AS cb,
         (SELECT SUM(cnt) FROM c) AS n
  FROM c
),
s AS (
  SELECT n_tokens,
         LEAST({CURRICULUM_STAGES - 1},
               CAST(cb * {CURRICULUM_STAGES} // n AS BIGINT)) AS stage
  FROM cum
)
SELECT d.doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.stage AS BIGINT) AS stage
FROM d JOIN s ON d.n_tokens = s.n_tokens
"""


@query("corpus_curriculum_order", oracle=_CURRICULUM_ORACLE)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging — shortest-first training order (the
    standard length-based curriculum) WITHOUT a global sort: every
    doc gets a stage 0..CURRICULUM_STAGES-1 by which quartile of
    the exact global token-count distribution it falls in. Stages
    are a function of the SCORE VALUE alone (stage(s) = floor(K *
    count_below(s) / N), capped) — same-score docs always share a
    stage, so there is no tie hazard for the totality audit and no
    row-order dependence anywhere.

    Scale shape: the distribution is computed as one aggregate keyed
    on the score VALUE (cardinality = distinct token counts, bounded
    and tiny next to the corpus), the cumulative runs as a window
    over that small frame (the stat_ks_two_sample single-partition
    note applies: value-keyed summary, not data), and stages
    broadcast-join back on the score — the corpus itself never
    sorts, never shuffles on anything but the tiny score key."""
    docs = read_table_spread(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
        ).cast("bigint").alias("n_tokens"),
    )
    c = d.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("n_tokens").rowsBetween(Window.unboundedPreceding, 0)
    # total N from a FULL-frame window over the same tiny score frame
    # — not a separate aggregate, which would re-scan the corpus a
    # third time and attach via a nested-loop 1-row join
    wall = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = c.select(
        "n_tokens",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cb"),
        F.sum("cnt").over(wall).alias("n"),
    )
    stages = cum.select(
        "n_tokens",
        F.least(
            F.lit(CURRICULUM_STAGES - 1),
            F.expr(f"cb * {CURRICULUM_STAGES} div n"),
        ).cast("bigint").alias("stage"),
    )
    return d.join(F.broadcast(stages), "n_tokens").select(
        "doc_id", "n_tokens", "stage"
    )



# ---------------------------------------------- DSIR importance resampling
#: Hashed n-gram feature space for the DSIR importance weights — the
#: paper's 10k-bucket space scaled to the fixture; at production
#: scale this is a config constant (the two feature distributions
#: stay 2 x DSIR_BUCKETS integers no matter the corpus size).
DSIR_BUCKETS = 512

#: Target-domain membership rule on the fixture: sources whose number
#: is divisible by 5 play the "high-quality target" corpus (src0,
#: src5, src10, src15 — 20% of documents); everything else is the
#: raw pool being scored.
DSIR_TARGET_MOD = 5

_DSIR_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(substr(source, 4) AS INT) % {DSIR_TARGET_MOD} = 0 AS is_target,
         {_DUCK_TOKS} AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, is_target,
         unnest(list_concat(
           toks,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || chr(31) || toks[i + 1])
         )) AS g
  FROM d
),
fb AS (
  SELECT doc_id, is_target,
         CAST(('0x' || substr(md5('dsir:' || g), 1, 15)) AS BIGINT)
           % {DSIR_BUCKETS} AS bucket
  FROM feats
),
cb AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM fb GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM cb
),
llr AS (
  SELECT bucket,
         CAST(floor((ln(CAST(ct + 1 AS DOUBLE) / (nt + {DSIR_BUCKETS}))
                   - ln(CAST(cr + 1 AS DOUBLE) / (nr + {DSIR_BUCKETS})))
                    * 1000000 + 0.5) AS BIGINT) AS llr_micro
  FROM cb CROSS JOIN tot
)
SELECT f.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_feats,
       CAST(SUM(l.llr_micro) AS BIGINT) AS llr_total_micro,
       CAST(floor(CAST(SUM(l.llr_micro) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
         AS llr_mean_micro,
       SUM(l.llr_micro) > 0 AS selected
FROM fb f JOIN llr l USING (bucket)
GROUP BY f.doc_id
"""


@query("corpus_dsir_weights", oracle=_DSIR_ORACLE)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al., NeurIPS 2023): score every raw
    document by the log-likelihood ratio of a TARGET-domain hashed
    n-gram model over the RAW-pool model, then select the docs whose
    features look more target-like than raw-like. Features are
    unigrams + adjacent bigrams hashed into ``DSIR_BUCKETS`` buckets
    (the hashing-trick stance of text_hashing_vectorizer — no
    vocabulary state); both bag-of-buckets multinomials get add-1
    smoothing, and per-bucket log ratios are quantized to integer
    micro-units so each document's weight is an exact integer sum
    over its feature occurrences (the quality_bigram_nll float
    discipline — never an order-dependent double reduction).

    What distinguishes this from the neighboring samplers:
    corpus_mix_sampling / sample_temperature_mix reweight whole
    SOURCES by volume; DSIR scores each DOCUMENT by content, which is
    how a web-scale crawl is steered toward a wiki/books target
    distribution without a trained classifier.

    Scale shape: two data-scaled shuffles (bucket counts; per-doc
    weight agg) + one 1-row totals broadcast into the <= 512-row
    bucket frame + one broadcast probe of that frame back onto the
    feature stream. The two model artifacts are 512 integers each
    regardless of corpus size — trainable once, persistable, and
    probe-able by a nightly delta exactly like the gram-DF family.
    """
    from gcd_etl_spark.operators.dedup import portable_hash64

    docs = read_table_spread(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    sep = "\x1f"
    bigrams = _safe_bigrams(toks, sep)
    is_target = (
        F.expr("substring(source, 4)").cast("int") % DSIR_TARGET_MOD == 0
    )
    fb = docs.select(
        "doc_id",
        is_target.alias("is_target"),
        F.explode(F.concat(toks, bigrams)).alias("g"),
    ).select(
        "doc_id",
        "is_target",
        (
            portable_hash64(F.concat(F.lit("dsir:"), F.col("g"))) % DSIR_BUCKETS
        ).alias("bucket"),
    )
    cb = fb.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).cast("bigint").alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).cast("bigint").alias("cr"),
    )
    tot = cb.agg(
        F.sum("ct").cast("bigint").alias("nt"),
        F.sum("cr").cast("bigint").alias("nr"),
    )
    llr = cb.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            (
                F.log(
                    (F.col("ct") + 1).cast("double")
                    / (F.col("nt") + DSIR_BUCKETS)
                )
                - F.log(
                    (F.col("cr") + 1).cast("double")
                    / (F.col("nr") + DSIR_BUCKETS)
                )
            )
            * 1_000_000
            + 0.5
        )
        .cast("bigint")
        .alias("llr_micro"),
    )
    return (
        fb.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("llr_micro").cast("bigint").alias("llr_total_micro"),
            F.floor(
                F.sum("llr_micro").cast("double") / F.count(F.lit(1)) + 0.5
            )
            .cast("bigint")
            .alias("llr_mean_micro"),
            (F.sum("llr_micro") > 0).alias("selected"),
        )
    )


#: The DSIR family's standing-corpus filtration name: callers passing
#: ``docs.where(doc_id % DELTA_MOD != 0)`` use this tag; any other
#: filtration must name itself (ensure_dsir_model's key contract).
DSIR_STANDING_TAG = "standing"


def ensure_dsir_model(
    spark: SparkSession,
    sf_dir: str,
    corpus_docs: DataFrame,
    *,
    filter_tag: str,
):
    """The persisted DSIR model — the importance-resampling family's
    storage half, mirroring ensure_bigram_lm / ensure_corpus_band_index:
    one bucket-keyed table of per-bucket micro-quantized log-likelihood
    ratios (target model over raw model, add-1 smoothing) staged once
    per (sf dir, documents fingerprint), plus a single DEFAULT row
    (bucket = -1) carrying the unpopulated-bucket ratio
    ln((nr+B)/(nt+B)) so a delta document hashing into a bucket the
    corpus never populated still scores exactly like the full-train
    restatement. <= DSIR_BUCKETS + 1 rows regardless of corpus size —
    the artifact a nightly delta probes without re-reading the corpus.

    ARTIFACT-KEY CONTRACT (ADVICE rounds 11 + 12): the table name
    keys on (sf dir, FULL documents fingerprint, ``filter_tag``) but
    trains on the CALLER-filtered ``corpus_docs`` — so the tag IS the
    filtration's name and is REQUIRED, keyword-only, with no default
    (round-12 ADVICE: a default empty tag let a caller training on a
    non-standard filtration silently reuse a mismatched persisted
    model). ``DSIR_STANDING_TAG`` names the family's standing-corpus
    convention (``doc_id % DELTA_MOD != 0`` — what the nightly delta
    and the ingest gate both pass, same as ensure_bigram_lm_index).
    A training-frame checksum in the key was considered and rejected:
    computing it means a full corpus_docs pass on EVERY probe run
    just to resolve the table name — at 100 TB that is a nightly
    corpus scan purchasing nothing the explicit tag doesn't."""
    import re as _re

    from gcd_etl_spark.operators.dedup import portable_hash64
    from gcd_etl_spark.sources.catalog import ensure_staged, staged_name
    from gcd_etl_spark.sources.sinks import write_bucketed_table

    if not filter_tag:
        raise ValueError(
            "ensure_dsir_model requires an explicit filter_tag naming the "
            f"corpus filtration (use DSIR_STANDING_TAG={DSIR_STANDING_TAG!r} "
            "for the standing-corpus convention)"
        )
    ftag = f"_{_re.sub(r'[^A-Za-z0-9_]', '_', filter_tag)}"
    name = staged_name("dsir_model", sf_dir, "documents") + ftag

    def stage() -> None:
        toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
        sep = "\x1f"
        bigrams = _safe_bigrams(toks, sep)
        is_target = (
            F.expr("substring(source, 4)").cast("int") % DSIR_TARGET_MOD == 0
        )
        fb = corpus_docs.select(
            is_target.alias("is_target"),
            F.explode(F.concat(toks, bigrams)).alias("g"),
        ).select(
            "is_target",
            (
                portable_hash64(F.concat(F.lit("dsir:"), F.col("g")))
                % DSIR_BUCKETS
            ).alias("bucket"),
        )
        cb = fb.groupBy("bucket").agg(
            F.sum(F.when(F.col("is_target"), 1).otherwise(0))
            .cast("bigint")
            .alias("ct"),
            F.sum(F.when(F.col("is_target"), 0).otherwise(1))
            .cast("bigint")
            .alias("cr"),
        )
        tot = cb.agg(
            F.sum("ct").cast("bigint").alias("nt"),
            F.sum("cr").cast("bigint").alias("nr"),
        )

        def _llr(ct_col, cr_col):
            return (
                F.floor(
                    (
                        F.log(
                            ct_col.cast("double") / (F.col("nt") + DSIR_BUCKETS)
                        )
                        - F.log(
                            cr_col.cast("double") / (F.col("nr") + DSIR_BUCKETS)
                        )
                    )
                    * 1_000_000
                    + 0.5
                )
                .cast("bigint")
                .alias("llr_micro")
            )

        llr = cb.crossJoin(F.broadcast(tot)).select(
            "bucket", _llr(F.col("ct") + 1, F.col("cr") + 1)
        )
        default = tot.select(
            F.lit(-1).cast("bigint").alias("bucket"), _llr(F.lit(1), F.lit(1))
        )
        write_bucketed_table(
            llr.unionByName(default),
            name,
            ["bucket"],
            n_buckets=16,
            sort_cols=["bucket"],
        )

    ensure_staged(spark, [name], stage)
    return spark.table(name)


def _dsir_delta_oracle() -> str:
    from gcd_etl_spark.plans.dedup import DELTA_MOD

    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(substr(source, 4) AS INT) % {DSIR_TARGET_MOD} = 0 AS is_target,
         {_DUCK_TOKS} AS toks
  FROM documents
),
corp_fb AS (
  SELECT is_target,
         CAST(('0x' || substr(md5('dsir:' || g), 1, 15)) AS BIGINT)
           % {DSIR_BUCKETS} AS bucket
  FROM (
    SELECT is_target,
           unnest(list_concat(
             toks,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || chr(31) || toks[i + 1])
           )) AS g
    FROM d WHERE doc_id % {DELTA_MOD} <> 0
  )
),
cb AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM corp_fb GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr FROM cb
),
llr AS (
  SELECT bucket,
         CAST(floor((ln(CAST(ct + 1 AS DOUBLE) / (nt + {DSIR_BUCKETS}))
                   - ln(CAST(cr + 1 AS DOUBLE) / (nr + {DSIR_BUCKETS})))
                    * 1000000 + 0.5) AS BIGINT) AS llr_micro
  FROM cb CROSS JOIN tot
),
dflt AS (
  SELECT CAST(floor((ln(CAST(1 AS DOUBLE) / (nt + {DSIR_BUCKETS}))
                   - ln(CAST(1 AS DOUBLE) / (nr + {DSIR_BUCKETS})))
                    * 1000000 + 0.5) AS BIGINT) AS llr_micro
  FROM tot
),
delta_fb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('dsir:' || g), 1, 15)) AS BIGINT)
           % {DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id,
           unnest(list_concat(
             toks,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || chr(31) || toks[i + 1])
           )) AS g
    FROM d WHERE doc_id % {DELTA_MOD} = 0
  )
),
scored AS (
  SELECT f.doc_id,
         COALESCE(l.llr_micro, dflt.llr_micro) AS llr,
         CAST(l.bucket IS NULL AS INT) AS unseen
  FROM delta_fb f
  LEFT JOIN llr l USING (bucket)
  CROSS JOIN dflt
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_feats,
       CAST(SUM(unseen) AS BIGINT) AS n_unseen,
       CAST(SUM(llr) AS BIGINT) AS llr_total_micro,
       CAST(floor(CAST(SUM(llr) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
         AS llr_mean_micro,
       SUM(llr) > 0 AS selected
FROM scored GROUP BY doc_id
"""


@query("corpus_dsir_delta", oracle=_dsir_delta_oracle())
def corpus_dsir_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DSIR — importance scoring at the nightly boundary,
    completing the family's lifecycle the way quality_bigram_nll_delta
    does for the quality LM: the target/raw hashed-n-gram model is
    trained ONCE on the standing corpus (``doc_id % DELTA_MOD != 0``)
    and persisted fingerprint-keyed (ensure_dsir_model, <= 513 rows);
    the nightly delta re-reads only ITS OWN documents, hashes their
    features, and probes the frozen per-bucket log-ratio table —
    zero corpus re-tokenization in steady state. Buckets the corpus
    never populated fall back to the model's single default row
    (both sides smoothed to 1 occurrence), and ``n_unseen`` surfaces
    the fallback volume as the drift signal: a rising unseen rate
    means the frozen model is stale relative to what's arriving —
    the retrain trigger, exactly as in the quality-LM family.

    Scale shape: per-night cost is O(delta) — one feature-hash agg
    over delta docs + one broadcast probe of the <= 513-row artifact;
    the corpus-sized training aggregation happens once per staging,
    amortized across every night and every downstream consumer
    (the streaming gate shares the same artifact)."""
    from gcd_etl_spark.plans.dedup import DELTA_MOD

    docs = read_table_spread(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    model = ensure_dsir_model(
        spark, sf_dir, docs.where(~is_delta), filter_tag=DSIR_STANDING_TAG
    )
    return score_docs_frozen_dsir(docs.where(is_delta), model)


def score_docs_frozen_dsir(batch_docs: DataFrame, model: DataFrame) -> DataFrame:
    """Score documents against a FROZEN persisted DSIR model — the
    exact code path shared by the nightly delta query and the
    streaming ingest gate (the score_docs_frozen_bigram_lm stance):
    hash the batch's unigram+bigram features, probe the per-bucket
    LLR table, fall back to the model's single default row for
    buckets the corpus never populated, and aggregate exact integer
    weights per document. Per-document scores are independent, so the
    union over any batching equals the one-shot nightly result."""
    from gcd_etl_spark.operators.dedup import portable_hash64

    llr = model.where(F.col("bucket") >= 0)
    dflt = model.where(F.col("bucket") < 0).select(
        F.col("llr_micro").alias("default_llr")
    )
    toks = F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda x: x != "")
    sep = "\x1f"
    bigrams = _safe_bigrams(toks, sep)
    fb = batch_docs.select(
        "doc_id",
        F.explode(F.concat(toks, bigrams)).alias("g"),
    ).select(
        "doc_id",
        (
            portable_hash64(F.concat(F.lit("dsir:"), F.col("g"))) % DSIR_BUCKETS
        ).alias("bucket"),
    )
    scored = (
        fb.join(F.broadcast(llr), "bucket", "left")
        .crossJoin(F.broadcast(dflt))
        .select(
            "doc_id",
            F.coalesce("llr_micro", "default_llr").alias("llr"),
            F.col("llr_micro").isNull().cast("int").alias("unseen"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.sum("unseen").cast("bigint").alias("n_unseen"),
        F.sum("llr").cast("bigint").alias("llr_total_micro"),
        F.floor(F.sum("llr").cast("double") / F.count(F.lit(1)) + 0.5)
        .cast("bigint")
        .alias("llr_mean_micro"),
        (F.sum("llr") > 0).alias("selected"),
    )
