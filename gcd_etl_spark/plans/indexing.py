"""Corpus indexing / layout operators — engine extensions (batch 7).

Four capabilities a 100 TB training-data pipeline needs that none of
the existing families cover (the reference's only index structure is
the Flamdex term index, Main.java:340-383, which term_table maps):

* ``setjoin_prefix_exact`` — EXACT set-similarity self-join (word-
  3-shingle Jaccard >= 0.5) via prefix filtering (AllPairs/PPJoin
  family): the sub-quadratic scale path for the pair set that
  ``dedup_ngram_jaccard`` computes quadratically, and the exact
  (non-probabilistic) counterpart of MinHash-LSH. Verification is
  pure integer arithmetic ((d+n)*inter >= n*(|x|+|y|)).
* ``dedup_cdc_chunks`` — content-defined chunking (rolling-window
  boundary rule) + chunk-hash dedup accounting: sub-document
  (substring-level) dedup, the level exact/minhash doc dedup cannot
  see. Portable md5 boundary rule runs identically on both engines.
* ``index_postings_delta`` — positional inverted index with
  delta-encoded postings, the classic search-index build (and the
  generalization of the Flamdex doc->term mapping to positions).
* ``layout_zorder_cluster`` — Z-order (Morton) multi-dimensional
  clustering + file-skipping accounting: computes per-file min/max
  zone maps under a z-ordered vs a row-order layout and counts how
  many files a 2-D box predicate must scan under each. The
  Delta/Iceberg OPTIMIZE ZORDER story as a checkable query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcd_etl_spark.functions.text import shingles, ws_tokens
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table, read_table_spread

# ------------------------------------------------ exact set-sim join
#: Jaccard threshold as an exact rational (numerator / denominator).
SETJOIN_TAU_NUM, SETJOIN_TAU_DEN = 1, 2

_DUCK_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_DUCK_SH = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')))"
    " ELSE [] END"
)

_SETJOIN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, {_DUCK_SH} AS sh FROM t
), e AS (
  SELECT doc_id, UNNEST(sh) AS gram FROM s
), sz AS (
  SELECT doc_id, len(sh) AS sz FROM s WHERE len(sh) > 0
), df AS (
  SELECT gram, COUNT(*) AS df FROM e GROUP BY gram
), ranked AS (
  SELECT e.doc_id, e.gram,
         ROW_NUMBER() OVER (PARTITION BY e.doc_id
                            ORDER BY df.df, e.gram) AS rn
  FROM e JOIN df ON e.gram = df.gram
), pfx AS (
  SELECT r.doc_id, r.gram
  FROM ranked r JOIN sz ON r.doc_id = sz.doc_id
  WHERE r.rn <= sz.sz - CAST(ceil(sz.sz * {SETJOIN_TAU_NUM}.0
                                  / {SETJOIN_TAU_DEN}) AS BIGINT) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pfx a JOIN pfx b ON a.gram = b.gram AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cand c
  JOIN e ea ON ea.doc_id = c.id_a
  JOIN e eb ON eb.doc_id = c.id_b AND eb.gram = ea.gram
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b, i.inter,
       sa.sz + sb.sz - i.inter AS uni,
       i.inter * 1000000 // (sa.sz + sb.sz - i.inter) AS jac_ppm
FROM inter i
JOIN sz sa ON i.id_a = sa.doc_id
JOIN sz sb ON i.id_b = sb.doc_id
WHERE ({SETJOIN_TAU_DEN} + {SETJOIN_TAU_NUM}) * i.inter
      >= {SETJOIN_TAU_NUM} * (sa.sz + sb.sz)
"""


@query("setjoin_prefix_exact", oracle=_SETJOIN_ORACLE)
def setjoin_prefix_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 1/2 self-join over word-3-shingle sets via
    prefix filtering — the same pair set the quadratic
    ``dedup_ngram_jaccard`` anchor computes (asserted in
    tests/test_indexing_seq.py), on a sub-quadratic plan.

    Prefix-filter guarantee (AllPairs): order every doc's shingles by
    global (doc-frequency, gram); if J(x,y) >= tau then the first
    ``|x| - ceil(tau*|x|) + 1`` elements of x and y share a gram, so
    an equi-join on prefix grams finds every qualifying pair — recall
    is 1 by construction, unlike MinHash-LSH's probabilistic
    candidates. The only shuffle keys are grams and (id_a, id_b);
    rare grams sort first, so prefix-join fan-out tracks the LOW end
    of the df distribution — the property that makes AllPairs the
    standard exact set-join at scale.

    Verification is pure integers: J >= n/d <=> (d+n)*inter >=
    n*(|x|+|y|); jac_ppm is integer floor division. No doubles
    anywhere -> full cross-engine value hash."""
    docs = read_table_spread(spark, sf_dir, "documents")
    s = docs.select("doc_id", F.expr(shingles("text", 3)).alias("sh"))
    e = s.select("doc_id", F.explode("sh").alias("gram"))
    sz = s.where(F.size("sh") > 0).select("doc_id", F.size("sh").alias("sz"))
    df = e.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = e.join(df, "gram").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "gram")),
    )
    pfx_len = (
        F.col("sz")
        - F.ceil(F.col("sz") * SETJOIN_TAU_NUM / SETJOIN_TAU_DEN)
        + 1
    )
    pfx = (
        ranked.join(sz, "doc_id")
        .where(F.col("rn") <= pfx_len)
        .select("doc_id", "gram")
    )
    a, b = pfx.alias("a"), pfx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    ea = e.select(F.col("doc_id").alias("id_a"), "gram")
    eb = e.select(F.col("doc_id").alias("id_b"), "gram")
    inter = (
        cand.join(ea, "id_a")
        .join(eb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sza = sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"))
    szb = sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"))
    return (
        inter.join(F.broadcast(sza), "id_a")
        .join(F.broadcast(szb), "id_b")
        .where(
            (SETJOIN_TAU_DEN + SETJOIN_TAU_NUM) * F.col("inter")
            >= SETJOIN_TAU_NUM * (F.col("sza") + F.col("szb"))
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("sza") + F.col("szb") - F.col("inter")).alias("uni"),
            F.expr("inter * 1000000 div (sza + szb - inter)").alias("jac_ppm"),
        )
    )


# ------------------------------------------- content-defined chunking
#: Rolling window width (chars); a position i >= CDC_W ends a chunk
#: when md5(text[i-W+1 .. i]) ends in hex nibble '0' (p = 1/16 ->
#: mean chunk length ~ W + 16 chars). The window width also lower-
#: bounds nothing — boundaries can be adjacent; determinism is what
#: matters for the accounting.
CDC_W = 8

_CDC_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, text, length(text) AS n FROM documents
  WHERE length(text) >= {CDC_W}
), b AS (
  SELECT doc_id, source, text, n,
         list_filter(generate_series({CDC_W}, n),
                     i -> substr(md5(substr(text, i - {CDC_W} + 1, {CDC_W})),
                                 32, 1) = '0') AS cuts
  FROM d
), bounds AS (
  SELECT doc_id, source, text,
         list_prepend(0, CASE WHEN len(cuts) = 0 OR cuts[-1] <> n
                              THEN list_append(cuts, n) ELSE cuts END) AS bs
  FROM b
), chunks AS (
  SELECT doc_id, source,
         UNNEST(list_transform(generate_series(1, len(bs) - 1),
                               j -> substr(text, bs[j] + 1, bs[j+1] - bs[j])))
           AS chunk
  FROM bounds
), per_hash AS (
  SELECT source, md5(chunk) AS h, COUNT(*) AS cnt,
         ANY_VALUE(length(chunk)) AS len
  FROM chunks GROUP BY source, md5(chunk)
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS total_chunks,
       COUNT(*) AS uniq_chunks,
       CAST(SUM(cnt * len) AS BIGINT) AS total_chars,
       CAST(SUM(len) AS BIGINT) AS uniq_chars
FROM per_hash GROUP BY source
"""


@query("dedup_cdc_chunks", oracle=_CDC_ORACLE)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup accounting per source: split
    every document at positions where the rolling ``CDC_W``-char
    window's md5 ends in hex '0' (portable — both engines md5 the
    same bytes), then count total vs unique chunks/chars per source.
    This is SUBSTRING-level dedup: shifting a document by one byte
    moves every fixed-block boundary but almost no content-defined
    one, so passages shared between near-identical docs land in
    identical chunks and surface as uniq_chars << total_chars.

    Plan: the boundary scan is a per-row array expression (no
    shuffle); the only shuffles are the two chunk-hash groupBys, both
    map-side combinable. The expression path costs O(len) md5 calls
    per doc — fine at fixture scale and honest about the scale path:
    at 100 TB the drop-in replacement is a mapInPandas gear-hash
    (one numpy pass per Arrow batch) feeding the SAME accounting
    aggregate, which is the part that shuffles."""
    docs = read_table_spread(spark, sf_dir, "documents")
    d = docs.where(F.length("text") >= CDC_W).select(
        "doc_id", "source", "text", F.length("text").alias("n")
    )
    cuts = F.filter(
        F.sequence(F.lit(CDC_W), F.col("n")),
        lambda i: F.substring(
            F.md5(F.col("text").substr(i - (CDC_W - 1), F.lit(CDC_W))), 32, 1
        )
        == "0",
    )
    b = d.withColumn("cuts", cuts)
    bs = F.concat(
        F.array(F.lit(0)),
        F.when(
            (F.size("cuts") == 0) | (F.element_at("cuts", -1) != F.col("n")),
            F.concat("cuts", F.array(F.col("n"))),
        ).otherwise(F.col("cuts")),
    )
    bounds = b.withColumn("bs", bs)
    chunks = bounds.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(bs) - 1),"
                " j -> substr(text, bs[j - 1] + 1, bs[j] - bs[j - 1]))"
            )
        ).alias("chunk"),
    )
    per_hash = chunks.groupBy(
        "source", F.md5("chunk").alias("h")
    ).agg(F.count(F.lit(1)).alias("cnt"), F.first(F.length("chunk")).alias("len"))
    return per_hash.groupBy("source").agg(
        F.sum("cnt").alias("total_chunks"),
        F.count(F.lit(1)).alias("uniq_chunks"),
        F.sum(F.col("cnt") * F.col("len")).alias("total_chars"),
        F.sum("len").alias("uniq_chars"),
    )


# ------------------------------------------------- positional postings
#: Emit only terms appearing in at least this many docs; cap output.
POSTINGS_MIN_DF = 5
POSTINGS_TOP = 200

_POSTINGS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), p AS (
  SELECT t.doc_id, t.toks[i] AS term, i AS pos
  FROM t, UNNEST(generate_series(1, len(t.toks))) AS u(i)
), per_doc AS (
  SELECT term, doc_id, list_sort(list(pos)) AS ps
  FROM p GROUP BY term, doc_id
), enc AS (
  SELECT term, doc_id, len(ps) AS tf,
         CAST(doc_id AS VARCHAR) || ':' ||
         array_to_string(list_transform(generate_series(1, len(ps)),
             j -> CASE WHEN j = 1 THEN ps[1] ELSE ps[j] - ps[j-1] END), ',')
           AS posting
  FROM per_doc
)
SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total,
       array_to_string(list(posting ORDER BY doc_id), ';') AS postings
FROM enc GROUP BY term
HAVING COUNT(*) >= {POSTINGS_MIN_DF}
ORDER BY df DESC, term LIMIT {POSTINGS_TOP}
"""


@query("index_postings_delta", oracle=_POSTINGS_ORACLE)
def index_postings_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index: term -> (df, total tf, postings
    string ``doc:pos1,Δ,Δ;doc:...``) with per-doc positions
    delta-encoded — the classic search-index build, generalizing the
    reference's Flamdex doc->term mapping (Main.java:340-383) to
    positions. Postings serialize deterministically (docs ascending
    NUMERICALLY via a struct sort, positions ascending), so the whole
    index value-hashes cross-engine.

    Plan: posexplode (no shuffle) -> (term, doc) groupBy building
    each posting -> term groupBy concatenating ordered postings; both
    aggregations are map-side-combinable and the final ORDER BY df is
    a top-k (TakeOrderedAndProject). At 100 TB you'd range-partition
    by term and sink each partition as an index segment; the plan
    shape is unchanged."""
    docs = read_table_spread(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id", F.posexplode(F.expr(ws_tokens("text"))).alias("pos0", "term")
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    per_doc = p.groupBy("term", "doc_id").agg(
        F.array_sort(F.collect_list("pos")).alias("ps")
    )
    deltas = F.expr(
        "array_join(transform(sequence(1, size(ps)),"
        " j -> CASE WHEN j = 1 THEN ps[0] ELSE ps[j - 1] - ps[j - 2] END), ',')"
    )
    enc = per_doc.select(
        "term",
        "doc_id",
        F.size("ps").alias("tf"),
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), deltas).alias(
            "posting"
        ),
    )
    agg = enc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "posting"))),
                lambda s: s["posting"],
            ),
            ";",
        ).alias("postings"),
    )
    return (
        agg.where(F.col("df") >= POSTINGS_MIN_DF)
        .orderBy(F.desc("df"), "term")
        .limit(POSTINGS_TOP)
    )


# --------------------------------------------------- z-order layout
#: 8-bit x/y grid keys, rows per simulated file, and the probe box.
Z_BITS = 8
Z_ROWS_PER_FILE = 4096
Z_BOX = (32, 47, 96, 127)  # x_lo, x_hi, y_lo, y_hi


def _morton_sql(x: str, y: str) -> str:
    """Morton interleave as pure arithmetic (portable // and %):
    z = sum_k [ ((x >> k) & 1) << 2k  +  ((y >> k) & 1) << 2k+1 ]."""
    return " + ".join(
        f"((({x}) // {1 << k}) % 2) * {1 << (2 * k)}"
        f" + ((({y}) // {1 << k}) % 2) * {1 << (2 * k + 1)}"
        for k in range(Z_BITS)
    )


def _zorder_oracle() -> str:
    x_lo, x_hi, y_lo, y_hi = Z_BOX
    return f"""
WITH pts AS (
  SELECT o_orderkey AS rid,
         o_custkey % {1 << Z_BITS} AS x,
         (CAST(epoch(o_orderdate) AS BIGINT) // 86400) % {1 << Z_BITS} AS y
  FROM orders
), keyed AS (
  SELECT rid, x, y, {_morton_sql('x', 'y')} AS z FROM pts
), layouts AS (
  SELECT 'zorder' AS layout, x, y,
         (ROW_NUMBER() OVER (ORDER BY z, rid) - 1)
           // {Z_ROWS_PER_FILE} AS file_id
  FROM keyed
  UNION ALL
  SELECT 'linear' AS layout, x, y,
         (ROW_NUMBER() OVER (ORDER BY rid) - 1)
           // {Z_ROWS_PER_FILE} AS file_id
  FROM keyed
), zones AS (
  SELECT layout, file_id,
         MIN(x) AS x_min, MAX(x) AS x_max,
         MIN(y) AS y_min, MAX(y) AS y_max
  FROM layouts GROUP BY layout, file_id
)
SELECT layout,
       COUNT(*) AS files_total,
       CAST(SUM(CASE WHEN x_max >= {x_lo} AND x_min <= {x_hi}
                      AND y_max >= {y_lo} AND y_min <= {y_hi}
                THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned
FROM zones GROUP BY layout
"""


@query("layout_zorder_cluster", oracle=_zorder_oracle())
def layout_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering as a checkable query: map orders onto an
    8-bit (custkey, order-day) grid, Morton-interleave the bits with
    pure // and % arithmetic (no engine bit-op dialect), lay rows
    into 4096-row files under (a) z-order and (b) row order, build
    per-file min/max zone maps, and count the files a 2-D box
    predicate must scan under each layout. Z-order keeps both
    dimensions locally dense per file, so files_scanned(zorder) <<
    files_scanned(linear) — the measurable reason Delta/Iceberg
    OPTIMIZE ZORDER exists, here as a first-class result with a full
    integer oracle (asserted, not just reported, in
    tests/test_indexing_seq.py).

    Plan: one projection, two window row_numbers (each one
    total-order sort — exactly the sort OPTIMIZE performs; at scale
    it is a range-partitioned sort, not a single reducer), one
    zone-map groupBy. All integers end to end. Epoch arithmetic
    follows the repo convention (session TZ pinned UTC,
    session.py:64, so naive-timestamp epoch matches DuckDB's)."""
    x_lo, x_hi, y_lo, y_hi = Z_BOX
    o = read_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderkey").alias("rid"),
        (F.col("o_custkey") % (1 << Z_BITS)).alias("x"),
        F.expr(
            f"(unix_micros(cast(o_orderdate as timestamp)) div 86400000000)"
            f" % {1 << Z_BITS}"
        ).alias("y"),
    )
    zexpr = None
    for k in range(Z_BITS):
        term = (F.floor(F.col("x") / (1 << k)) % 2) * (1 << (2 * k)) + (
            F.floor(F.col("y") / (1 << k)) % 2
        ) * (1 << (2 * k + 1))
        zexpr = term if zexpr is None else zexpr + term
    keyed = pts.withColumn("z", zexpr)
    zorder = keyed.select(
        F.lit("zorder").alias("layout"),
        "x",
        "y",
        F.expr(
            f"(row_number() over (order by z, rid) - 1)"
            f" div {Z_ROWS_PER_FILE}"
        ).alias("file_id"),
    )
    linear = keyed.select(
        F.lit("linear").alias("layout"),
        "x",
        "y",
        F.expr(
            f"(row_number() over (order by rid) - 1) div {Z_ROWS_PER_FILE}"
        ).alias("file_id"),
    )
    zones = (
        zorder.unionAll(linear)
        .groupBy("layout", "file_id")
        .agg(
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )
    hit = (
        (F.col("x_max") >= x_lo)
        & (F.col("x_min") <= x_hi)
        & (F.col("y_max") >= y_lo)
        & (F.col("y_min") <= y_hi)
    )
    return zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("files_total"),
        F.sum(hit.cast("bigint")).alias("files_scanned"),
    )
