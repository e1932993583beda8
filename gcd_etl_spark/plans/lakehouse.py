"""Lakehouse / table-maintenance operators — engine extensions (batch 8).

Operational capabilities around the core query surface, each with a
full cross-engine value-hash oracle:

* ``table_checksum`` — order-insensitive table fingerprint (sum of
  per-row md5-derived integers, dual modulus): the migration /
  replication validation primitive — exactly the check THIS repo's
  driver gate performs, offered as an engine operator.
* ``feature_quantile_bins`` — equal-frequency (decile) binning of a
  numeric column with per-bin stats: the feature-engineering
  discretizer, deterministic via a total tie-broken order.
* ``reshape_unpivot`` — wide->long melt of a pivoted aggregate
  (pivot and its inverse in one plan) via the native ``unpivot``.
* ``setjoin_containment_exact`` — directed containment join
  (|x∩y|/|x| >= 1/2): finds documents mostly CONTAINED in another
  (quote/subset detection), the asymmetric sibling of
  ``setjoin_prefix_exact``.
* ``sample_reservoir_per_group`` — exactly-k-per-group deterministic
  uniform sample via portable hash ranking (the distributed
  "reservoir" with replayable results).
* ``stream_static_enrich`` — Structured Streaming micro-batches
  joined against a broadcast static dimension, converged aggregate
  hash-matched to the batch join (streaming/jobs.py).
* ``source_orc_roundtrip`` — columnar interchange: write ORC, read
  it back, aggregate — proving a second columnar format end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table, read_table_spread, sf_tag

# ----------------------------------------------------- table checksum
#: Dual moduli: two independent residues make a 60-bit-ish digest
#: collision-resistant enough for validation while keeping the SUM
#: inside BIGINT headroom (n_rows * p < 2^63 up to ~9e9 rows; at full
#: 100 TB scale lift the accumulator to decimal(38,0) — same plan).
CK_P1 = 1_000_000_007
CK_P2 = 998_244_353

#: NULL marker that cannot collide with real values in the fixtures
#: (U+2400 SYMBOL FOR NULL — printable, so it embeds in SQL literals;
#: a raw NUL byte terminates DuckDB's string parser).
_NULLM = "␀"


def _row_sig_sql(cols: list[str]) -> str:
    parts = ", ".join(f"COALESCE({c}, '{_NULLM}')" for c in cols)
    return f"concat_ws('\x1f', {parts})"


def _ck_oracle() -> str:
    specs = {
        "orders": [
            "CAST(o_orderkey AS VARCHAR)",
            "CAST(o_custkey AS VARCHAR)",
            "o_orderstatus",
            "o_orderpriority",
            "strftime(o_orderdate, '%Y%m%d')",
        ],
        "customer": [
            "CAST(c_custkey AS VARCHAR)",
            "c_name",
            "CAST(c_nationkey AS VARCHAR)",
            "c_mktsegment",
        ],
        "supplier": [
            "CAST(s_suppkey AS VARCHAR)",
            "s_name",
            "CAST(s_nationkey AS VARCHAR)",
        ],
    }
    selects = []
    for t, cols in specs.items():
        sig = _row_sig_sql(cols)
        selects.append(
            f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows,\n"
            f"  CAST(SUM(('0x' || substr(md5({sig}), 1, 15))::BIGINT"
            f" % {CK_P1}) AS BIGINT) AS digest1,\n"
            f"  CAST(SUM(('0x' || substr(md5({sig}), 1, 15))::BIGINT"
            f" % {CK_P2}) AS BIGINT) AS digest2\n"
            f"FROM {t}"
        )
    return "\nUNION ALL\n".join(selects)


@query("table_checksum", oracle=_ck_oracle())
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprints for three tables in one
    result: canonical row serialization (typed columns -> strings,
    NULL marker, unit separator) -> md5 -> 60-bit integer -> modular
    SUM under two primes + row count. Equal digests across engines /
    replicas / migrations certify equal content without moving rows
    — the validation primitive behind this repo's own driver gate.

    The serialized projection deliberately excludes raw doubles
    (float repr is engine-dialect; integer cents belong in a digest,
    raw doubles do not) — typed casts make the digest well-defined.
    Plan: pure map-side expression + one partial-aggregable SUM per
    table; no shuffle wider than 1 row per table."""
    specs = {
        "orders": lambda df: [
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
            F.date_format("o_orderdate", "yyyyMMdd"),
        ],
        "customer": lambda df: [
            F.col("c_custkey").cast("string"),
            F.col("c_name"),
            F.col("c_nationkey").cast("string"),
            F.col("c_mktsegment"),
        ],
        "supplier": lambda df: [
            F.col("s_suppkey").cast("string"),
            F.col("s_name"),
            F.col("s_nationkey").cast("string"),
        ],
    }
    outs = []
    for t, colf in specs.items():
        df = read_table(spark, sf_dir, t)
        sig = F.concat_ws(
            "\x1f", *[F.coalesce(c, F.lit(_NULLM)) for c in colf(df)]
        )
        h = F.conv(F.substring(F.md5(sig), 1, 15), 16, 10).cast("bigint")
        outs.append(
            df.select(h.alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("h") % CK_P1).alias("digest1"),
                F.sum(F.col("h") % CK_P2).alias("digest2"),
            )
            .select(
                F.lit(t).alias("table_name"), "n_rows", "digest1", "digest2"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ------------------------------------------------ quantile (decile) bins
BIN_N = 10

_BINS_ORACLE = f"""
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         NTILE({BIN_N}) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT bin, COUNT(*) AS n,
       MIN(cents) AS min_cents, MAX(cents) AS max_cents
FROM r GROUP BY bin
"""


@query("feature_quantile_bins", oracle=_BINS_ORACLE)
def feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) discretization of o_totalprice with
    per-bin stats — the feature-engineering binner. NTILE over a
    total order (price, orderkey tie-break) is deterministic on both
    engines even under price ties; bin edges come out as exact
    integer cents. One sort + one groupBy; at scale NTILE's total
    order is the same range-partitioned sort the z-order layout uses
    — and in practice you'd compute approximate edges with the GK
    sketch (sketch_quantile_bound) and keep THIS as the exact
    auditor."""
    r = read_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.ntile(BIN_N)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("bin"),
    )
    return r.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


# ------------------------------------------------------------- unpivot
_UNPIVOT_ORACLE = """
WITH w AS (
  SELECT o_orderpriority,
         CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS cnt_F,
         CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS cnt_O,
         CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS cnt_P
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'cnt_F' AS status_col, cnt_F AS n FROM w
UNION ALL SELECT o_orderpriority, 'cnt_O', cnt_O FROM w
UNION ALL SELECT o_orderpriority, 'cnt_P', cnt_P FROM w
"""


@query("reshape_unpivot", oracle=_UNPIVOT_ORACLE)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot and its inverse in one plan: per-priority status counts
    go wide (pivot on the closed status domain) and then back to
    long via the native ``DataFrame.unpivot`` (Spark's melt) — the
    reshape pair every feature/reporting pipeline needs. Pivoting on
    an explicitly listed domain keeps the plan static (no collect of
    distinct values); unpivot is a zero-shuffle expression."""
    w = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("cnt_F"),
            F.coalesce("O", F.lit(0)).alias("cnt_O"),
            F.coalesce("P", F.lit(0)).alias("cnt_P"),
        )
    )
    return w.unpivot(
        ["o_orderpriority"],
        ["cnt_F", "cnt_O", "cnt_P"],
        "status_col",
        "n",
    )


# ----------------------------------------- containment set join (directed)
#: Containment threshold |x ∩ y| / |x| >= C_NUM/C_DEN.
C_NUM, C_DEN = 1, 2

_DUCK_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_DUCK_SH = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')))"
    " ELSE [] END"
)

_CONTAIN_ORACLE = f"""
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
  WHERE r.rn <= sz.sz - CAST(ceil(sz.sz * {C_NUM}.0 / {C_DEN}) AS BIGINT) + 1
), cand AS (
  SELECT DISTINCT p.doc_id AS id_x, e.doc_id AS id_y
  FROM pfx p JOIN e ON p.gram = e.gram AND p.doc_id <> e.doc_id
), inter AS (
  SELECT c.id_x, c.id_y, COUNT(*) AS inter
  FROM cand c
  JOIN e ex ON ex.doc_id = c.id_x
  JOIN e ey ON ey.doc_id = c.id_y AND ey.gram = ex.gram
  GROUP BY c.id_x, c.id_y
)
SELECT i.id_x, i.id_y, i.inter, sx.sz AS sz_x,
       i.inter * 1000000 // sx.sz AS containment_ppm
FROM inter i JOIN sz sx ON i.id_x = sx.doc_id
WHERE {C_DEN} * i.inter >= {C_NUM} * sx.sz
"""


@query("setjoin_containment_exact", oracle=_CONTAIN_ORACLE)
def setjoin_containment_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment join: (x, y) pairs where at least half of
    x's word-3-shingles also occur in y — subset/quote detection,
    the asymmetric sibling of setjoin_prefix_exact (a tiny doc can be
    contained in a huge one at near-zero Jaccard). Prefix filtering
    applies on the CONTAINED side only (if |x∩y|/|x| >= t then y hits
    one of x's first |x|-ceil(t|x|)+1 df-ordered shingles), joined
    against the full posting list of y. All arithmetic integer:
    d*inter >= n*|x|, ppm by floor division."""
    from gcd_etl_spark.functions.text import shingles

    docs = read_table_spread(spark, sf_dir, "documents")
    s = docs.select("doc_id", F.expr(shingles("text", 3)).alias("sh"))
    e = s.select("doc_id", F.explode("sh").alias("gram"))
    sz = s.where(F.size("sh") > 0).select("doc_id", F.size("sh").alias("sz"))
    dfreq = e.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = e.join(dfreq, "gram").withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "gram")),
    )
    pfx_len = F.col("sz") - F.ceil(F.col("sz") * C_NUM / C_DEN) + 1
    pfx = (
        ranked.join(sz, "doc_id")
        .where(F.col("rn") <= pfx_len)
        .select("doc_id", "gram")
    )
    cand = (
        pfx.alias("p")
        .join(
            e.alias("q"),
            (F.col("p.gram") == F.col("q.gram"))
            & (F.col("p.doc_id") != F.col("q.doc_id")),
        )
        .select(F.col("p.doc_id").alias("id_x"), F.col("q.doc_id").alias("id_y"))
        .distinct()
    )
    ex = e.select(F.col("doc_id").alias("id_x"), "gram")
    ey = e.select(F.col("doc_id").alias("id_y"), "gram")
    inter = (
        cand.join(ex, "id_x")
        .join(ey, ["id_y", "gram"])
        .groupBy("id_x", "id_y")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    szx = sz.select(F.col("doc_id").alias("id_x"), F.col("sz").alias("sz_x"))
    return (
        inter.join(F.broadcast(szx), "id_x")
        .where(C_DEN * F.col("inter") >= C_NUM * F.col("sz_x"))
        .select(
            "id_x",
            "id_y",
            "inter",
            "sz_x",
            F.expr("inter * 1000000 div sz_x").alias("containment_ppm"),
        )
    )


# ----------------------------------------- reservoir-per-group sample
RESERVOIR_K = 20

_RESERVOIR_ORACLE = f"""
WITH r AS (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY substr(md5(event_type || ':' || CAST(event_id AS VARCHAR)),
                           1, 16), event_id) AS rn
  FROM events
)
SELECT event_type, event_id FROM r WHERE rn <= {RESERVOIR_K}
"""


@query("sample_reservoir_per_group", oracle=_RESERVOIR_ORACLE)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-min(k, n) rows per group, uniform and REPLAYABLE: rank
    rows inside each group by a portable keyed hash (md5 prefix) and
    keep the first k — the deterministic reservoir. Unlike rand()-
    seeded sampling, re-running on any engine (or after a backfill)
    selects the same rows, which is what makes sampled eval sets
    reproducible. One window shuffle on the group key; at scale the
    rank is a per-group top-k (no full sort needed)."""
    r = read_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("event_type"), F.col("event_id").cast("string")
                        )
                    ),
                    1,
                    16,
                ),
                "event_id",
            )
        )
        .alias("rn"),
    )
    return r.where(F.col("rn") <= RESERVOIR_K).select("event_type", "event_id")


# ------------------------------------------------ stream-static enrich
_ENRICH_ORACLE = """
SELECT n.n_name AS dim_key, e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1, 2
"""


@query("stream_static_enrich", oracle=_ENRICH_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: file-source micro-batches of events are
    enriched against a broadcast static dimension (customer -> nation
    name) inside the STREAMING engine, aggregated per (nation, type),
    and the converged memory-sink state must hash-match the batch
    3-table join — the standard reference-data-enrichment topology.
    The static side is planned once and rebroadcast per micro-batch;
    join itself is stateless so the only streaming state is the
    aggregate. Integer cents keep stream/batch equality exact."""
    from gcd_etl_spark.streaming.jobs import _stage_events, run_streaming_static_enrich

    staged, tag = _stage_events(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        "user_id", F.col("n_name").alias("dim_key")
    )
    return run_streaming_static_enrich(
        spark, staged, dim, name=f"stream_enrich_{tag}"
    )


# --------------------------------------------------- ORC round-trip
_ORC_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY o_orderpriority
"""


@query("source_orc_roundtrip", oracle=_ORC_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second columnar format end-to-end: orders -> ORC (snappy,
    typed schema preserved) -> read back -> aggregate; must equal SQL
    over the original parquet. Proves the engine's source/sink
    surface isn't parquet-shaped only — ORC shares the same
    pushdown/pruning machinery (predicate + column pruning reach the
    ORC scan the same way), which is what matters on a mixed-format
    lake. Doubles survive bit-exactly through the round trip (cents
    cast happens after re-read)."""
    tag = sf_tag(sf_dir)
    staged = f"/tmp/gcd_etl_orc_orders_{tag}"
    read_table(spark, sf_dir, "orders").write.mode("overwrite").orc(staged)
    back = spark.read.orc(staged)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
    )


# ---------------------------------------------- zone-map data skipping
#: Synthetic file chunking (orderkey-clustered, ~1000 keys per file)
#: and the range predicate the zone maps are probed with (cents).
ZM_KEYS_PER_FILE = 1000
ZM_LO_CENTS = 20_000_000
ZM_HI_CENTS = 30_000_000

_ZONEMAP_ORACLE = f"""
WITH f AS (
  SELECT o_orderkey // {ZM_KEYS_PER_FILE} AS file_id,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
z AS (
  SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(cents) AS min_cents, MAX(cents) AS max_cents,
         CAST(SUM(CASE WHEN cents BETWEEN {ZM_LO_CENTS} AND {ZM_HI_CENTS}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_matching
  FROM f GROUP BY file_id
)
SELECT file_id, n_rows, min_cents, max_cents, n_matching,
       max_cents < {ZM_LO_CENTS} OR min_cents > {ZM_HI_CENTS} AS pruned
FROM z
"""


@query("scan_zonemap_prune", oracle=_ZONEMAP_ORACLE)
def scan_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) data-skipping report: the
    orders fact is chunked into orderkey-clustered pseudo-files, a
    per-file (min, max, count) zone map is built in one grouped
    pass, and a cents-range predicate is answered against the maps —
    each file reports whether the zone map alone PRUNES it
    (``max < lo OR min > hi``) alongside its exact in-range count,
    so soundness is IN the hashed result: a pruned file must show
    ``n_matching = 0`` (asserted in tests/test_r5_ops.py).

    This is the operator-level statement of what
    parquet row-group statistics + ``PushedFilters`` do physically
    in every scan of this engine (and what layout_zorder_cluster
    optimizes FOR): skipping effectiveness is a function of layout —
    orderkey-clustered files give near-random totalprice ranges, so
    most files survive; re-clustering by the filter column collapses
    them. Prices quantize to exact BIGINT cents (round-half-even on
    the same doubles both engines — the table_checksum stance).
    """
    o = read_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") / ZM_KEYS_PER_FILE).cast("long").alias("file_id"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    z = o.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.sum(
            F.col("cents").between(ZM_LO_CENTS, ZM_HI_CENTS).cast("long")
        ).alias("n_matching"),
    )
    return z.select(
        "file_id",
        "n_rows",
        "min_cents",
        "max_cents",
        "n_matching",
        (
            (F.col("max_cents") < ZM_LO_CENTS) | (F.col("min_cents") > ZM_HI_CENTS)
        ).alias("pruned"),
    )


# ----------------------------------------------- CSV / JSON round-trips
_CSV_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer GROUP BY c_mktsegment
"""


@query("source_csv_roundtrip", oracle=_CSV_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format ingestion end-to-end: customer -> CSV (header,
    explicit quote/escape defaults) -> read back with a DECLARED
    schema (never inferSchema in production: one extra full scan and
    type drift across files) -> aggregate; must equal SQL over the
    original parquet. Doubles survive because Spark writes the
    shortest round-tripping decimal representation and the typed
    read parses it back to the identical bit pattern. CSV is the
    interchange format every dump/export lands in (the reference's
    own source is a mysqldump variant — sources/dump.py); this pins
    that the engine's CSV path is lossless for the relational core.
    """
    tag = sf_tag(sf_dir)
    staged = f"/tmp/gcd_etl_csv_customer_{tag}"
    cust = read_table(spark, sf_dir, "customer")
    cust.write.mode("overwrite").option("header", True).csv(staged)
    back = (
        spark.read.schema(cust.schema).option("header", True).csv(staged)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
        .cast("long")
        .alias("bal_cents"),
    )


_JSON_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(p_size) AS BIGINT) AS total_size,
       CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
         AS retail_cents
FROM part GROUP BY p_brand
"""


@query("source_json_roundtrip", oracle=_JSON_ORACLE)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingestion end-to-end: part -> JSONL -> typed
    read-back -> aggregate, equal to SQL over the original parquet.
    Same declared-schema stance as the CSV path (schema inference
    over JSON is worse: it unions types across the whole dataset).
    JSONL is the landing format of most event/API feeds; with the
    CSV and ORC round-trips this closes the S-surface triangle —
    text row formats, columnar formats, and the parquet core all
    proven lossless through one aggregate contract."""
    tag = sf_tag(sf_dir)
    staged = f"/tmp/gcd_etl_json_part_{tag}"
    part = read_table(spark, sf_dir, "part")
    part.write.mode("overwrite").json(staged)
    back = spark.read.schema(part.schema).json(staged)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p_size").cast("long").alias("total_size"),
        F.sum(F.round(F.col("p_retailprice") * 100).cast("bigint"))
        .cast("long")
        .alias("retail_cents"),
    )


# ------------------------------------------------ calendar dimension
_CALENDAR_ORACLE = """
WITH b AS (
  SELECT CAST(MIN(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS d0,
         CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS d1
  FROM orders
),
cal AS (
  SELECT unnest(range(d0, d1 + 1)) AS day FROM b
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(date_part('year', to_timestamp(day * 86400)) * 10000
            + date_part('month', to_timestamp(day * 86400)) * 100
            + date_part('day', to_timestamp(day * 86400)) AS BIGINT) AS ymd,
       CAST((day + 3) % 7 AS BIGINT) AS dow,
       (day + 3) % 7 IN (5, 6) AS is_weekend,
       CAST((date_part('month', to_timestamp(day * 86400)) + 2) // 3
            AS BIGINT) AS quarter
FROM cal
"""


@query("dim_calendar_generate", oracle=_CALENDAR_ORACLE)
def dim_calendar_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension GENERATION — the warehouse table every date
    rollup joins against, built from the fact table's own date span
    with ``sequence`` + explode (no source data needed, fully
    deterministic): epoch-day key, yyyymmdd, day-of-week from pure
    modular arithmetic (epoch day 0 = Thursday = dow 3, so
    ``(d+3)%7`` makes 0=Monday — no locale/WEEKSTART dependence, a
    classic cross-engine trap; pinned against Python's
    date.weekday() in tests/test_r5_trend.py), weekend flag,
    quarter. Calendar fields come from the UTC
    timestamp reconstruction, matching DuckDB's to_timestamp; the
    generated dimension is broadcast-sized by construction (|days|)."""
    b = read_table(spark, sf_dir, "orders").agg(
        F.min(F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")).alias("d0"),
        F.max(F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")).alias("d1"),
    )
    cal = b.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    ts = F.timestamp_seconds(F.col("day") * 86400)
    return cal.select(
        F.col("day").cast("long").alias("day"),
        (F.year(ts) * 10000 + F.month(ts) * 100 + F.dayofmonth(ts))
        .cast("long")
        .alias("ymd"),
        ((F.col("day") + 3) % 7).cast("long").alias("dow"),
        ((F.col("day") + 3) % 7).isin(5, 6).alias("is_weekend"),
        ((F.month(ts) + 2).cast("long") / 3).cast("long").alias("quarter"),
    )


# ------------------------------------------- parquet schema evolution
#: priority_rank exists only in the second (evolved) batch.
_EVOLVE_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_rank,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 5 ELSE 0 END)
            AS BIGINT) AS rank_sum
FROM orders GROUP BY o_orderpriority
"""


@query("source_schema_evolution", oracle=_EVOLVE_ORACLE)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet SCHEMA EVOLUTION end-to-end — the lakehouse surface a
    long-lived snapshot table actually exercises (the reference's
    Athena DDL is fixed-schema; at 100 TB a column added in year 3
    must not force a historical rewrite). Batch 1 writes orders v1
    (key, priority, price); batch 2 writes the EVOLVED schema with an
    added int column (priority_rank). One mergeSchema read spans both
    batches: old rows surface the new column as NULL, and the
    aggregate proves values, null semantics and the widened schema
    all survive — held to a DuckDB restatement from the original
    table. At scale this is metadata-only evolution: new files carry
    the new footer, old files are untouched, and the merged scan
    costs one extra footer pass (production pins the merged schema in
    the catalog instead of re-inferring per query)."""
    tag = sf_tag(sf_dir)
    staged = f"/tmp/gcd_etl_evolve_orders_{tag}"
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    v1 = orders.where(F.col("o_orderkey") % 2 == 0)
    v2 = orders.where(F.col("o_orderkey") % 2 == 1).withColumn(
        "priority_rank", (F.col("o_orderkey") % 5).cast("int")
    )
    v1.write.mode("overwrite").parquet(f"{staged}/batch=1")
    v2.write.mode("overwrite").parquet(f"{staged}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{staged}/batch=1", f"{staged}/batch=2"
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        F.count("priority_rank").alias("n_with_rank"),
        F.coalesce(F.sum("priority_rank"), F.lit(0)).cast("bigint").alias("rank_sum"),
    )


# ------------------------------- corrupt-record quarantine (P6 @ source)
#: Every order whose key is divisible by this is serialized as a
#: deliberately-malformed JSON line.
CORRUPT_EVERY = 97

_CORRUPT_ORACLE = f"""
SELECT CAST(SUM(CASE WHEN o_orderkey % {CORRUPT_EVERY} <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN o_orderkey % {CORRUPT_EVERY} = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN o_orderkey % {CORRUPT_EVERY} <> 0
                     THEN CAST(round(o_totalprice * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS good_cents
FROM orders
"""


@query("source_json_corrupt_quarantine", oracle=_CORRUPT_ORACLE)
def source_json_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level error QUARANTINE at the source layer — the
    reference's P6 skip-and-continue semantic (reference
    Main.java:253-258 swallows per-row parse failures) applied where
    production actually meets it: a JSONL feed with malformed lines.
    Orders are serialized to JSONL with every {CORRUPT_EVERY}th key
    deliberately broken (truncated mid-object); the PERMISSIVE read
    captures the broken lines in ``_corrupt_record`` instead of
    failing the job or silently dropping them, and the result proves
    the three-way accounting exactly: good rows keep their values
    (cents checksum), corrupt rows are counted — never lost — and
    good + corrupt = every input line. The oracle recomputes all
    three from the original table via the same key rule. At 100 TB
    this is the difference between a nightly feed with 0.001% bad
    lines completing with a quarantine report and that feed either
    dying (FAILFAST) or lying (DROPMALFORMED)."""
    tag = sf_tag(sf_dir)
    staged = f"/tmp/gcd_etl_json_corrupt_{tag}"
    orders = read_table(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % CORRUPT_EVERY == 0,
        # truncated mid-object: unparseable, but still one text line
        F.concat(F.lit('{"o_orderkey": '), F.col("o_orderkey").cast("string"), F.lit(', "o_tot')),
    ).otherwise(
        F.to_json(
            F.struct(
                F.col("o_orderkey"),
                F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            )
        )
    )
    orders.select(line.alias("value")).write.mode("overwrite").text(staged)
    schema = "o_orderkey BIGINT, cents BIGINT, _corrupt_record STRING"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(staged)
    )
    return back.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("cents")).otherwise(0)
        )
        .cast("long")
        .alias("good_cents"),
    )
