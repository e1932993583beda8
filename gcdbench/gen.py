"""Seeded input generator for the benchmark workloads.

Writes, from one workload seed and a scale:

* the 13 GCD input tables as parquet (what the DuckDB oracle reads);
* the same rows as one mysqldump-style INSERT text file holding all
  13 tables, produced by the program's own ``format_insert_statements``
  (what the program parses);
* a ``documents`` table with a planted near-duplicate rate.

Data properties the workloads depend on: Zipf-skewed stories per issue
with a few very high fan-out issues, a mix of curated (``gcd_story_credit``)
and legacy (semicolon string) credits, quotes, backslashes and
semicolons inside strings, dictionary misses, null and pre-epoch
timestamps. Table sizes are fixed per scale, so every seed does the same
amount of work; only the values change. Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gcd_etl_spark.sources.dump import format_insert_statements

#: Row counts at scale 1.0.
BASE_ROWS = {
    "gcd_issue": 2000,
    "gcd_series": 200,
    "gcd_publisher": 40,
    "gcd_indicia_publisher": 60,
    "gcd_brand": 30,
    "gcd_story": 6000,
    "gcd_story_credit": 5000,
    "gcd_creator_name_detail": 300,
    "gcd_creator": 200,
}
#: High fan-out issues and how many stories each carries.
FANOUT_ISSUES = 3
FANOUT_STORIES = 120
#: Share of issues that have no story at all (null story subtree).
STORYLESS_SHARE = 0.15
#: Share of stories eligible for curated credits; the rest use legacy
#: semicolon credit strings.
CURATED_SHARE = 0.6

#: Documents at scale 1.0 and the planted near-duplicate share.
BASE_DOCS = 1500
NEAR_DUP_RATE = 0.2

# Strings carrying the characters the dump tokenizer must survive.
_AWKWARD = [
    "O'Malley's \"Best\"",
    "back\\slash \\n not a newline",
    "semi;colon; inside",
    "tab\there, (paren) 'q'",
    "plain",
    "",
    None,
]
_LEGACY = [
    "Name A; Name B",
    "O'Neil ; D\"Arcy;",
    "?",
    "",
    None,
    "typeset ;",
    "X ; Y ; Z",
    "back\\slash; Two",
]
_SPLIT = ["2.50 USD; 3.00 CAD ;", "free", "", None, "1.00 USD ;; 2.00 CAD", "0.10 'USD'"]


def _pick(rng: np.random.Generator, options: list, n: int) -> list:
    return [options[i] for i in rng.integers(0, len(options), n)]


def _ints(rng, lo: int, hi: int, n: int, null_share: float = 0.0) -> list:
    vals = rng.integers(lo, hi, n)
    nulls = rng.random(n) < null_share
    return [None if z else int(v) for v, z in zip(vals, nulls)]


def _timestamps(rng, n: int) -> list:
    """1995-2020 timestamps, ~8% null, ~3% pre-epoch."""
    base = dt.datetime(1995, 1, 1)
    secs = rng.integers(0, 25 * 365 * 86400, n)
    nulls = rng.random(n) < 0.08
    pre = rng.random(n) < 0.03
    out = []
    for s, z, p in zip(secs, nulls, pre):
        if z:
            out.append(None)
        elif p:
            out.append(dt.datetime(1965, 5, 5) + dt.timedelta(seconds=int(s) % 86400))
        else:
            out.append(base + dt.timedelta(seconds=int(s)))
    return out


_L, _I, _S, _T = pa.int64(), pa.int32(), pa.string(), pa.timestamp("us")


def _table(cols: dict[str, tuple[pa.DataType, list]]) -> pa.Table:
    return pa.table({k: pa.array(v, type=t) for k, (t, v) in cols.items()})


def _sizes(scale: float) -> dict[str, int]:
    return {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}


def generate_gcd(seed: int, scale: float) -> dict[str, pa.Table]:
    """The 13 GCD input tables for one seed and scale."""
    rng = np.random.default_rng([seed, 1])
    n = _sizes(scale)
    n_iss, n_ser, n_pub = n["gcd_issue"], n["gcd_series"], n["gcd_publisher"]
    n_ind, n_br, n_st = n["gcd_indicia_publisher"], n["gcd_brand"], n["gcd_story"]
    n_cr, n_nd, n_cre = n["gcd_story_credit"], n["gcd_creator_name_detail"], n["gcd_creator"]

    # Dictionaries: country/language/storytype ids 11-12 and pubtype id
    # 6 miss on purpose (decode miss -> null).
    t: dict[str, pa.Table] = {
        "stddata_country": _table(
            {"id": (_I, list(range(1, 11))), "code": (_S, [f"c{i:02d}" for i in range(1, 11)])}
        ),
        "stddata_language": _table(
            {"id": (_I, list(range(1, 11))), "code": (_S, [f"l{i:02d}" for i in range(1, 11)])}
        ),
        "gcd_series_publication_type": _table(
            {"id": (_I, list(range(1, 6))), "name": (_S, [f"pubtype {i}" for i in range(1, 6)])}
        ),
        "gcd_story_type": _table(
            {"id": (_I, list(range(1, 11))), "name": (_S, [f"storytype {i}" for i in range(1, 11)])}
        ),
    }
    t["gcd_creator"] = _table(
        {
            "id": (_L, list(range(1, n_cre + 1))),
            "gcd_official_name": (_S, [f"Creator {i}" for i in range(1, n_cre + 1)]),
        }
    )
    t["gcd_creator_name_detail"] = _table(
        {
            "id": (_L, list(range(1, n_nd + 1))),
            "creator_id": (_L, _ints(rng, 1, n_cre + 1, n_nd)),
        }
    )
    t["gcd_publisher"] = _table(
        {
            "id": (_L, list(range(1, n_pub + 1))),
            "name": (_S, [f"Publisher {i}" for i in range(1, n_pub + 1)]),
            "country_id": (_I, _ints(rng, 1, 13, n_pub)),
            "url": (_S, _pick(rng, ["http://pub.example/x?a=1;b='2'", None, ""], n_pub)),
            "created": (_T, _timestamps(rng, n_pub)),
            "modified": (_T, _timestamps(rng, n_pub)),
        }
    )
    t["gcd_indicia_publisher"] = _table(
        {
            "id": (_L, list(range(1, n_ind + 1))),
            "name": (_S, [f"Indicia {i}" for i in range(1, n_ind + 1)]),
            "country_id": (_I, _ints(rng, 1, 13, n_ind)),
            "parent_id": (_L, _ints(rng, 1, n_pub + 1, n_ind)),
            "year_began": (_I, _ints(rng, 1930, 2020, n_ind)),
            "year_ended": (_I, _ints(rng, 1940, 2024, n_ind, 0.4)),
            "is_surrogate": (_I, _ints(rng, 0, 2, n_ind)),
            "url": (_S, _pick(rng, ["http://ind.example", None], n_ind)),
            "created": (_T, _timestamps(rng, n_ind)),
            "modified": (_T, _timestamps(rng, n_ind)),
        }
    )
    t["gcd_brand"] = _table(
        {
            "id": (_L, list(range(1, n_br + 1))),
            "name": (_S, _pick(rng, _AWKWARD[:5], n_br)),
            "url": (_S, _pick(rng, ["http://brand.example", None], n_br)),
            "created": (_T, _timestamps(rng, n_br)),
            "modified": (_T, _timestamps(rng, n_br)),
        }
    )
    t["gcd_series"] = _table(
        {
            "id": (_L, list(range(1, n_ser + 1))),
            "name": (_S, [f"Series {i}" for i in range(1, n_ser + 1)]),
            "year_began": (_I, _ints(rng, 1930, 2020, n_ser)),
            "year_ended": (_I, _ints(rng, 1940, 2024, n_ser, 0.3)),
            "is_current": (_I, _ints(rng, 0, 2, n_ser)),
            "country_id": (_I, _ints(rng, 1, 13, n_ser)),
            "language_id": (_I, _ints(rng, 1, 13, n_ser)),
            "has_gallery": (_I, _ints(rng, 0, 2, n_ser)),
            "is_comics_publication": (_I, _ints(rng, 0, 2, n_ser)),
            "color": (_S, _pick(rng, ["color", "b&w", None, ""], n_ser)),
            "dimensions": (_S, _pick(rng, ["standard", "17x26cm", None], n_ser)),
            "paper_stock": (_S, _pick(rng, _AWKWARD, n_ser)),
            "binding": (_S, _pick(rng, ["saddle; glue ;", "hardcover", "perfect ;; bound", None, ""], n_ser)),
            "publishing_format": (_S, _pick(rng, ["ongoing", "limited", None], n_ser)),
            "publication_type_id": (_I, _ints(rng, 1, 7, n_ser, 0.2)),
            "is_singleton": (_I, _ints(rng, 0, 2, n_ser)),
            "created": (_T, _timestamps(rng, n_ser)),
            "modified": (_T, _timestamps(rng, n_ser)),
            "publisher_id": (_L, _ints(rng, 1, n_pub + 1, n_ser)),
        }
    )
    t["gcd_issue"] = _table(
        {
            "id": (_L, list(range(1, n_iss + 1))),
            "number": (_S, _pick(rng, ["1", "42", "0042", " 7 ", "Annual 1", "", None, "12a", "300"], n_iss)),
            "key_date": (_S, _pick(rng, ["1987-03-01", "1987-00-00", "", None, "1987-3-1", "2001-12-31 x", "2020-11-30"], n_iss)),
            "price": (_S, _pick(rng, _SPLIT, n_iss)),
            "page_count": (_I, _ints(rng, 8, 200, n_iss, 0.15)),
            "indicia_frequency": (_S, _pick(rng, ["monthly", "bi-monthly", None, ""], n_iss)),
            "isbn": (_S, _pick(rng, ["978-0-00-000000-0", None, ""], n_iss)),
            "variant_name": (_S, _pick(rng, _AWKWARD, n_iss)),
            "variant_of_id": (_L, _ints(rng, 1, n_iss + 1, n_iss, 0.8)),
            "barcode": (_S, _pick(rng, ["07612345678900111", None, ""], n_iss)),
            "title": (_S, [f"Issue title {i}" if i % 7 else None for i in rng.permutation(n_iss) + 1]),
            "on_sale_date": (_S, _pick(rng, ["1987-02-15", "1987-13-99", "", None, "2020-01-05"], n_iss)),
            "rating": (_S, _pick(rng, ["T+", None, ""], n_iss)),
            "volume_not_printed": (_I, _ints(rng, 0, 2, n_iss, 0.1)),
            "editing": (_S, _pick(rng, _LEGACY, n_iss)),
            "notes": (_S, _pick(rng, _AWKWARD, n_iss)),
            "created": (_T, _timestamps(rng, n_iss)),
            "modified": (_T, _timestamps(rng, n_iss)),
            "series_id": (_L, _ints(rng, 1, n_ser + 1, n_iss)),
            # ids past n_ind dangle (left-join miss); ~30% null
            "indicia_publisher_id": (_L, _ints(rng, 1, n_ind + 4, n_iss, 0.3)),
            "brand_id": (_L, _ints(rng, 1, n_br + 3, n_iss, 0.4)),
        }
    )

    # Stories: a Zipf-weighted pick over the issues that have stories,
    # plus FANOUT_ISSUES issues with FANOUT_STORIES stories each.
    order = rng.permutation(n_iss) + 1
    with_stories = order[: int(n_iss * (1 - STORYLESS_SHARE))]
    fanout = with_stories[:FANOUT_ISSUES]
    n_fan = min(n_st, FANOUT_ISSUES * FANOUT_STORIES)
    weights = 1.0 / np.arange(1, len(with_stories) + 1) ** 0.8
    picked = rng.choice(with_stories, n_st - n_fan, p=weights / weights.sum())
    story_issue = np.concatenate([np.repeat(fanout, FANOUT_STORIES)[:n_fan], picked])
    t["gcd_story"] = _table(
        {
            "id": (_L, list(range(1, n_st + 1))),
            "issue_id": (_L, [int(v) for v in story_issue]),
            "title": (_S, _pick(rng, _AWKWARD, n_st)),
            "feature": (_S, _pick(rng, ["feature x", None, ""], n_st)),
            "sequence_number": (_I, _ints(rng, 0, 30, n_st, 0.05)),
            "page_count": (_I, _ints(rng, 1, 60, n_st, 0.2)),
            "script": (_S, _pick(rng, _LEGACY, n_st)),
            "pencils": (_S, _pick(rng, _LEGACY, n_st)),
            "inks": (_S, _pick(rng, _LEGACY, n_st)),
            "colors": (_S, _pick(rng, _LEGACY, n_st)),
            "letters": (_S, _pick(rng, _LEGACY, n_st)),
            "editing": (_S, _pick(rng, _LEGACY, n_st)),
            "genre": (_S, _pick(rng, ["superhero; adventure", "humor", None, ""], n_st)),
            "characters": (_S, _pick(rng, ["Hero One; Hero Two ;", "Solo", "Ma'at; \"Q\"", None, ""], n_st)),
            "type_id": (_I, _ints(rng, 1, 13, n_st)),
            "job_number": (_S, _pick(rng, ["J-100", None, ""], n_st)),
            "first_line": (_S, _pick(rng, _AWKWARD, n_st)),
            "created": (_T, _timestamps(rng, n_st)),
            "modified": (_T, _timestamps(rng, n_st)),
        }
    )
    # Curated credits on the first CURATED_SHARE of stories; composite
    # credit types 7-13 expand; name-detail ids past n_nd dangle.
    n_curated = max(1, int(n_st * CURATED_SHARE))
    t["gcd_story_credit"] = _table(
        {
            "id": (_L, list(range(1, n_cr + 1))),
            "story_id": (_L, _ints(rng, 1, n_curated + 1, n_cr)),
            "credit_type_id": (_I, _ints(rng, 1, 14, n_cr)),
            "creator_id": (_L, _ints(rng, 1, n_nd + 6, n_cr)),
        }
    )
    return t


def generate_documents(seed: int, scale: float) -> pa.Table:
    """``documents(doc_id, text)``: random word documents, exactly
    NEAR_DUP_RATE of which copy an original document with up to two
    words changed (none: an exact duplicate). Copies are made of
    originals only, so every duplicate cluster is a star and the
    cluster shape, unlike its content, does not depend on the seed."""
    rng = np.random.default_rng([seed, 2])
    n_docs = max(10, int(round(BASE_DOCS * scale)))
    n_dups = int(round(n_docs * NEAR_DUP_RATE))
    vocab = [f"w{i}" for i in range(5000)]
    texts = [
        " ".join(vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(25, 60))))
        for _ in range(n_docs - n_dups)
    ]
    for src in rng.integers(0, len(texts), n_dups):
        words = texts[int(src)].split(" ")
        for _ in range(int(rng.integers(0, 3))):
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(words))
    order = rng.permutation(n_docs)
    return _table(
        {
            "doc_id": (_L, list(range(1, n_docs + 1))),
            "text": (_S, [texts[j] for j in order]),
        }
    )


def _py_rows(table: pa.Table) -> list[tuple]:
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return list(zip(*cols))


#: The one dump file, holding every table, as ``mysqldump <db>`` writes it.
DUMP_FILE = "gcd_dump.sql"
#: Per table: how many INSERT lines of the other tables the parser's
#: prefilter lets through (see ``write_gcd``).
OTHER_LINES_FILE = "other_table_lines.json"


def dump_path(out_dir: str) -> str:
    return os.path.join(out_dir, DUMP_FILE)


def write_gcd(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for each GCD table and one dump file
    holding all of them in turn; returns table -> row count.

    The parser stages one table at a time from the whole file, and its
    prefilter keeps every INSERT line that contains the table's name
    anywhere, so ``gcd_story`` also keeps the ``gcd_story_credit`` and
    ``gcd_story_type`` lines, which the tokenizer then counts as
    other-table lines. The exact count per table is written to
    ``OTHER_LINES_FILE`` for the correctness check."""
    os.makedirs(out_dir, exist_ok=True)
    tables = generate_gcd(seed, scale)
    lines = ["-- benchmark dump", "SET NAMES utf8mb4;"]
    owner: list[str] = []
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        lines.append(f"DROP TABLE IF EXISTS `{name}`;")
        inserts = format_insert_statements(name, _py_rows(tbl), rows_per_statement=100)
        lines += inserts
        owner += [name] * len(inserts)
    with open(dump_path(out_dir), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    inserts = [ln for ln in lines if ln.startswith("INSERT INTO")]
    other = {
        name: sum(1 for ln, o in zip(inserts, owner) if o != name and name in ln)
        for name in tables
    }
    with open(os.path.join(out_dir, OTHER_LINES_FILE), "w", encoding="utf-8") as f:
        json.dump(other, f, sort_keys=True)
    return {name: tbl.num_rows for name, tbl in tables.items()}


def expected_other_lines(out_dir: str) -> dict[str, int]:
    with open(os.path.join(out_dir, OTHER_LINES_FILE), encoding="utf-8") as f:
        return json.load(f)


def write_documents(out_dir: str, seed: int, scale: float) -> int:
    os.makedirs(out_dir, exist_ok=True)
    tbl = generate_documents(seed, scale)
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))
    return tbl.num_rows


def spark_schema(path: str):
    """Spark StructType declaring a generated parquet table's columns
    (the schema the dump parser casts to)."""
    from pyspark.sql import types as T

    m = {_L: T.LongType(), _I: T.IntegerType(), _S: T.StringType(), _T: T.TimestampType()}
    return T.StructType([T.StructField(f.name, m[f.type]) for f in pq.read_schema(path)])
