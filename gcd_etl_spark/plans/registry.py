"""Query registry: name -> (spark builder, optional DuckDB oracle).

Conventions (driver compare is column-name-keyed + value-hashed):

* every computed column is aliased identically in the Spark plan and
  the oracle SQL;
* floating-point aggregates are ``round()``-ed the same on both sides
  (double summation order differs between engines; rounding makes the
  hash deterministic);
* list-valued results are sorted + joined to strings (the driver's
  hash is row-order-insensitive, not element-order-insensitive).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]

#: ASCII unit separator — never occurs in fixture text, so the joined
#: serialization below is collision-free in practice.
_SEP = "\x1f"


def serialize_array_cols(df: DataFrame) -> DataFrame:
    """Driver-facing projection: every ``array<>`` column becomes a
    size-prefixed joined string (``"N:a␟b␟..."``), NULL stays NULL.

    The driver's canonicalizer hashes cell VALUES and cannot sort list
    cells (pandas ``unhashable type: 'list'`` — the r1
    ``agg_approx_distinct`` crash, and the registry convention above).
    The size prefix keeps ``[]`` (``"0:"``) distinct from ``[""]``
    (``"1:"``) — plain ``array_join`` would collide them. Mirror with
    :func:`duckdb_array_replace` on the oracle side.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gcd_etl_spark.functions.scalar import sql_str

    def _ser(name: str):
        c = "`" + name.replace("`", "``") + "`"
        return F.expr(
            f"concat(CAST(size({c}) AS STRING), ':', "
            f"array_join(transform({c}, x -> CAST(x AS STRING)), {sql_str(_SEP)})) AS {c}"
        )

    cols = [
        _ser(f.name) if isinstance(f.dataType, T.ArrayType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(cols)


def duckdb_array_replace(sql: str, array_cols: list[str]) -> str:
    """Wrap oracle SQL so ``array_cols`` serialize exactly like
    :func:`serialize_array_cols` (NULL propagates through ``||``)."""
    # COALESCE: DuckDB array_to_string([]) is NULL, Spark array_join
    # is ''. A NULL ARRAY still serializes to NULL via len(NULL).
    repl = ", ".join(
        f"CAST(len({c}) AS VARCHAR) || ':' || COALESCE("
        f"array_to_string(list_transform({c}, x -> CAST(x AS VARCHAR)), chr(31)), '') AS {c}"
        for c in array_cols
    )
    return f"SELECT * REPLACE ({repl}) FROM ({sql})"

QUERIES: dict[str, "Query"] = {}


@dataclass(frozen=True)
class Query:
    name: str
    build: SparkBuilder
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


def query(name: str, oracle: str | None = None):
    """Register a named query plan. Use as a decorator on the builder."""

    def _register(fn: SparkBuilder) -> SparkBuilder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name=name, build=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return _register
