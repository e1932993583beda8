"""Inverted-index capability (Flamdex S6 analog) as a query.

The reference's second sink is a Flamdex inverted-index shard —
per-document int/string terms, multi-valued (reference
Main.java:250-352). The binary format is out of Spark scope; the
*capability* (doc -> field -> term lookup) is the exploded term table
from sources/sinks.to_term_table, which at scale is written
partitioned/bucketed by (field, term-hash) for point lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcd_etl_spark.functions.text import ws_tokens
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table, read_table_spread
from gcd_etl_spark.sources.sinks import to_term_table


@query(
    "term_table",
    oracle="""
SELECT doc_id, 'lang' AS field, lang AS term FROM documents WHERE lang IS NOT NULL
UNION ALL
SELECT doc_id, 'source' AS field, source AS term FROM documents WHERE source IS NOT NULL
UNION ALL
SELECT doc_id, 'token' AS field, unnest(
  list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS term
FROM documents
""",
)
def term_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, field, term) exploded index over documents: scalar
    fields pass through, the token array explodes — multi-valued terms
    exactly like ``addStringTerms`` (reference Main.java:344-352)."""
    docs = read_table_spread(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.expr(ws_tokens("text")).alias("tokens")
    )
    return to_term_table(
        docs, "doc_id", {"lang": "lang", "source": "source", "token": "tokens"}
    )
