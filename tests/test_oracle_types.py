"""Registry-wide oracle output-type guard (round-5 verdict item 2).

Every driver correctness red in rounds 4 AND 5 had the same mechanical
cause: a DuckDB oracle column silently widened to HUGEINT (``SUM`` over
BIGINT, or ``//`` over a widened product) while the Spark side emits
BIGINT. Values were identical; only the serialized representation the
driver hashes differed — and the repo's own comparator stringifies
cells, so it could never see the drift.

This test turns that whole bug class into a <1-minute pytest failure:
one DuckDB connection, ``DESCRIBE`` every registered oracle against the
sf0.001 views, assert no HUGEINT/UHUGEINT (and no DECIMAL wider than
BIGINT range leaking out, which would hash-differ the same way).
"""

from __future__ import annotations

import pytest

from gcd_etl_spark.plans import QUERIES
from tests.conftest import SF_SMOKE, oracle_con

#: Types DuckDB can emit that Spark never does — any oracle producing
#: one of these will hash-mismatch at the driver even when the values
#: are numerically identical.
_FORBIDDEN = ("HUGEINT", "UHUGEINT", "UINT64", "UBIGINT")


@pytest.fixture(scope="module")
def described() -> dict:
    """name -> DESCRIBE rows of every registered oracle (or the
    exception DESCRIBE raised), one pass shared by both checks."""
    con = oracle_con(SF_SMOKE)
    try:
        out = {}
        for name, q in QUERIES.items():
            if q.oracle is None:
                continue
            try:
                out[name] = con.execute(f"DESCRIBE {q.oracle}").fetchall()
            except Exception as exc:  # pragma: no cover - surfaced below
                out[name] = exc
        return out
    finally:
        con.close()


def test_no_oracle_column_widens_past_bigint(described):
    bad = []
    for name, desc in described.items():
        if isinstance(desc, Exception):
            bad.append((name, "<describe failed>", str(desc)[:120]))
            continue
        for col, typ, *_ in desc:
            t = str(typ).upper()
            if any(f in t for f in _FORBIDDEN):
                bad.append((name, col, t))
    assert not bad, (
        "oracle columns widened past BIGINT (driver hash will diverge "
        "from Spark even on equal values) — CAST(... AS BIGINT) them:\n"
        + "\n".join(f"  {n}.{c}: {t}" for n, c, t in bad)
    )


def test_oracle_decimal_columns_are_bounded(described):
    """DECIMAL(p>18) serializes as arbitrary-precision too; oracles
    should CAST aggregate decimals down to BIGINT cents / DOUBLE."""
    wide = []
    for name, desc in described.items():
        if isinstance(desc, Exception):
            continue  # covered by the test above
        for col, typ, *_ in desc:
            t = str(typ).upper()
            if t.startswith("DECIMAL"):
                prec = int(t.split("(")[1].split(",")[0])
                if prec > 18:
                    wide.append((name, col, t))
    assert not wide, (
        "oracle DECIMAL columns exceed 18 digits of precision:\n"
        + "\n".join(f"  {n}.{c}: {t}" for n, c, t in wide)
    )


if __name__ == "__main__":  # manual sweep: python tests/test_oracle_types.py
    pytest.main([__file__, "-q"])
