"""Regenerate tests/plan_fingerprints.json — the committed normalized
plan-shape baseline that tests/test_plan_fingerprints.py gates against
(round-11 verdict item 3).

Run this DELIBERATELY, in the same commit as any plan-affecting
change, and review the diff: it IS the structural-plan-change
acknowledgment. Fingerprints are recorded at sf0.001 (the pytest
smoke scale) so the gate runs in seconds.

The gated list is the file's own key set: the script re-records
exactly the recorded keys, plus any names given on the command line
(a production twin as ``<name>::bench_twin``, see
``gcd_etl_spark.plans.fingerprint.PRODUCTION_TWINS``). To stop gating
a name, delete its key from the JSON and rerun. Streaming queries
execute eagerly on build (their returned plan is a sink scan) and
cannot be fingerprinted, same as tests/test_plan_audit.py.

Usage: python scripts/update_plan_fingerprints.py [sf_dir [name ...]]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcd_etl_spark.plans.fingerprint import (  # noqa: E402
    fingerprint_builder,
    plan_fingerprint,
)
from gcd_etl_spark.session import get_spark  # noqa: E402

PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_fingerprints.json",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    with open(PATH) as f:
        names = sorted(set(json.load(f)) | set(sys.argv[2:]))
    builders = {n: fingerprint_builder(n) for n in names}
    bad = [n for n, b in builders.items() if b is None or n.startswith("stream_")]
    if bad:
        sys.exit(
            f"not fingerprintable (unregistered or streaming): {bad} — "
            f"drop them from the command line or delete their keys from {PATH}"
        )
    spark = get_spark("plan-fingerprints")
    out: dict[str, list[str]] = {}
    for name, build in builders.items():
        out[name] = plan_fingerprint(build(spark, sf_dir))
        print(f"{name}: {len(out[name])} nodes")
    with open(PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {PATH} ({len(out)} fingerprints)")
    spark.stop()


if __name__ == "__main__":
    main()
