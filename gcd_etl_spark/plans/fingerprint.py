"""Normalized physical-plan fingerprints — the mechanized form of the
"zero structural plan changes" claim (round-11 verdict item 3: the
claim was a hand-run normalized diff of PLANS.md; this module makes it
a pytest gate against a committed fingerprint file).

A fingerprint is the ``explain("formatted")`` operator tree with the
volatile parts stripped and the load-bearing parts kept:

* KEPT — tree structure (indentation art), node labels including join
  type and build side (``BroadcastHashJoin LeftOuter BuildRight``),
  Exchange partitioning KIND and key names (``hashpartitioning(doc_id)``
  vs ``SinglePartition`` — the 100 TB-viability distinction), scan
  relation (normalized basename), PushedFilters and ReadSchema (the
  pushdown / column-pruning contract).
* STRIPPED — expression ids (``#123L``), node ids (``(7)``), codegen
  stars, partition COUNTS (env/AQE-dependent), ``plan_id``, staging
  fingerprints and run-unique hex in table names, the sf tag.

Deterministic at a fixed scale given the same code + session config;
recorded at sf0.001 (the pytest smoke scale) in
``tests/plan_fingerprints.json``. Regenerate DELIBERATELY with
``python scripts/update_plan_fingerprints.py`` in the same commit as
any plan-affecting change — an unacknowledged diff fails
``tests/test_plan_fingerprints.py``. The gated list is the key set of
that file: registered query names, plus ``<name>::bench_twin`` keys for
the production twins below.
"""

from __future__ import annotations

import contextlib
import io
import re

from gcd_etl_spark.plans import QUERIES
from gcd_etl_spark.plans.dedup import dedup_minhash_lsh_xxhash
from gcd_etl_spark.plans.similarity import bitext_mined_pairs

#: Key suffix of a production twin's fingerprint.
TWIN_SUFFIX = "::bench_twin"

#: Registered name -> the unregistered plan production actually runs
#: under it. The registered build carries the value oracle; a
#: structural regression in the twin must not escape the gate just
#: because of that. dedup_minhash_lsh runs on the cheaper xxhash64
#: family; sim_bitext_margin_mined's production plan is the no-gate
#: miner behind the sampled quality gate.
PRODUCTION_TWINS = {
    "dedup_minhash_lsh": dedup_minhash_lsh_xxhash,
    "sim_bitext_margin_mined": bitext_mined_pairs,
}


def fingerprint_builder(name: str):
    """Builder behind a fingerprint key, or None when the name is no
    longer registered."""
    if name.endswith(TWIN_SUFFIX):
        return PRODUCTION_TWINS.get(name[: -len(TWIN_SUFFIX)])
    q = QUERIES.get(name)
    return q.build if q is not None else None


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _norm_name(base: str) -> str:
    """Normalize a relation basename: run-unique hex / fingerprint
    suffixes and sf tags out, layout-bearing config suffixes kept
    (``srp_bucket_idx_sf0_001_<fp>_b6t8c`` -> ``srp_bucket_idx_<sf>_b6t8c``).
    The hex strip is anchored to EXACTLY the 8 chars
    ``sources.catalog.table_fingerprint`` emits (round-12 ADVICE: an
    8-or-more pattern would silently erase a legitimate hex-alphabet
    word used as a semantic suffix, blinding the gate for that
    name)."""
    base = re.sub(r"_[0-9a-f]{8}(?=_|\.|$)", "", base)
    base = re.sub(r"sf\d+(?:[._]\d+)*", "<sf>", base)
    return base


def _norm_exchange_args(args: str) -> str:
    args = re.sub(r"#\d+[A-Za-z]*", "", args)
    args = re.sub(r",\s*\[plan_id=\d+\]", "", args)
    # Partition count: ONLY the outermost partitioning call's final
    # bare-int argument — recognized by what follows it (the
    # distribution-mode keyword, e.g. ENSURE_REQUIREMENTS, or end of
    # string). A blanket ", N)" strip also erased numeric literals
    # INSIDE partitioning keys (salt moduli, hash seeds), blinding
    # the gate to exactly the layout changes it exists to catch
    # (round-12 review finding).
    args = re.sub(r",\s*\d+\)(?=\s*,\s*[A-Z]|\s*$)", ")", args)
    args = re.sub(r"RoundRobinPartitioning\(\d+\)", "RoundRobinPartitioning()", args)
    return args.strip()


def plan_fingerprint(df) -> list[str]:
    """The normalized operator-tree fingerprint of ``df``'s physical
    plan, one line per node (see module docstring for what is kept
    vs stripped)."""
    text = _formatted(df)
    lines = text.splitlines()
    # Split tree from the per-node detail section.
    tree: list[str] = []
    details: dict[str, list[str]] = {}
    cur: list[str] | None = None
    for ln in lines:
        if re.match(r"^\(\d+\) ", ln):
            nid = ln.split(")", 1)[0][1:]
            cur = details.setdefault(nid, [])
            continue
        if cur is not None:
            cur.append(ln)
            continue
        if ln.startswith("== ") or not ln.strip():
            continue
        tree.append(ln)

    out: list[str] = []
    for ln in tree:
        m = re.match(r"^([:\s+\-]*)(?:\* )?(.+?)(?: \((\d+)\))?\s*$", ln)
        if not m:
            continue
        art, label, nid = m.group(1), m.group(2).strip(), m.group(3)
        extra: list[str] = []
        det = details.get(nid or "", [])
        if label.startswith("Scan"):
            # Catalog-table scans carry the staged name IN the label
            # (``Scan parquet spark_catalog.default.ivfsq8_index_
            # sf0_001_<fp>_c32``) — normalize it the same way as the
            # Location basename, or a testdata refresh (new mtimes ->
            # new staging fingerprints) breaks the gate with no code
            # change (observed live at round 13).
            label = _norm_name(label)
            for d in det:
                dm = re.search(r"\[[a-z0-9]+:(.+?)\]?$", d.strip())
                if d.strip().startswith("Location") and dm:
                    extra.append(_norm_name(dm.group(1).rstrip("]").rsplit("/", 1)[-1]))
                if d.strip().startswith("PushedFilters"):
                    extra.append(d.strip())
                if d.strip().startswith("ReadSchema"):
                    extra.append(d.strip())
        elif label == "Exchange":
            for d in det:
                ds = d.strip()
                if ds.startswith("Arguments:"):
                    extra.append(_norm_exchange_args(ds[len("Arguments:"):]))
        out.append(art + label + ("  " + " | ".join(extra) if extra else ""))
    return out
