"""Round-13 pins: the IVF width rule (suggest_ivf_cells /
suggest_ivf_nprobe replacing the last fixed-width constant), the
GIF/WebP real header decode, the JPEG fill-byte fix, the
median-split replay staging, and the refreshed bench bases."""

from __future__ import annotations

import pytest

from gcd_etl_spark.plans import QUERIES


# ------------------------------------------- IVF width rule (item 1)
def test_suggest_ivf_cells_rule():
    """n_cells = next_pow2(sqrt(n)) clamped to [16, 4096]: the floor
    keeps small fixtures stable, the clamp bounds the driver-held
    centroid matrix, and powers of two re-stage predictably."""
    from gcd_etl_spark.operators.similarity import (
        IVF_CELLS_MAX,
        suggest_ivf_cells,
    )

    assert suggest_ivf_cells(0) == 16
    assert suggest_ivf_cells(500) == 32  # sf<=0.01 fixtures
    assert suggest_ivf_cells(2000) == 64  # sf0.1
    assert suggest_ivf_cells(64000) == 256  # 32x
    assert suggest_ivf_cells(10**9) == IVF_CELLS_MAX
    # powers of two, monotone
    prev = 0
    for n in (1, 10, 100, 10**4, 10**6, 10**8):
        c = suggest_ivf_cells(n)
        assert c & (c - 1) == 0
        assert c >= prev
        prev = c


def test_suggest_ivf_nprobe_fractions():
    from gcd_etl_spark.operators.similarity import suggest_ivf_nprobe
    from gcd_etl_spark.plans.similarity import bitext_cells, bitext_nprobe

    assert suggest_ivf_nprobe(16) == 4  # ANN floor config
    assert suggest_ivf_nprobe(64) == 16  # quarter of the cells
    assert suggest_ivf_nprobe(256) == 64
    # bitext probes HALF the cells, floor 8 (recall@1 gate needs the
    # denser fraction: the quarter measured 0.703 at sf0.1, flush
    # against the 0.70 floor — see BASELINE.md round 13)
    assert bitext_nprobe(16) == 8
    assert bitext_nprobe(32) == 16
    assert bitext_cells(975) == 32  # sf0.1 target side
    assert bitext_cells(256) == 16  # sf<=0.01 stays historical


def test_ivf_topk_derives_width_rule(spark, sf_smoke):
    """ivf_topk with no explicit config must derive the rule from the
    corpus size (and still return a well-formed top-k)."""
    from gcd_etl_spark.operators import similarity as S
    from gcd_etl_spark.sources.catalog import read_table_spread

    emb = read_table_spread(spark, sf_smoke, "embeddings")
    q = emb.where(emb.vec_id < 2)
    rows = S.ivf_topk(emb, q, k=5, dim=64).collect()
    assert 0 < len(rows) <= 10
    assert all(r["rank"] <= 5 for r in rows)


def test_persisted_index_names_carry_cell_config(spark, sf_smoke):
    """Staged ANN index table names must embed the width-ruled cell
    count so a differently-configured index can never shadow the one
    a query expects (round-13: the anchor-shadowing guard)."""
    import pyspark.sql.functions as F

    from gcd_etl_spark.operators.similarity import suggest_ivf_cells
    from gcd_etl_spark.plans.similarity import (
        ensure_ivfpq_index,
        ensure_ivfsq8_index,
    )
    from gcd_etl_spark.sources.catalog import read_table_spread, staged_name

    import re

    emb = read_table_spread(spark, sf_smoke, "embeddings")
    nc = suggest_ivf_cells(emb.count())
    ensure_ivfsq8_index(spark, sf_smoke, emb)
    ensure_ivfpq_index(spark, sf_smoke, emb)
    staged = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("ivfsq8_index_", "ivfpq_codes_"))
    ]
    assert staged, "no staged ANN index tables found"
    # EVERY staged ANN index carries an explicit cell-config suffix;
    # indexes staged for OTHER fixtures (e.g. the tiny-emb dir other
    # tests stage in the shared warehouse) legitimately carry THEIR
    # corpus's width-rule output, so only this fixture's names are
    # pinned to nc
    assert all(re.search(r"_c\d+$", n) for n in staged), staged
    mine_prefixes = tuple(
        staged_name(p, sf_smoke, "embeddings") for p in ("ivfsq8_index", "ivfpq_codes")
    )
    mine = [n for n in staged if n.startswith(mine_prefixes)]
    assert mine, staged
    assert all(n.endswith(f"_c{nc}") for n in mine), (mine, nc)
    # probe config derives from the STAGED centroid count
    _, cents = ensure_ivfsq8_index(spark, sf_smoke, emb)
    assert len(cents) == nc


# ---------------------------- GIF/WebP header decode (item 6)
def test_gif_webp_registrant_non_vacuous(spark, sf_smoke):
    rows = (
        QUERIES["mm_decode_real_headers_gif_webp"].build(spark, sf_smoke).collect()
    )
    assert len(rows) > 0
    fmts = {r["format"] for r in rows}
    assert fmts == {"gif", "webp"}
    assert all(r["width"] >= 1 and r["height"] >= 1 for r in rows)


def test_gif_lzw_stream_actually_decodes():
    """The synthesized GIF's LZW stream must decode to w x h pixels of
    color 0 under an INDEPENDENT reference LZW decoder — 'spec-valid'
    as a measured property, not a claim."""
    from gcd_etl_spark.operators.multimodal import synthesize_web_container_file

    def lzw_decode(data: bytes, min_code: int) -> list[int]:
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        width = min_code + 1
        acc = nbits = pos = 0
        out: list[int] = []
        table = {i: [i] for i in range(1 << min_code)}
        prev = None
        while True:
            while nbits < width:
                acc |= data[pos] << nbits
                pos += 1
                nbits += 8
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = {i: [i] for i in range(1 << min_code)}
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                break
            entry = table[code][:]
            out += entry
            if prev is not None:
                table[len(table) + 2] = prev + [entry[0]]
            prev = entry
        return out

    for mid in (0, 3, 9, 21):  # mid % 3 == 0 -> GIF
        g = synthesize_web_container_file(mid)
        assert g[:6] == b"GIF89a"
        body = g[30:]  # 6 sig + 7 LSD + 6 GCT + 10 img desc + 1 mcs
        data = bytearray()
        p = 0
        while body[p] != 0:
            ln = body[p]
            data += body[p + 1 : p + 1 + ln]
            p += 1 + ln
        px = lzw_decode(bytes(data), 2)
        assert px == [0] * ((1 + mid % 24) * (1 + mid % 16))


def test_webp_parse_and_vp8x_branch():
    """VP8L bitfield unpack, VP8 sync-code path, and the VP8X
    extended-canvas branch (parsed for real-world files even though
    synthesis never emits it)."""
    import struct

    from gcd_etl_spark.operators.multimodal import parse_media_header

    # VP8X: canvas 100x50, alpha flag set
    body = bytes([0x10, 0, 0, 0]) + (99).to_bytes(3, "little") + (49).to_bytes(3, "little")
    chunk = b"VP8X" + struct.pack("<I", len(body)) + body
    payload = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    r = parse_media_header(payload)
    assert (r["format"], r["width"], r["height"], r["channels"]) == (
        "webp", 100, 50, 4,
    )
    # truncated VP8L body: quarantine (format known, geometry null)
    bad = b"RIFF" + struct.pack("<I", 10) + b"WEBP" + b"VP8L" + struct.pack("<I", 2) + b"\x2f\x00"
    r2 = parse_media_header(bad)
    assert r2["format"] == "webp" and r2["width"] is None


def test_gif_truncated_quarantines():
    from gcd_etl_spark.operators.multimodal import parse_media_header

    r = parse_media_header(b"GIF89a\x05\x00")  # LSD cut short
    assert r["format"] == "gif" and r["width"] is None
    assert parse_media_header(None)["format"] == "unknown"


# ---------------------------- JPEG fill bytes (round-12 ADVICE)
def test_jpeg_fill_bytes_skipped():
    """ITU T.81 permits 0xFF fill bytes before any marker; the walk
    must step past them instead of reading a fill byte as the marker
    id (and must quarantine when fills run to EOF)."""
    from gcd_etl_spark.operators.multimodal import (
        parse_media_header,
        synthesize_image_file,
    )

    j = synthesize_image_file(5)  # JPEG: geometry 6 x 6
    padded = j[:2] + b"\xff\xff\xff" + j[2:]  # fills before APP0
    r = parse_media_header(padded)
    assert (r["format"], r["width"], r["height"]) == ("jpeg", 6, 6)
    # fills before an interior marker (between COM and DQT)
    dqt_at = j.index(b"\xff\xdb")
    interior = j[:dqt_at] + b"\xff" + j[dqt_at:]
    r2 = parse_media_header(interior)
    assert (r2["width"], r2["height"]) == (6, 6)
    # fills running to EOF: quarantine, never an unpack crash
    r3 = parse_media_header(j[:2] + b"\xff\xff")
    assert r3["format"] == "jpeg" and r3["width"] is None


# ------------------- replay-staging median split (item 3)
def test_time_ordered_halves_partition_and_order(spark, sf_smoke):
    import pyspark.sql.functions as F

    from gcd_etl_spark.plans.streaming_plans import _time_ordered_banded
    from gcd_etl_spark.sources.catalog import read_table

    events = read_table(spark, sf_smoke, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    banded, hi = _time_ordered_banded(events)
    halves = [banded.where(F.col("_rb") == i) for i in (1, 2)]
    n1, n2 = halves[0].count(), halves[1].count()
    assert n1 + n2 == events.count()
    assert n1 > 0 and n2 > 0
    max1 = halves[0].agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    min2 = halves[1].agg(F.min(F.unix_micros("ts"))).collect()[0][0]
    assert max1 < min2  # batch 2 strictly newer: no late drops
    assert hi == events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]


# ------------------- fingerprint hex anchor (round-12 ADVICE)
def test_norm_name_hex_anchor():
    from gcd_etl_spark.plans.fingerprint import _norm_name

    # exactly-8 fingerprint stripped; config + semantic words kept
    assert _norm_name("idx_sf0_001_312b4259_c32") == "idx_<sf>_c32"
    # a 12-char hex-alphabet semantic suffix survives (the gate would
    # otherwise be blind to that name)
    assert _norm_name("idx_deadbeefcafe") == "idx_deadbeefcafe"
    # 9-char hex word also survives (anchored to the emitted width)
    assert _norm_name("idx_abcdef123") == "idx_abcdef123"


def test_driver_window_leads_with_r13_changes():
    from gcd_etl_spark.plans import QUERIES as Q

    head = list(Q)[:48]
    assert head[0] == "mm_decode_real_headers_gif_webp"
    assert "sim_ann_ivfpq_persisted" in head
    assert "stream_sessions_timeout" in head
    # the entire r5-vintage backlog drains this round
    assert "window_time_weighted_avg" in head
    assert "dedup_ngram_jaccard" in head


# ------------- acquisition -> staging end to end (item 7, S9)
def test_acquisition_artifact_feeds_distributed_tokenizer(
    spark, sf_smoke, tmp_path
):
    """S9 closed as far as a no-network sandbox allows: acquire_once
    with an injected fetch that writes a REAL zip archive containing
    a synthesized mysqldump of the three dump-staged dimension
    tables, then unzip -> stage_dump_table (the distributed
    tokenizer) -> the FULL flagship snapshot built from the
    zip-staged tables, value-equal to the direct parquet build — the
    acquisition artifact provably feeds the engine. Also pins the
    nightly dedup predicate (second run skips, fetch not called) and
    the append-only history round-trip."""
    import zipfile

    from gcd_etl_spark.gcd.pipeline import build_snapshot, collect_dict_maps
    from gcd_etl_spark.plans.gcd import (
        _DUMP_STAGED_TABLES,
        RUN_DATE,
        build_flagship,
        gcd_tables_from_fixtures,
    )
    from gcd_etl_spark.sources.dump import (
        format_insert_statements,
        stage_dump_table,
    )
    from scripts.acquire import acquire_once, load_history

    tables = gcd_tables_from_fixtures(spark, sf_smoke)
    dump_lines: list[str] = []
    for t in _DUMP_STAGED_TABLES:
        rows = [tuple(r) for r in tables[t].collect()]
        dump_lines += format_insert_statements(t, rows, 50)
    dump_text = "\n".join(dump_lines)

    hist = str(tmp_path / "download_history.txt")
    dl = tmp_path / "dl"
    dl.mkdir()

    def fetch(timestamp: str, filename: str) -> None:
        with zipfile.ZipFile(dl / filename, "w") as z:
            z.writestr("gcd_dump.sql", dump_text)

    ts = "2026-08-16 03:00:00"
    res = acquire_once(
        history_file=hist, discover_timestamp=lambda: ts, fetch=fetch
    )
    assert not res.skipped
    assert res.filename == "gcd-dump-2026-08-16_03-00-00.zip"

    # unzip (the out-of-band step between acquisition and staging)
    with zipfile.ZipFile(dl / res.filename) as z:
        z.extract("gcd_dump.sql", dl)
    sql_path = str(dl / "gcd_dump.sql")

    staged = dict(tables)
    for t in _DUMP_STAGED_TABLES:
        staged[t] = stage_dump_table(
            spark,
            sql_path,
            t,
            tables[t].schema,
            out_path=str(tmp_path / f"{t}.parquet"),
        )
        assert staged[t].count() == tables[t].count()

    got = build_snapshot(
        spark, staged, RUN_DATE, dicts=collect_dict_maps(staged)
    )
    want = build_flagship(spark, sf_smoke)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # nightly dedup: the same published timestamp is not re-fetched
    def must_not_run(*_a):  # pragma: no cover - failure path
        raise AssertionError("fetch must not run for an acquired timestamp")

    res2 = acquire_once(
        history_file=hist, discover_timestamp=lambda: ts, fetch=must_not_run
    )
    assert res2.skipped and res2.filename is None
    assert load_history(hist) == [ts]


# ---------------- standing amplified-audit runner (r12 verdict #5)
def test_amplified_audit_covers_lifecycle_tier():
    """--tier=lifecycle restricts to the script's LIFECYCLE names and
    the fail-loud invariant holds: every lifecycle row has an audit
    target (a missing one raises at runner start, so the standing
    audit can never silently narrow)."""
    from scripts.study_amplified_audit import EXP_CEILINGS, LIFECYCLE, TARGETS

    missing = [n for n in LIFECYCLE if n not in TARGETS]
    assert not missing, f"LIFECYCLE rows without audit targets: {missing}"
    # ceilings only name real targets (a typo'd override is dead code)
    assert set(EXP_CEILINGS) <= set(TARGETS)


def test_amplified_audit_flag_gate():
    """The mechanical gate: exponent over ceiling AND wall excess over
    the absolute slack. A sub-second probe 'doubling' at 8x (noise)
    must NOT flag; a tier-sized row genuinely superlinear must."""
    from scripts.study_amplified_audit import is_flagged

    amps = [1, 8]
    # 0.4 s -> 1.1 s: exp 0.49... under ceiling anyway; make exp high
    noisy = {"walls": {"1": 0.2, "8": 4.0}, "exp": 1.44, "ceiling": 1.35}
    # expected_hi = 0.2 * 8^1.35 = 3.32; excess 0.68 < 1.0 slack
    assert not is_flagged(noisy, amps)
    real = {"walls": {"1": 5.0, "8": 120.0}, "exp": 1.53, "ceiling": 1.35}
    # expected_hi = 5 * 8^1.35 = 82.9; excess 37 s >> slack
    assert is_flagged(real, amps)
    under = {"walls": {"1": 5.0, "8": 38.0}, "exp": 0.98, "ceiling": 1.35}
    assert not is_flagged(under, amps)


def test_fingerprint_normalizes_catalog_scan_label():
    """Catalog-table scan labels embed the staged-index fingerprint
    (spark_catalog.default.<name>_<fp8>_c32); the normalizer must
    strip it from the LABEL, not just the Location detail — a
    testdata refresh re-fingerprints every staged index and must not
    break the plan gate with zero code change (observed live r13)."""
    from gcd_etl_spark.plans.fingerprint import _norm_name

    assert (
        _norm_name("Scan parquet spark_catalog.default.ivfsq8_index_sf0_001_312b4259_c32")
        == "Scan parquet spark_catalog.default.ivfsq8_index_<sf>_c32"
    )
