"""Round-16 additions: NULL-group exact quantiles, codec robustness on
truncated containers, URL-canonicalize negative-id/empty-source edges,
dedup_simhash_clusters, JPEG decode, pack_sequences/tfidf promotions.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from databricks_feature_store_poc_spark.llm.multimodal import JPEG_HUFF_LUT_CAP
from tests.conftest import SF_TEST


# --- agg_exact_quantile_grouped: NULL group key (ADVICE r15 #1) -------------


def test_grouped_quantile_null_group_key_kept(spark, tmp_path):
    """A NULL l_returnflag group with non-NULL prices is a real group on
    both engines (window PARTITION BY keeps it); pass 2's probe join
    must be null-safe or the engine silently drops its quantiles while
    the oracle emits them."""
    from databricks_feature_store_poc_spark.operators.relational import (
        _EXACT_QUANTILES,
        agg_exact_quantile_grouped,
    )

    rows = []
    # NULL group: 20 distinct prices
    null_vals = [float(v) for v in range(100, 2001, 100)]
    rows += [(i + 1, 1, None, v) for i, v in enumerate(null_vals)]
    # 'A' group: 5 prices
    a_vals = [50.0, 150.0, 250.0, 350.0, 450.0]
    rows += [(100 + i, 1, "A", v) for i, v in enumerate(a_vals)]
    # all-NULL-value group vanishes entirely
    rows += [(200, 1, "Z", None)]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_extendedprice double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {
        (r["grp"], r["q"]): (r["k"], r["value"])
        for r in agg_exact_quantile_grouped(spark, str(tmp_path)).collect()
    }
    for grp, vals in ((None, sorted(null_vals)), ("A", sorted(a_vals))):
        for q in _EXACT_QUANTILES:
            k = max(1, math.ceil(q * len(vals)))
            assert got[(grp, q)] == (k, vals[k - 1]), (grp, q)
    assert not any(g == "Z" for g, _ in got)


# --- dedup_simhash_clusters: O(docs) structural dedup (VERDICT r15 #6) ------


def test_simhash_clusters_output_is_one_row_per_doc(spark):
    from databricks_feature_store_poc_spark.llm.dedup import (
        dedup_simhash_clusters,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    out = dedup_simhash_clusters(spark, SF_TEST).collect()
    n_docs = load_table(spark, SF_TEST, "documents").count()
    assert len(out) == n_docs
    assert len({r["doc_id"] for r in out}) == n_docs
    # size bookkeeping: summing each cluster's size once == n_docs
    sizes = {r["cluster_rep"]: r["cluster_size"] for r in out}
    assert sum(sizes.values()) == n_docs
    # rep is the component minimum and is flagged
    for r in out:
        assert r["cluster_rep"] <= r["doc_id"]
        assert r["is_rep"] == (r["doc_id"] == r["cluster_rep"])


def test_simhash_clusters_superset_of_verified_pairs(spark):
    """Every Hamming-verified dedup_simhash pair shares a band, hence
    must land in the same band-connectivity cluster (the coarsening
    direction is one-way by construction)."""
    from databricks_feature_store_poc_spark.llm.dedup import (
        dedup_simhash,
        dedup_simhash_clusters,
    )

    lab = {
        r["doc_id"]: r["cluster_rep"]
        for r in dedup_simhash_clusters(spark, SF_TEST).collect()
    }
    for p in dedup_simhash(spark, SF_TEST).collect():
        assert lab[p["doc_a"]] == lab[p["doc_b"]], p


def test_simhash_clusters_clones_collapse(spark, tmp_path):
    """3 verbatim clones of one doc -> one cluster, rep = min doc_id,
    size 3; a distinct doc and an empty doc stay singletons."""
    from databricks_feature_store_poc_spark.llm.dedup import (
        dedup_simhash_clusters,
    )

    long_a = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (10, long_a, "en", "w", len(long_a)),
        (11, long_a, "en", "w", len(long_a)),
        (12, long_a, "en", "w", len(long_a)),
        (20, "completely different words entirely here unrelated "
             "vocabulary tokens nothing shared whatsoever at all",
         "en", "w", 99),
        (30, "", "en", "w", 0),
        (40, None, "en", "w", None),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["cluster_rep"], r["cluster_size"], r["is_rep"])
        for r in dedup_simhash_clusters(spark, str(tmp_path)).collect()
    }
    assert got[10] == (10, 3, True)
    assert got[11] == (10, 3, False)
    assert got[12] == (10, 3, False)
    assert got[30] == (30, 1, True)
    assert got[40] == (40, 1, True)
    # the distinct doc must not be pulled into the clone cluster
    assert got[20][0] != 10


# --- pack_sequences / text_tfidf_topterms: full-oracle promotions -----------


def test_pack_sequences_null_doc_id_shard(spark, tmp_path):
    """NULL doc_id packs in shard -1 (md5(NULL) is NULL on both
    engines); every doc still appears exactly once and capacity holds."""
    from databricks_feature_store_poc_spark.llm.curation import (
        PACK_CONTEXT,
        pack_sequences,
    )

    rows = [
        (None, "a b c", "en", "w", 5),
        (None, " ".join(["x"] * 300), "en", "w", 600),  # oversized
        (1, "one two", "en", "w", 7),
        (2, None, "en", "w", None),  # NULL text -> 0 tokens
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = pack_sequences(spark, str(tmp_path)).collect()
    assert len(out) == 4
    null_rows = [r for r in out if r["doc_id"] is None]
    assert len(null_rows) == 2
    assert all(r["shard"] == -1 for r in null_rows)
    # oversized doc got its own bin; the 3-token doc a different one
    bins = sorted((r["n_tokens"], r["bin_id"]) for r in null_rows)
    assert bins[0][1] != bins[1][1]
    # per-(shard,bin) fill respects capacity except one-oversized-doc
    from collections import defaultdict

    fill = defaultdict(list)
    for r in out:
        fill[(r["shard"], r["bin_id"])].append(r["n_tokens"])
    for toks in fill.values():
        assert sum(toks) <= PACK_CONTEXT or len(toks) == 1


def test_tfidf_integer_columns_exact(spark):
    """The promoted output's (tf, df, n_docs) must equal independent
    recomputation from the corpus."""
    from collections import Counter

    from databricks_feature_store_poc_spark.registry import (
        QUERIES,
        load_all_queries,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    load_all_queries()
    docs = load_table(spark, SF_TEST, "documents").collect()
    n_docs = len(docs)
    tf = Counter()
    dfc = Counter()
    for d in docs:
        words = [w for w in (d["text"] or "").split() if w]
        for w in words:
            tf[(d["doc_id"], w)] += 1
        for w in set(words):
            dfc[w] += 1
    out = QUERIES["text_tfidf_topterms"](spark, SF_TEST).collect()
    assert out, "no rows"
    for r in out:
        assert r["n_docs"] == n_docs
        assert r["tf"] == tf[(r["doc_id"], r["term"])], r
        assert r["df"] == dfc[r["term"]], r


# --- mm_decode_jpeg: sixth codec, foreign payloads --------------------------


def _ref_jpeg(coeff_blocks, bw, bh, qtable, dri=0, dc_vals=None):
    """Test-local general baseline-grayscale encoder: arbitrary
    ZIGZAG-order quantized coefficients per block (dense AC, ZRL runs),
    optional restart interval and DC table symbol order — payload shapes
    the engine encoder never emits."""
    import struct

    from databricks_feature_store_poc_spark.llm.multimodal import (
        JPEG_AC_BITS,
        JPEG_AC_VALS,
        JPEG_DC_BITS,
        JPEG_DC_VALS,
        jpeg_canonical_codes,
    )

    dc_vals = JPEG_DC_VALS if dc_vals is None else dc_vals
    dc_codes = jpeg_canonical_codes(JPEG_DC_BITS, dc_vals)
    ac_codes = jpeg_canonical_codes(JPEG_AC_BITS, JPEG_AC_VALS)
    w, h = 8 * bw, 8 * bh
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qtable)
    out += (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0])
    )
    out += (
        b"\xff\xc4" + struct.pack(">H", 19 + len(dc_vals))
        + b"\x00" + bytes(JPEG_DC_BITS) + bytes(dc_vals)
    )
    out += (
        b"\xff\xc4" + struct.pack(">H", 19 + len(JPEG_AC_VALS))
        + b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS)
    )
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += (
        b"\xff\xda" + struct.pack(">H", 8) + b"\x01"
        + bytes([1, 0x00]) + bytes([0, 63, 0])
    )
    entropy = bytearray()
    state = {"acc": 0, "n": 0}

    def put(v, nb):
        state["acc"] = (state["acc"] << nb) | (v & ((1 << nb) - 1))
        state["n"] += nb
        while state["n"] >= 8:
            byte = (state["acc"] >> (state["n"] - 8)) & 0xFF
            entropy.append(byte)
            if byte == 0xFF:
                entropy.append(0x00)
            state["n"] -= 8
            state["acc"] &= (1 << state["n"]) - 1

    def flush_pad():
        if state["n"]:
            put((1 << (8 - state["n"])) - 1, 8 - state["n"])

    def put_coeff(v, codes, run=0):
        cat = abs(v).bit_length()
        code, ln = codes[(run << 4) | cat]
        put(code, ln)
        if cat:
            put(v if v >= 0 else v + (1 << cat) - 1, cat)

    pred = 0
    rst = 0
    for i, zz in enumerate(coeff_blocks):
        if dri and i and i % dri == 0:
            flush_pad()
            entropy.append(0xFF)
            entropy.append(0xD0 + rst % 8)
            rst += 1
            pred = 0
        diff = zz[0] - pred
        pred = zz[0]
        cat = abs(diff).bit_length()
        code, ln = dc_codes[cat]
        put(code, ln)
        if cat:
            put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        k = 1
        while k < 64:
            run = 0
            while k < 64 and zz[k] == 0:
                run += 1
                k += 1
            if k == 64:
                code, ln = ac_codes[0x00]  # EOB
                put(code, ln)
                break
            while run >= 16:
                code, ln = ac_codes[0xF0]  # ZRL
                put(code, ln)
                run -= 16
            put_coeff(zz[k], ac_codes, run)
            k += 1
    flush_pad()
    out += entropy + b"\xff\xd9"
    return bytes(out)


def _overflowing_dc_jpeg() -> bytes:
    """8x8 baseline gray JFIF whose one DC difference is 2**64 - 1: a
    forged DC table codes category 64 as '0', then 64 one-bits, then
    the Annex K EOB '1010', 1-padded and FF00-stuffed."""
    import struct

    from databricks_feature_store_poc_spark.llm.multimodal import (
        JPEG_AC_BITS,
        JPEG_AC_VALS,
        JPEG_QTABLE,
    )

    return (
        b"\xff\xd8"
        + b"\xff\xdb\x00\x43\x00" + bytes(JPEG_QTABLE)
        + b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
        + b"\xff\xc4\x00\x14\x00" + bytes([1] + [0] * 15) + b"\x40"
        + b"\xff\xc4" + struct.pack(">H", 19 + len(JPEG_AC_VALS))
        + b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS)
        + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
        + b"\x7f" + b"\xff\x00" * 7 + b"\xd7"
        + b"\xff\xd9"
    )


def _jpeg_reference_pixels(coeff_blocks, bw, bh, qtable):
    """Independent IDCT reference (test-side numpy, separate from the
    kernel's implementation path)."""
    import math

    import numpy as np

    from databricks_feature_store_poc_spark.llm.multimodal import JPEG_ZIGZAG

    A = np.array(
        [
            [
                0.5 * (1 / math.sqrt(2) if u == 0 else 1.0)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                for u in range(8)
            ]
            for x in range(8)
        ]
    )
    img = np.zeros((bh * 8, bw * 8), dtype=np.int64)
    for i, zz in enumerate(coeff_blocks):
        by, bx = i // bw, i % bw
        dq = np.array(zz, dtype=np.int64) * np.array(qtable, dtype=np.int64)
        nat = np.zeros(64, dtype=np.float64)
        nat[list(JPEG_ZIGZAG)] = dq
        spatial = A @ nat.reshape(8, 8) @ A.T
        img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = np.clip(
            np.round(spatial) + 128, 0, 255
        )
    return img


def _decode_jpeg_foreign(payload):
    from databricks_feature_store_poc_spark.llm.multimodal import (
        _JPEG_GRAY,
        _make_jpeg_reader,
    )

    kernel, _ = _make_jpeg_reader(**_JPEG_GRAY)
    batches = iter([pd.DataFrame({"doc_id": [1], "payload": [payload]})])
    out = next(kernel(batches))
    r = out.iloc[0]

    def v(x):
        return None if pd.isna(x) else (
            bool(x) if isinstance(x, bool) else int(x)
        )

    return (
        v(r["width"]), v(r["height"]), v(r["n_blocks"]),
        None if pd.isna(r["header_consistent"])
        else bool(r["header_consistent"]),
        v(r["pixel_checksum_weighted"]),
    )


@pytest.mark.parametrize(
    "dri,n_tables",
    [
        pytest.param(0, 1, id="0"),
        pytest.param(2, 1, id="2"),
        pytest.param(0, JPEG_HUFF_LUT_CAP + 3, id="more_tables_than_lut_cap"),
    ],
)
def test_jpeg_decoder_dense_ac(dri, n_tables):
    """Foreign payload with dense AC coefficients, ZRL runs, and
    (parametrized) restart markers: the decoded weighted checksum must
    equal an independent numpy IDCT of the same coefficients. With more
    distinct DC tables than the reader's Huffman LUT memo holds, one
    kernel decodes every payload the same and the memo stays capped."""
    import inspect
    import random

    from databricks_feature_store_poc_spark.llm.multimodal import (
        _JPEG_GRAY,
        JPEG_DC_BITS,
        JPEG_DC_VALS,
        _jpeg_entropy_tools,
        _make_jpeg_reader,
    )

    rng = random.Random(42)
    bw, bh = 3, 2
    qtable = [8] + [2 * (1 + (i % 7)) for i in range(63)]
    blocks = []
    for b in range(bw * bh):
        zz = [0] * 64
        zz[0] = rng.randint(-80, 80)
        for _ in range(12):  # sparse-but-real AC
            zz[rng.randint(1, 63)] = rng.randint(-30, 30)
        # one long zero run to force ZRL
        for k in range(20, 40):
            zz[k] = 0
        zz[45] = 5
        blocks.append(zz)
    payload = _ref_jpeg(blocks, bw, bh, qtable, dri=dri)
    img = _jpeg_reference_pixels(blocks, bw, bh, qtable)
    want = int(
        sum((i + 1) * int(p) for i, p in enumerate(img.reshape(-1))) % 65536
    )
    got = _decode_jpeg_foreign(payload)
    assert got == (8 * bw, 8 * bh, bw * bh, True, want), got
    if n_tables == 1:
        return
    # the same code lengths with the symbols rotated: distinct tables
    tables = [JPEG_DC_VALS[i:] + JPEG_DC_VALS[:i] for i in range(n_tables)]
    kernel, _ = _make_jpeg_reader(**_JPEG_GRAY)
    out = next(kernel(iter([pd.DataFrame({
        "doc_id": range(n_tables),
        "payload": [
            _ref_jpeg(blocks, bw, bh, qtable, dri=dri, dc_vals=v) for v in tables
        ],
    })])))
    assert out["header_consistent"].all()
    assert out["pixel_checksum_weighted"].tolist() == [want] * n_tables
    _, build_decode, _, _ = _jpeg_entropy_tools()
    for v in tables:
        build_decode(JPEG_DC_BITS, v)
    memo = inspect.getclosurevars(build_decode).nonlocals["_huff_memo"]
    assert len(memo) == JPEG_HUFF_LUT_CAP


def test_jpeg_corruption_detected():
    blocks = [[10] + [0] * 63, [-5] + [0] * 63]
    qtable = [8] + [16] * 63
    good = _ref_jpeg(blocks, 2, 1, qtable)
    # truncated mid-entropy
    got = _decode_jpeg_foreign(good[:-6])
    assert got[3] in (False, None)
    # bad signature
    got2 = _decode_jpeg_foreign(b"\x00\x00" + good[2:])
    assert got2[3] in (False, None)
    # progressive SOF2 is out of contract -> diagnostic row
    prog = bytearray(good)
    sof = prog.index(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    got3 = _decode_jpeg_foreign(bytes(prog))
    assert got3[3] in (False, None)
    # forged segment length pointing past the buffer
    forged = bytearray(good)
    dqt = forged.index(b"\xff\xdb")
    forged[dqt + 2:dqt + 4] = (60000).to_bytes(2, "big")
    got4 = _decode_jpeg_foreign(bytes(forged))
    assert got4[3] in (False, None)
    diagnostic = (None, None, None, False, None)
    # a scan naming a component the frame does not declare
    stray = bytearray(good)
    stray[stray.index(b"\xff\xda") + 5] = 2
    assert _decode_jpeg_foreign(bytes(stray)) == diagnostic
    # a DC difference past 64 bits (once clamped to a 255 block)
    assert _decode_jpeg_foreign(_overflowing_dc_jpeg()) == diagnostic


# --- mm_decode_jpeg_color: foreign multi-component payloads -----------------


def _ref_jpeg_color(comps, mcus_x, mcus_y, dri=0):
    """Test-local general color encoder: comps = list of dicts with
    keys (id, h, v, tq, blocks) where blocks is the list of ZIGZAG
    coefficient arrays in MCU-interleaved order for that component.
    Emits two quant tables (0: luma-style, 1: chroma-style)."""
    import struct

    from databricks_feature_store_poc_spark.llm.multimodal import (
        JPEG_AC_BITS,
        JPEG_AC_VALS,
        JPEG_DC_BITS,
        JPEG_DC_VALS,
        JPEG_QTABLE,
        jpeg_canonical_codes,
    )

    dc_codes = jpeg_canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = jpeg_canonical_codes(JPEG_AC_BITS, JPEG_AC_VALS)
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = 8 * hmax * mcus_x, 8 * vmax * mcus_y
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 2 * 65)
    out += b"\x00" + bytes(JPEG_QTABLE) + b"\x01" + bytes(JPEG_QTABLE)
    out += b"\xff\xc0" + struct.pack(">H", 8 + 3 * len(comps)) + b"\x08"
    out += struct.pack(">HH", h, w) + bytes([len(comps)])
    for c in comps:
        out += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += (
        b"\xff\xc4" + struct.pack(">H", 19 + len(JPEG_DC_VALS))
        + b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS)
    )
    out += (
        b"\xff\xc4" + struct.pack(">H", 19 + len(JPEG_AC_VALS))
        + b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS)
    )
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * len(comps))
    out += bytes([len(comps)])
    for c in comps:
        out += bytes([c["id"], 0x00])
    out += bytes([0, 63, 0])
    entropy = bytearray()
    state = {"acc": 0, "n": 0}

    def put(v, nb):
        state["acc"] = (state["acc"] << nb) | (v & ((1 << nb) - 1))
        state["n"] += nb
        while state["n"] >= 8:
            byte = (state["acc"] >> (state["n"] - 8)) & 0xFF
            entropy.append(byte)
            if byte == 0xFF:
                entropy.append(0x00)
            state["n"] -= 8
            state["acc"] &= (1 << state["n"]) - 1

    def put_block(zz, pred, ci):
        diff = zz[0] - pred
        cat = abs(diff).bit_length()
        code, ln = dc_codes[cat]
        put(code, ln)
        if cat:
            put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
        k = 1
        while k < 64:
            run = 0
            while k < 64 and zz[k] == 0:
                run += 1
                k += 1
            if k == 64:
                code, ln = ac_codes[0x00]
                put(code, ln)
                break
            while run >= 16:
                code, ln = ac_codes[0xF0]
                put(code, ln)
                run -= 16
            cat = abs(zz[k]).bit_length()
            code, ln = ac_codes[(run << 4) | cat]
            put(code, ln)
            put(zz[k] if zz[k] >= 0 else zz[k] + (1 << cat) - 1, cat)
            k += 1
        return zz[0]

    preds = [0] * len(comps)
    idxs = [0] * len(comps)
    mcu = 0
    rst = 0
    for _ in range(mcus_x * mcus_y):
        if dri and mcu and mcu % dri == 0:
            if state["n"]:
                put((1 << (8 - state["n"])) - 1, 8 - state["n"])
            entropy.append(0xFF)
            entropy.append(0xD0 + rst % 8)
            rst += 1
            preds = [0] * len(comps)
        for ci, c in enumerate(comps):
            for _ in range(c["h"] * c["v"]):
                preds[ci] = put_block(c["blocks"][idxs[ci]], preds[ci], ci)
                idxs[ci] += 1
        mcu += 1
    if state["n"]:
        put((1 << (8 - state["n"])) - 1, 8 - state["n"])
    out += entropy + b"\xff\xd9"
    return bytes(out), w, h


def _jpeg_color_reference(comps, mcus_x, mcus_y):
    """Independent reference: per-component IDCT planes (same basis
    math as _jpeg_reference_pixels), replication upsample, fixed-point
    conversion per the documented spec."""
    import numpy as np

    from databricks_feature_store_poc_spark.llm.multimodal import JPEG_QTABLE

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = 8 * hmax * mcus_x, 8 * vmax * mcus_y
    planes = []
    for c in comps:
        pw, ph = 8 * c["h"] * mcus_x, 8 * c["v"] * mcus_y
        plane = np.zeros((ph, pw), dtype=np.int64)
        idx = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        img = _jpeg_reference_pixels(
                            [c["blocks"][idx]], 1, 1, JPEG_QTABLE
                        )
                        r0 = (my * c["v"] + by) * 8
                        c0 = (mx * c["h"] + bx) * 8
                        plane[r0:r0 + 8, c0:c0 + 8] = img
                        idx += 1
        up = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        planes.append(up[:h, :w])
    if len(comps) == 1:
        R = G = B = planes[0]
    else:
        Y, cb, cr = planes[0], planes[1] - 128, planes[2] - 128
        R = np.clip(Y + ((91881 * cr + 32768) >> 16), 0, 255)
        G = np.clip(Y - ((22554 * cb + 46802 * cr + 32768) >> 16), 0, 255)
        B = np.clip(Y + ((116130 * cb + 32768) >> 16), 0, 255)
    rgb = np.stack([R, G, B], axis=-1).reshape(-1)
    return int(((np.arange(rgb.size) + 1) * rgb).sum() % 65536), w, h


def _decode_jpeg_color_foreign(payload):
    from databricks_feature_store_poc_spark.llm.multimodal import (
        _JPEG_COLOR,
        _make_jpeg_reader,
    )

    kernel, _ = _make_jpeg_reader(**_JPEG_COLOR)
    batches = iter([pd.DataFrame({"doc_id": [1], "payload": [payload]})])
    out = next(kernel(batches))
    r = out.iloc[0]

    def v(x):
        return None if pd.isna(x) else int(x)

    return (
        v(r["width"]), v(r["height"]), v(r["n_mcus"]),
        None if pd.isna(r["header_consistent"])
        else bool(r["header_consistent"]),
        v(r["pixel_checksum_weighted"]),
    )


def _rand_blocks(rng, n, dc_range=60, n_ac=8):
    blocks = []
    for _ in range(n):
        zz = [0] * 64
        zz[0] = rng.randint(-dc_range, dc_range)
        for _ in range(n_ac):
            zz[rng.randint(1, 63)] = rng.randint(-20, 20)
        blocks.append(zz)
    return blocks


@pytest.mark.parametrize(
    "sampling,dri",
    [("444", 0), ("420", 0), ("420", 2), ("422", 0)],
)
def test_jpeg_color_decoder_foreign(sampling, dri):
    """Foreign color payloads the engine never emits: dense AC in all
    three components, 4:4:4 / 4:2:0 / 4:2:2 sampling, restart markers.
    Decoded RGB checksum must equal the independent reference."""
    import random

    rng = random.Random(sampling.__hash__() & 0xFFFF | 7)
    mcus_x, mcus_y = 2, 2
    hv = {"444": (1, 1), "420": (2, 2), "422": (2, 1)}[sampling]
    n_y = hv[0] * hv[1] * mcus_x * mcus_y
    n_c = mcus_x * mcus_y
    comps = [
        {"id": 1, "h": hv[0], "v": hv[1], "tq": 0,
         "blocks": _rand_blocks(rng, n_y)},
        {"id": 2, "h": 1, "v": 1, "tq": 1,
         "blocks": _rand_blocks(rng, n_c, dc_range=40, n_ac=5)},
        {"id": 3, "h": 1, "v": 1, "tq": 1,
         "blocks": _rand_blocks(rng, n_c, dc_range=40, n_ac=5)},
    ]
    payload, w, h = _ref_jpeg_color(comps, mcus_x, mcus_y, dri=dri)
    want, ww, wh = _jpeg_color_reference(comps, mcus_x, mcus_y)
    assert (w, h) == (ww, wh)
    got = _decode_jpeg_color_foreign(payload)
    assert got == (w, h, mcus_x * mcus_y, True, want), (sampling, dri, got)


def test_jpeg_color_corruption_detected():
    from databricks_feature_store_poc_spark.llm.multimodal import JPEG_QTABLE

    comps = [
        {"id": 1, "h": 2, "v": 2, "tq": 0,
         "blocks": [[10] + [0] * 63] * 4},
        {"id": 2, "h": 1, "v": 1, "tq": 1, "blocks": [[0] + [0] * 63]},
        {"id": 3, "h": 1, "v": 1, "tq": 1, "blocks": [[0] + [0] * 63]},
    ]
    good, w, h = _ref_jpeg_color(comps, 1, 1)
    got = _decode_jpeg_color_foreign(good[:-8])
    assert got[3] in (False, None)
    # 4-component SOF is out of contract
    bad4 = bytearray(good)
    sof = bad4.index(b"\xff\xc0")
    bad4[sof + 9] = 4
    got2 = _decode_jpeg_color_foreign(bytes(bad4))
    assert got2[3] in (False, None)
    # a DQT holding only 10 of its 64 entries: every contract's reader
    # must refuse it (the color path once decoded it header-consistent)
    one, _, _ = _ref_jpeg_color(
        [{"id": 1, "h": 1, "v": 1, "tq": 0,
          "blocks": [[10] + [0] * 63] * 4}], 2, 2
    )
    dqt = one.index(b"\xff\xdb")
    seglen = int.from_bytes(one[dqt + 2:dqt + 4], "big")
    short = (
        one[:dqt] + b"\xff\xdb\x00\x0d\x00" + bytes(JPEG_QTABLE[:10])
        + one[dqt + 2 + seglen:]
    )
    diagnostic = (None, None, None, False, None)
    assert _decode_jpeg_color_foreign(short) == diagnostic
    assert _decode_jpeg_foreign(short) == diagnostic
    # a DC difference past 64 bits (once clamped, or an OverflowError)
    assert _decode_jpeg_color_foreign(_overflowing_dc_jpeg()) == diagnostic


# --- dedup_minhash_clusters ---------------------------------------------------


def test_minhash_clusters_matches_simhash_contract(spark):
    from databricks_feature_store_poc_spark.llm.dedup import (
        dedup_minhash_clusters,
        dedup_near_minhash,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    out = dedup_minhash_clusters(spark, SF_TEST).collect()
    n_docs = load_table(spark, SF_TEST, "documents").count()
    assert len(out) == n_docs
    sizes = {r["cluster_rep"]: r["cluster_size"] for r in out}
    assert sum(sizes.values()) == n_docs
    lab = {r["doc_id"]: r["cluster_rep"] for r in out}
    # every LSH candidate pair (verified or not, n_shared_bands >= 1)
    # is in the same cluster — the coarsening direction
    for p in dedup_near_minhash(spark, SF_TEST).collect():
        assert lab[p["doc_a"]] == lab[p["doc_b"]], p


# --- text_bpe_learn / text_bpe_apply ----------------------------------------


def _write_docs(spark, tmp_path, texts):
    rows = [
        (i + 1, t, "en", "w", len(t) if t else None)
        for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )


def test_bpe_learn_known_merges(spark, tmp_path):
    """Hand-built corpus where the merge sequence is computable by
    hand: 'abab' x3 + 'ab' x2 + 'cd'. Pair counts round 1:
    (a,b): 3*2+2 = 8, (b,a): 3, (c,d): 1 -> merge1 = ab.
    Round 2 symbols: 'ab ab' x3, 'ab' x2, 'c d':
    (ab,ab): 3, (c,d): 1 -> merge2 = abab. Round 3: only (c,d) -> cd.
    Round 4: no pairs left -> learning stops at 3 merges."""
    from databricks_feature_store_poc_spark.llm.text import text_bpe_learn

    _write_docs(
        spark, tmp_path,
        ["abab abab", "abab ab", "ab", "cd", None],
    )
    rows = sorted(
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in text_bpe_learn(spark, str(tmp_path)).collect()
    )
    assert rows == [
        (1, "a", "b", "ab", 8),
        (2, "ab", "ab", "abab", 3),
        (3, "c", "d", "cd", 1),
    ], rows


def test_bpe_run_semantics_pinned(spark, tmp_path):
    """'aaa' under merge (a,a): left-to-right delimiter-consuming
    replace yields symbols [aa, a] — the documented contract (textbook
    pairwise BPE would agree here; the point is both engines do the
    SAME thing, asserted by the apply counts)."""
    from databricks_feature_store_poc_spark.llm.text import (
        text_bpe_apply,
        text_bpe_learn,
    )

    _write_docs(spark, tmp_path, ["aaa aaa aa", "aa"])
    merges = text_bpe_learn(spark, str(tmp_path)).collect()
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "a")
    got = {
        r["doc_id"]: (r["n_alpha_words"], r["n_bpe_tokens"])
        for r in text_bpe_apply(spark, str(tmp_path)).collect()
    }
    # after merge1 (a,a): 'aaa' -> [aa, a]; merge2 = (aa, a) count 2
    # -> 'aaa' -> [aaa]; 'aa' -> [aa]. merge3 = (aaa, aaa)? count 1 of
    # (aaa,aaa)? doc1 'aaa aaa aa' are separate WORDS — no cross-word
    # pairs, so learning dries up after word-internal merges.
    assert got[1][0] == 3
    assert got[2][0] == 1
    # every word collapses to a single token eventually
    assert got[1][1] == 3 and got[2][1] == 1


def test_bpe_apply_counts_match_manual(spark, tmp_path):
    """Apply counts equal a driver-side manual replay of the learned
    merges on each distinct word."""
    from databricks_feature_store_poc_spark.llm.text import (
        text_bpe_apply,
        text_bpe_learn,
    )

    texts = ["the cat sat on the mat", "the bat and the cat", "zzz qq"]
    _write_docs(spark, tmp_path, texts)
    merges = [
        (r["lhs"], r["rhs"], r["merged"])
        for r in sorted(
            text_bpe_learn(spark, str(tmp_path)).collect(),
            key=lambda r: r["merge_rank"],
        )
    ]

    def tokenize(word):
        sym = " " + "  ".join(word) + " "
        for lhs, rhs, merged in merges:
            sym = sym.replace(f" {lhs}  {rhs} ", f" {merged} ")
        return [s for s in sym.split(" ") if s]

    got = {
        r["doc_id"]: (r["n_alpha_words"], r["n_bpe_tokens"])
        for r in text_bpe_apply(spark, str(tmp_path)).collect()
    }
    for i, t in enumerate(texts, start=1):
        words = [w for w in t.split() if w.isalpha() and w.islower()]
        want = (len(words), sum(len(tokenize(w)) for w in words))
        assert got[i] == want, (i, got[i], want)


# --- PNG/GIF: truncated/forged length fields (ADVICE r15 #2) ----------------


def test_png_forged_chunk_length_no_crash():
    """A forged 4-byte chunk length that points past the buffer must
    yield the diagnostic row, not a struct.error from the CRC read."""
    import struct

    from tests.test_round15 import _decode_foreign, _ref_png

    good = _ref_png(bytes(range(45)), 5, 3)
    forged = bytearray(good)
    # IHDR length word lives at offset 8; forge it huge
    struct.pack_into(">I", forged, 8, 0x7FFFFFF0)
    got = _decode_foreign(bytes(forged))
    assert got[4] in (False, None)
    # truncation mid-chunk: cut inside the first IDAT payload such that
    # off+12+ln overruns (previously struct.error on the CRC unpack)
    cut = good[: 8 + 12 + 13 + 8 + 4]  # sig + IHDR + IDAT hdr + 4 bytes
    got2 = _decode_foreign(cut)
    assert got2[4] in (False, None)


def test_url_canonicalize_negative_id_and_empty_source(spark, tmp_path):
    """ADVICE r15 #3: negative doc_id (pmod vs %) and empty-string
    source ('www..example.com' rejected by java.net.URI) must both
    produce identical rows cross-engine."""
    import duckdb

    from databricks_feature_store_poc_spark.llm.text import (
        text_url_canonicalize,
    )
    from tests.harness import value_hash

    rows = [
        (-7, "t", "en", "web", 1),
        (-1, "t", "en", "", 1),        # empty source
        (3, "t", "en", "hot_source", 1),
        (None, "t", "en", "web", 1),   # NULL doc_id -> NULL row
        (5, "t", "en", None, 1),       # NULL source -> NULL row
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sdf = text_url_canonicalize(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    # every non-NULL input must canonicalize (the empty-source guard)
    assert all(
        r[2] is not None for r in srows if r[0] is not None and r[0] != 5
    ), srows
    from databricks_feature_store_poc_spark.registry import ORACLES

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    rel = con.sql(ORACLES["text_url_canonicalize"])
    drows, dcols = rel.fetchall(), list(rel.columns)
    con.close()
    assert sorted(sdf.columns) == sorted(dcols)
    assert value_hash(srows, sdf.columns) == value_hash(drows, dcols)


def test_gif_truncated_descriptor_no_crash():
    """Truncation inside the image descriptor (unpack_from overrun) and
    right before the LZW min-size byte must both yield the diagnostic
    row, not struct.error/IndexError."""
    from tests.test_round15 import _decode_gif_foreign, _ref_gif

    good = _ref_gif(bytes(range(20)), 5, 4)
    dsc = good.index(b"\x2c")  # first image descriptor
    # cut 4 bytes into the 10-byte descriptor
    got = _decode_gif_foreign(good[: dsc + 4])
    assert got[3] in (False, None)
    # cut exactly at the min-size byte (descriptor complete, no byte
    # left to read)
    got2 = _decode_gif_foreign(good[: dsc + 10])
    assert got2[3] in (False, None)
