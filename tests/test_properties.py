"""Property-based tests (hypothesis): Spark operators vs. brute-force
pure-Python reference implementations on randomized micro-data.  These
hunt the boundary cases fixed fixtures miss (equal timestamps, empty
sides, single-row groups)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings, strategies as st

from dbt_json_readr_spark.operators.asof import asof_join
from dbt_json_readr_spark.operators.sessionize import sessionize
from tests.plan_utils import broadcast_threshold

BASE = dt.datetime(2024, 1, 1)

# timestamps on a coarse grid to force equal-ts collisions
ts_strategy = st.integers(min_value=0, max_value=40).map(
    lambda m: BASE + dt.timedelta(minutes=m)
)
key_strategy = st.integers(min_value=1, max_value=3)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _naive_asof(left, right):
    """For each left row: right row with max ts <= left.ts on same key,
    ties on ts broken by the LAST in (ts, px) sort order — matching the
    window's last() over right-rows-sorted semantics."""
    out = {}
    for k, lts, tag in left:
        cands = [(rts, px) for (rk, rts, px) in right if rk == k and rts <= lts]
        out[tag] = max(cands)[1] if cands else None
    return out


@settings(**SETTINGS)
@given(
    left=st.lists(
        st.tuples(key_strategy, ts_strategy, st.uuids().map(str)),
        min_size=1, max_size=8,
    ),
    right=st.lists(
        st.tuples(key_strategy, ts_strategy, st.integers(0, 100).map(float)),
        max_size=8,
    ),
)
def test_asof_join_matches_bruteforce(spark, left, right):
    # right must be unique per (key, ts) for determinism (operator contract)
    seen = set()
    right = [r for r in right if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))]
    ldf = spark.createDataFrame(left, "k long, ts timestamp, tag string")
    rdf = spark.createDataFrame(
        right or [(99, BASE, 0.0)], "k long, ts timestamp, px double"
    )
    got = {r.tag: r.px_asof for r in asof_join(ldf, rdf, on="k").collect()}
    want = _naive_asof(left, right or [(99, BASE, 0.0)])
    assert got == want


def _naive_sessions(rows, gap_s=1800):
    """rows: (user, ts, event_id) → {event_id: session_id} with the
    batch operator's semantics (sorted by ts then event_id; gap > gap_s
    starts a new session)."""
    out = {}
    by_user: dict = {}
    for u, ts, eid in rows:
        by_user.setdefault(u, []).append((ts, eid))
    for u, evs in by_user.items():
        evs.sort()
        sid, prev = 0, None
        for ts, eid in evs:
            if prev is None or (ts - prev).total_seconds() > gap_s:
                sid += 1
            out[eid] = sid
            prev = ts
    return out


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(key_strategy, ts_strategy, st.integers(0, 10**6)),
        min_size=1, max_size=12, unique_by=lambda r: r[2],
    )
)
def test_sessionize_matches_bruteforce(spark, rows):
    df = spark.createDataFrame(
        [(u, ts, e, 1.0) for u, ts, e in rows],
        "user_id long, ts timestamp, event_id long, value double",
    )
    got = {r.event_id: r.session_id for r in sessionize(df).collect()}
    assert got == _naive_sessions(rows)


def _naive_scd2(current, updates):
    """Pure-Python SCD2: current rows (k, v, eff, end, cur); updates
    (k, v, eff) pre-deduped per key."""
    upd = {k: (v, eff) for k, v, eff in updates}
    out = []
    live_keys = set()
    for k, v, eff, end, cur in current:
        live_keys.add(k)
        if cur and k in upd and upd[k][0] != v:
            out.append((k, v, eff, upd[k][1], False))
            out.append((k, upd[k][0], upd[k][1], None, True))
        else:
            out.append((k, v, eff, end, cur))
    for k, (v, eff) in upd.items():
        if k not in live_keys:
            out.append((k, v, eff, None, True))
    return sorted(out)


@settings(**SETTINGS)
@given(
    current=st.lists(
        st.tuples(key_strategy, st.sampled_from(["a", "b", "c"]), ts_strategy),
        max_size=3, unique_by=lambda r: r[0],
    ),
    updates=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),
            st.sampled_from(["a", "b", "z"]),
        ),
        max_size=3, unique_by=lambda r: r[0],
    ),
)
def test_scd2_matches_bruteforce(spark, current, updates):
    from dbt_json_readr_spark.operators.scd2 import scd2_apply

    upd_ts = BASE + dt.timedelta(hours=1)
    cur_rows = [(k, v, eff, None, True) for k, v, eff in current]
    upd_rows = [(k, v, upd_ts) for k, v in updates]
    cur_df = spark.createDataFrame(
        cur_rows or [(99, "x", BASE, None, True)],
        "k long, v string, effective_from timestamp, effective_to timestamp, is_current boolean",
    )
    upd_df = spark.createDataFrame(
        upd_rows or [(98, "x", upd_ts)], "k long, v string, effective_from timestamp"
    )
    got = sorted(
        (r.k, r.v, r.effective_from, r.effective_to, r.is_current)
        for r in scd2_apply(cur_df, upd_df, key="k", tracked=["v"]).collect()
    )
    want = _naive_scd2(
        cur_rows or [(99, "x", BASE, None, True)],
        upd_rows or [(98, "x", upd_ts)],
    )
    assert got == want


# ------------------------------------------------- multimodal decoders
# Pure-function properties (no Spark): the PNG/WAV decoders must invert
# arbitrary synthesized content, not just the doc_id patterns — in
# particular the scanline unfilter across random filter-type sequences.

import struct as _struct
import zlib as _zlib

from dbt_json_readr_spark.operators import multimodal as MM


def _jpeg_decoded_shade(v: int) -> int:
    """Closed-form lossy round-trip of a solid 8×8 block of shade v:
    F00 = 8·(v−128); dc_q = round_away(F00/Q₀₀); pixel =
    clamp(round_away(dc_q·Q₀₀/8)+128).  With Q₀₀=16 the second round
    is exact (2·dc_q)."""
    q00 = MM._JPEG_QTBL[0]
    dc_q = MM._iround_away(8 * (v - 128), q00)
    rec = MM._iround_away(dc_q * q00, 8) + 128
    return max(0, min(255, rec))


def _encode_png_gray(pix: list[list[int]], ftypes: list[int]) -> bytes:
    """Reference grayscale PNG encoder applying a given filter type per
    scanline (the inverse of multimodal._unfilter_scanline)."""
    w, h = len(pix[0]), len(pix)
    raw = bytearray()
    prev = [0] * w
    for y in range(h):
        ft = ftypes[y]
        raw.append(ft)
        line = pix[y]
        for i in range(w):
            a = line[i - 1] if i else 0
            b = prev[i]
            c = prev[i - 1] if i else 0
            if ft == 0:
                v = line[i]
            elif ft == 1:
                v = line[i] - a
            elif ft == 2:
                v = line[i] - b
            elif ft == 3:
                v = line[i] - (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = line[i] - pred
            raw.append(v & 0xFF)
        prev = line
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + MM._png_chunk(b"IEND", b"")
    )


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_png_decode_inverts_any_filtered_encoding(data):
    w = data.draw(st.integers(min_value=1, max_value=12))
    h = data.draw(st.integers(min_value=1, max_value=8))
    pix = data.draw(
        st.lists(
            st.lists(st.integers(0, 255), min_size=w, max_size=w),
            min_size=h, max_size=h,
        )
    )
    ftypes = data.draw(st.lists(st.sampled_from([0, 1, 2, 3, 4]), min_size=h, max_size=h))
    d = MM.decode_png(_encode_png_gray(pix, ftypes))
    flat = [v for row in pix for v in row]
    assert d["width"] == w and d["height"] == h and d["n_units"] == w * h
    assert d["content_sum"] == sum(flat)
    assert d["content_min"] == min(flat) and d["content_max"] == max(flat)


@settings(max_examples=40, deadline=None)
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
    sr=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_decode_inverts_any_pcm(samples, sr):
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(_struct.pack(f"<{len(samples)}h", *samples))
    d = MM.decode_wav(buf.getvalue())
    assert d["sample_rate"] == sr and d["n_units"] == len(samples)
    assert d["content_sum"] == sum(samples)
    assert d["content_min"] == min(samples) and d["content_max"] == max(samples)


def test_zorder_interleave_bounds_tile_span(spark):
    """Property of the Morton interleave used by lineitem_zorder_layout:
    any two keys landing in the same top-4-bit z-range agree on the top
    2 bits of BOTH low bytes, so each bucket's per-dimension span is
    < 64 — checked exhaustively over a 256×16 key grid."""
    from pyspark.sql import functions as F

    rows = [(a, b) for a in range(0, 256, 1) for b in range(0, 256, 16)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    z = F.lit(0)
    for i in range(8):
        z = z + F.shiftright("l_orderkey", i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        z = z + F.shiftright("l_partkey", i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
    got = (
        df.select(
            F.shiftright(z, 12).alias("bucket"),
            F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("o"),
            F.col("l_partkey").bitwiseAND(F.lit(255)).alias("p"),
        )
        .groupBy("bucket")
        .agg(
            (F.max("o") - F.min("o")).alias("o_span"),
            (F.max("p") - F.min("p")).alias("p_span"),
        )
        .collect()
    )
    assert got and all(r.o_span < 64 and r.p_span < 64 for r in got)


@given(
    s_cnt=st.integers(min_value=4, max_value=10_000),
    partkey=st.integers(min_value=1, max_value=10_000_000),
)
@settings(max_examples=200, deadline=None)
def test_partsupp_supplier_assignment_collision_free(s_cnt, partkey):
    """The synthesized partsupp (sources/tables.py load_partsupp) must
    give every part exactly 4 DISTINCT suppliers for ANY supplier count
    ≥ 4 — the property dbgen's stride formula loses at tiny scale,
    which is why consecutive residues are used instead."""
    supps = {(partkey * 4 + i) % s_cnt + 1 for i in range(4)}
    assert len(supps) == 4
    assert all(1 <= s <= s_cnt for s in supps)


@given(
    s_cnt=st.integers(min_value=4, max_value=1000),
    partkey=st.integers(min_value=1, max_value=1_000_000),
)
@settings(max_examples=100, deadline=None)
def test_partsupp_cost_and_qty_are_in_domain(s_cnt, partkey):
    """availqty ∈ [1, 9999]; supplycost cents ∈ [100, 100000] — the
    DECIMAL(12,2) construction can never overflow or go non-positive."""
    for i in range(4):
        sk = (partkey * 4 + i) % s_cnt + 1
        qty = (partkey * 47 + sk * 31) % 9999 + 1
        cents = (partkey * 97 + sk * 61) % 99901 + 100
        assert 1 <= qty <= 9999
        assert 100 <= cents <= 100000


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), ts_strategy),
        min_size=1,
        max_size=10,
    )
)
def test_concurrency_sweep_matches_naive_overlap(spark, rows):
    """Sweep-line max concurrency == naive per-start overlap count,
    including equal-timestamp pileups and the half-open boundary (an
    interval ending exactly when another starts does NOT overlap)."""
    from dbt_json_readr_spark.plans.events import concurrency_sweep

    dur = dt.timedelta(minutes=10)
    got = {
        r["event_type"]: (r["max_concurrent"], r["peak_ts"])
        for r in concurrency_sweep(
            spark.createDataFrame(rows, "event_type string, ts timestamp"),
            "INTERVAL 10 MINUTES",
        ).collect()
    }
    for typ in {t for t, _ in rows}:
        starts = sorted(ts for t, ts in rows if t == typ)
        # concurrency only changes at a start; evaluate at each start
        best, best_t = 0, None
        for s in starts:
            c = sum(1 for x in starts if x <= s < x + dur)
            if c > best:
                best, best_t = c, s
        assert got[typ][0] == best
        assert got[typ][1] == best_t


@settings(deadline=None)
@given(
    a=st.integers(min_value=0, max_value=10_000),
    b=st.integers(min_value=0, max_value=10_000),
)
def test_fuzzy_length_banding_is_lossless(a, b):
    """Any pair within the declared length window shares a block key
    under band/band+1 emission — the C56 blocking-covers-predicate
    invariant, checked over the whole integer domain."""
    from dbt_json_readr_spark.plans.llm import _FUZZY_BAND, _FUZZY_LEN_DELTA

    ka = {a // _FUZZY_BAND, a // _FUZZY_BAND + 1}
    kb = {b // _FUZZY_BAND, b // _FUZZY_BAND + 1}
    if abs(a - b) <= _FUZZY_LEN_DELTA:
        assert ka & kb


@settings(deadline=None, max_examples=25)
@given(doc_id=st.integers(min_value=0, max_value=1_000_000))
def test_jpeg_decode_matches_closed_form_for_any_doc(doc_id):
    """The full decoder (segment walk, huffman, DC prediction,
    dequantize) inverts the encoder to the closed-form lossy shade for
    every doc_id — the contract the multimodal_decode oracle replays."""
    from dbt_json_readr_spark.operators import multimodal as M

    got = M.decode_jpeg(M.synth_jpeg(doc_id))
    shades = [
        _jpeg_decoded_shade(M.jpeg_block_value(doc_id, bx, by))
        for by in range(2)
        for bx in range(2)
    ]
    assert got["n_units"] == 256
    assert got["content_sum"] == 64 * sum(shades)
    assert got["content_min"] == min(shades)
    assert got["content_max"] == max(shades)


def test_jpeg_ac_path_decodes_nonsolid_block():
    """General-path coverage: a hand-encoded block with a nonzero AC
    coefficient routes through the run-length decode + float IDCT and
    reconstructs the independently computed (numpy) IDCT values."""
    import struct

    import numpy as np

    from dbt_json_readr_spark.operators import multimodal as M

    dc_q, ac_q, ac_pos = 4, 3, 1  # zigzag position 1 = coefficient (1,0)
    dc_codes = M._huff_codes(M._DC_BITS, M._DC_VALS)
    ac_codes = M._huff_codes(M._AC_BITS, M._AC_VALS)
    w = M._BitWriter()
    cat, bits = M._magnitude(dc_q)
    code, ln = dc_codes[cat]
    w.write(code, ln)
    w.write(bits, cat)
    cat, bits = M._magnitude(ac_q)
    code, ln = ac_codes[(0 << 4) | cat]  # run 0, size cat
    w.write(code, ln)
    w.write(bits, cat)
    code, ln = ac_codes[0x00]
    w.write(code, ln)

    size = 8
    dqt = bytes([0x00]) + bytes(M._JPEG_QTBL[M._ZIGZAG[i]] for i in range(64))
    sof = struct.pack(">BHHB", 8, size, size, 1) + bytes([1, 0x11, 0])
    payload = (
        b"\xff\xd8"
        + M._seg(0xDB, dqt)
        + M._seg(0xC0, sof)
        + M._seg(0xC4, bytes([0x00]) + bytes(M._DC_BITS) + bytes(M._DC_VALS))
        + M._seg(0xC4, bytes([0x10]) + bytes(M._AC_BITS) + bytes(M._AC_VALS))
        + M._seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + w.flush()
        + b"\xff\xd9"
    )
    got = M.decode_jpeg(payload)

    # independent reference: numpy cosine-matrix IDCT of the same
    # dequantized coefficients
    coef = np.zeros((8, 8))
    coef[0, 0] = dc_q * M._JPEG_QTBL[0]
    # zigzag position 1 is (row 0, col 1) in natural order
    nat = M._ZIGZAG[ac_pos]
    coef[nat // 8, nat % 8] = ac_q * M._JPEG_QTBL[nat]
    c = np.array([1 / np.sqrt(2)] + [1.0] * 7)
    basis = np.array(
        [[np.cos((2 * x + 1) * u * np.pi / 16) for u in range(8)] for x in range(8)]
    )
    ref = (basis * c) @ coef @ (basis * c).T / 4
    want = np.clip(np.floor(ref + 0.5) + 128, 0, 255).astype(int)  # half-up, as decoder
    assert got["n_units"] == 64
    assert got["content_sum"] == int(want.T.sum())  # ref is [x][y]; sum symmetric
    assert got["content_min"] == int(want.min())
    assert got["content_max"] == int(want.max())
    # non-solid: the AC coefficient must actually modulate the block
    assert got["content_min"] != got["content_max"]


def test_jpeg_bitstream_stuffing_roundtrip():
    """A code pattern producing an 0xFF byte is stuffed on write and
    unstuffed on read."""
    from dbt_json_readr_spark.operators import multimodal as M

    w = M._BitWriter()
    w.write(0xFF, 8)
    w.write(0xAB, 8)
    data = w.flush()
    assert data[0] == 0xFF and data[1] == 0x00  # stuffed
    r = M._BitReader(data)
    assert r.read_bits(8) == 0xFF and r.read_bits(8) == 0xAB


@settings(deadline=None, max_examples=30)
@given(data=st.data())
def test_jpeg_decoder_rejects_corruption_cleanly(data):
    """Truncation or byte corruption must raise, never return wrong
    stats silently (decode is a correctness gate, not best-effort)."""
    from dbt_json_readr_spark.operators import multimodal as M

    payload = bytes(M.synth_jpeg(data.draw(st.integers(0, 10_000))))
    mode = data.draw(st.sampled_from(["truncate", "flip_marker", "drop_segment"]))
    if mode == "truncate":
        cut = data.draw(st.integers(2, len(payload) - 3))
        corrupted = payload[:cut]
    elif mode == "flip_marker":
        i = payload.find(b"\xff\xc0")  # SOF0 → progressive SOF2
        corrupted = payload[:i] + b"\xff\xc2" + payload[i + 2 :]
    else:
        import struct as _s

        i = payload.find(b"\xff\xdb")  # excise the DQT segment entirely
        (ln,) = _s.unpack(">H", payload[i + 2 : i + 4])
        corrupted = payload[:i] + payload[i + 2 + ln :]
    try:
        got = M.decode_jpeg(corrupted)
    except Exception:
        return  # clean rejection is the contract
    # a decode that still succeeds (e.g. only trailing bytes cut) is
    # acceptable ONLY if it yields the true content — never wrong stats
    assert got == M.decode_jpeg(payload), "corrupt payload decoded silently wrong"


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "N"]),           # group
            st.integers(1, 8),                     # weight (quantity)
            st.sampled_from([10.0, 20.0, 20.0, 30.0, 40.0]),  # price w/ ties
        ),
        min_size=1,
        max_size=12,
    )
)
def test_weighted_median_matches_naive_threshold(spark, rows):
    """DECIMAL threshold-crossing weighted median == naive sorted-scan
    reference, including tied prices straddling the crossing and
    single-row groups."""
    from dbt_json_readr_spark.plans.tpch import (
        LINEITEM_WEIGHTED_MEDIAN_SQL,  # noqa: F401 — shape documented there
        lineitem_weighted_median,
    )

    df = spark.createDataFrame(
        [(g, i, i, float(w), p) for i, (g, w, p) in enumerate(rows)],
        "l_returnflag string, l_orderkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double",
    )
    # drive the operator's core directly on the micro-frame: same
    # expressions as the registry fn, minus the parquet load
    import dbt_json_readr_spark.plans.tpch as tp
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    cum_w = F.sum(tp._dec("l_quantity")).over(
        W.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot_w = F.sum(tp._dec("l_quantity")).over(W.partitionBy("l_returnflag"))
    got = {
        r.l_returnflag: r.med
        for r in df.select(
            "l_returnflag",
            F.col("l_extendedprice").alias("price"),
            cum_w.alias("cum_w"),
            tot_w.alias("tot_w"),
        )
        .groupBy("l_returnflag")
        .agg(F.min(F.when(F.col("cum_w") * 2 >= F.col("tot_w"), F.col("price"))).alias("med"))
        .collect()
    }
    for grp in {g for g, _, _ in rows}:
        seq = sorted((p, w) for g, w, p in rows if g == grp)
        total = sum(w for _, w in seq)
        acc, want = 0, None
        for p, w in seq:
            acc += w
            if 2 * acc >= total:
                want = p
                break
        assert got[grp] == want


@settings(deadline=None, max_examples=25)
@given(doc_id=st.integers(min_value=0, max_value=1_000_000))
def test_avi_decode_matches_closed_form_for_any_doc(doc_id):
    """The MJPEG/AVI decoder (RIFF walk → per-'00dc' JPEG decode →
    frame aggregation) matches the closed-form per-frame shades for
    every doc_id — the contract the multimodal_decode oracle's avi
    branch replays."""
    from dbt_json_readr_spark.operators import multimodal as M

    got = M.decode_avi(M.synth_avi(doc_id))
    nf = M.avi_frame_count(doc_id)
    shades = [
        _jpeg_decoded_shade(M.jpeg_block_value(doc_id, bx, by, f))
        for f in range(nf)
        for by in range(2)
        for bx in range(2)
    ]
    assert got["n_frames"] == nf
    assert got["n_units"] == 256 * nf
    assert got["content_sum"] == 64 * sum(shades)
    assert got["content_min"] == min(shades)
    assert got["content_max"] == max(shades)


@settings(deadline=None, max_examples=30)
@given(data=st.data())
def test_avi_decoder_rejects_corruption_cleanly(data):
    """Container corruption must raise (typed), never return wrong
    stats: truncation, a non-MJPG codec tag, a frame-count lie in the
    stream header, or a damaged frame chunk."""
    import struct as _s

    import pytest as _pytest

    from dbt_json_readr_spark.operators import multimodal as M

    payload = bytes(M.synth_avi(data.draw(st.integers(0, 10_000))))
    mode = data.draw(
        st.sampled_from(["truncate", "wrong_codec", "frame_lie", "bad_frame"])
    )
    if mode == "truncate":
        corrupted = payload[: data.draw(st.integers(4, len(payload) - 5))]
    elif mode == "wrong_codec":
        i = payload.find(b"vidsMJPG")
        corrupted = payload[:i] + b"vidsH264" + payload[i + 8 :]
    elif mode == "frame_lie":
        i = payload.find(b"vidsMJPG")
        # dwLength lives at strh offset 32 = i + 32
        corrupted = payload[: i + 32] + _s.pack("<I", 99) + payload[i + 36 :]
    else:
        i = payload.find(b"00dc")
        # zero out two bytes inside the first frame's JPEG
        corrupted = payload[: i + 12] + b"\x00\x00" + payload[i + 14 :]
    with _pytest.raises((ValueError, AssertionError)):
        M.decode_avi(corrupted)


@settings(deadline=None, max_examples=60)
@given(doc_id=st.integers(0, 100_000))
def test_mp4_decode_matches_avi_for_any_doc(doc_id):
    """r6: the ISO-BMFF walk and the RIFF walk wrap the SAME frame
    payloads, so both containers must decode to identical stats for
    every doc_id — one closed-form oracle covers both by construction."""
    from dbt_json_readr_spark.operators import multimodal as M

    assert M.decode_mp4(M.synth_mp4(doc_id)) == M.decode_avi(M.synth_avi(doc_id))


@settings(deadline=None, max_examples=30)
@given(data=st.data())
def test_mp4_decoder_rejects_corruption_cleanly(data):
    """Box-tree corruption must raise (typed), never return wrong
    stats: truncation, an avc1 sample entry (H.264 — declared out of
    scope, must refuse), an stts/stsz sample-count lie, and a stated
    width the frames do not decode to."""
    import struct as _s

    import pytest as _pytest

    from dbt_json_readr_spark.operators import multimodal as M

    payload = bytes(M.synth_mp4(data.draw(st.integers(0, 10_000))))
    mode = data.draw(
        st.sampled_from(["truncate", "avc1", "count_lie", "dim_lie"])
    )
    if mode == "truncate":
        corrupted = payload[: data.draw(st.integers(4, len(payload) - 5))]
    elif mode == "avc1":
        i = payload.index(b"jpeg", payload.index(b"stsd"))
        corrupted = payload[:i] + b"avc1" + payload[i + 4 :]
    elif mode == "count_lie":
        i = payload.index(b"stts") + 4 + 4 + 4  # fullbox hdr + entry_count
        (n,) = _s.unpack(">I", payload[i : i + 4])
        corrupted = payload[:i] + _s.pack(">I", n + 1) + payload[i + 4 :]
    else:  # dim_lie: stsd width field off by 8
        i = payload.index(b"stsd") + 4 + 4 + 4 + 4 + 4 + 24  # into entry width
        (w,) = _s.unpack(">H", payload[i : i + 2])
        corrupted = payload[:i] + _s.pack(">H", w + 8) + payload[i + 2 :]
    try:
        got = M.decode_mp4(corrupted)
    except (ValueError, IndexError, _s.error):
        return
    assert got == M.decode_mp4(payload), "corrupt payload decoded silently wrong"


@settings(**SETTINGS)
@given(data=st.data())
def test_degree_cap_invariants_on_random_graphs(spark, data):
    """candidate_degree_cap invariants on arbitrary pair graphs (not
    just cliques): kept ⊆ candidates; kept count ≤ Σ min(degree, cap)
    (each kept pair is nominated by at least one end); every doc's
    SMALLEST-partner edge survives (the min-id connectivity kernel);
    evidence rows account exactly for the docs that lost partners."""
    from dbt_json_readr_spark.operators.dedup import candidate_degree_cap

    n = data.draw(st.integers(4, 14))
    cap = data.draw(st.integers(1, 4))
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in data.draw(
                st.lists(
                    st.tuples(st.integers(1, n), st.integers(1, n)), max_size=40
                )
            )
            if a != b
        }
    )
    if not edges:
        return
    cand = spark.createDataFrame(edges, "doc_a long, doc_b long")
    kept_df, capped_df = candidate_degree_cap(cand, cap)
    kept = {(r.doc_a, r.doc_b) for r in kept_df.collect()}
    capped = {r.doc: r for r in capped_df.collect()}

    assert kept <= set(edges)
    from collections import defaultdict

    deg = defaultdict(set)
    for a, b in edges:
        deg[a].add(b)
        deg[b].add(a)
    assert len(kept) <= sum(min(len(p), cap) for p in deg.values())
    # min-edge preservation: each doc's smallest partner edge is kept
    for d, partners in deg.items():
        m = min(partners)
        assert (min(d, m), max(d, m)) in kept
    # evidence accounting: dropped pairs contribute 2 directed losses
    dropped = set(edges) - kept
    lost = defaultdict(int)
    for a, b in dropped:
        lost[a] += 1
        lost[b] += 1
    assert {d: r.n_dropped_partners for d, r in capped.items()} == dict(lost)
    for d, r in capped.items():
        assert r.degree == len(deg[d])


# ----- Delta bridge vs independent replay on GENERATED logs (r7) -----
# VERDICT r6 item 3: the bridge fixtures are self-built, so every byte
# was author-chosen.  Here hypothesis chooses the bytes: random commit
# sequences (adds, removes, re-adds, metaData re-issues, renames under
# column mapping, partitioned or not) are written as a real _delta_log
# and the bridge's snapshot is checked against a from-scratch replay
# implemented in this test, sharing no code with lakeformats.

_DELTA_COL_POOL = ["alpha", "beta", "gamma", "delta_col"]


def _write_random_delta_log(tmpdir, commits):
    import json as _json
    import os as _os

    log = _os.path.join(tmpdir, "_delta_log")
    _os.makedirs(log, exist_ok=True)
    for v, actions in enumerate(commits):
        with open(_os.path.join(log, f"{v:020d}.json"), "w") as f:
            f.write("\n".join(_json.dumps(a) for a in actions) + "\n")


@st.composite
def _delta_log_strategy(draw):
    import json as _json

    mapped = draw(st.booleans())
    n_cols = draw(st.integers(min_value=1, max_value=3))
    logical = _DELTA_COL_POOL[:n_cols]
    partitioned = draw(st.booleans()) and n_cols > 1

    def schema_string(names):
        fields = []
        for i, name in enumerate(names):
            md = (
                {
                    "delta.columnMapping.id": i + 1,
                    "delta.columnMapping.physicalName": f"col-{i:04d}",
                }
                if mapped
                else {}
            )
            fields.append(
                {"name": name, "type": "string", "nullable": True, "metadata": md}
            )
        return _json.dumps({"type": "struct", "fields": fields})

    def metadata_action(names):
        conf = {"delta.columnMapping.mode": "name"} if mapped else {}
        return {
            "metaData": {
                "id": "prop-table",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string(names),
                "partitionColumns": [names[-1]] if partitioned else [],
                "configuration": conf,
            }
        }

    paths = [f"f{i}.parquet" for i in range(5)]
    pkey = (f"col-{n_cols - 1:04d}" if mapped else logical[-1]) if partitioned else None

    def add(path, pv):
        a = {
            "add": {
                "path": path,
                "partitionValues": {pkey: pv} if partitioned else {},
                "size": 1,
                "modificationTime": 1,
                "dataChange": True,
                # junk the bridge must tolerate, as real writers emit
                "stats": '{"numRecords": 1}',
                "tags": {"x": "y"},
            }
        }
        return a

    commits = [
        [
            {"commitInfo": {"operation": "WRITE"}},
            {"protocol": {"minReaderVersion": 2 if mapped else 1, "minWriterVersion": 5 if mapped else 2}},
            metadata_action(logical),
        ]
    ]
    n_more = draw(st.integers(min_value=0, max_value=4))
    renamed = list(logical)
    for _ in range(n_more):
        actions = [{"commitInfo": {"operation": "WRITE"}}]
        # PROTOCOL.md action reconciliation keys file actions by
        # (path, dvId): a VALID commit carries at most one action per
        # key, so the generator must not add and remove the same path
        # (same null dvId) in one commit — that log is out of contract
        # and its replay order is undefined (the legal remove+re-add DV
        # pattern uses distinct dvIds; pinned by the dedicated
        # line-order test in test_sources_sinks.py).
        touched: set[str] = set()
        for _ in range(draw(st.integers(min_value=1, max_value=3))):
            kind = draw(st.sampled_from(["add", "remove", "rename"]))
            free = [p for p in paths if p not in touched]
            if kind in ("add", "remove") and not free:
                kind = "rename"
            if kind == "add":
                p = draw(st.sampled_from(free))
                touched.add(p)
                actions.append(add(p, draw(st.sampled_from(["a", "b"]))))
            elif kind == "remove":
                p = draw(st.sampled_from(free))
                touched.add(p)
                actions.append({"remove": {"path": p, "dataChange": True}})
            elif kind == "rename" and mapped:
                i = draw(st.integers(min_value=0, max_value=n_cols - 1))
                renamed = list(renamed)
                renamed[i] = renamed[i] + "_r"
                actions.append(metadata_action(renamed))
        commits.append(actions)
    target = draw(st.integers(min_value=0, max_value=len(commits) - 1))
    return commits, target, mapped, partitioned


@settings(max_examples=30, deadline=None)
@given(case=_delta_log_strategy())
def test_delta_snapshot_matches_independent_replay(case, tmp_path_factory):
    import json as _json

    from dbt_json_readr_spark.sources import lakeformats as LF

    commits, target, mapped, partitioned = case
    tmpdir = str(tmp_path_factory.mktemp("prop_delta"))
    _write_random_delta_log(tmpdir, commits)

    # from-scratch replay: active files + latest schema at target
    active = {}
    schema_json = None
    pcols = []
    for v in range(target + 1):
        for a in commits[v]:
            if "metaData" in a:
                schema_json = _json.loads(a["metaData"]["schemaString"])
                pcols = list(a["metaData"]["partitionColumns"])
            elif "add" in a:
                active[a["add"]["path"]] = a["add"]["partitionValues"]
            elif "remove" in a:
                active.pop(a["remove"]["path"], None)

    snap = LF.delta_snapshot(tmpdir, target)
    assert snap["version"] == target
    assert {f["path"] for f in snap["files"]} == set(active)
    for f in snap["files"]:
        assert f["partitionValues"] == active[f["path"]]
    assert [x.name for x in snap["schema"].fields] == [
        f["name"] for f in schema_json["fields"]
    ]
    assert snap["partition_columns"] == pcols
    if mapped:
        assert snap["column_mapping_mode"] == "name"
        assert snap["physical_names"] == {
            f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
            for f in schema_json["fields"]
        }
    else:
        assert snap["column_mapping_mode"] == "none"


@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 40) - 1),
        max_size=400,
    ),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_roaring_dv_blob_roundtrip(positions, dense):
    """encode → decode recovers any position set exactly; the dense
    flag appends a >4096-entry block so bitmap containers (not just
    array containers) are exercised."""
    from dbt_json_readr_spark.sources import roaring as R

    if dense:
        positions = positions + list(range(100000, 105000))
    blob = R.encode_dv_blob(positions)
    assert R.decode_dv_blob(blob) == sorted(set(positions))


@given(
    longs=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=100,
    ),
    strs=st.lists(st.text(max_size=24), min_size=1, max_size=100),
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sql_murmur3_matches_python_reference(spark, longs, strs):
    """The executor-side murmur3_x86_32 (functions/icetransforms.py,
    built from HOF folds and masked BIGINT arithmetic) must agree
    bit-for-bit with the driver-side pure-Python reference
    (skipping.murmur3_x86_32) — the write path partitions by one, the
    pruning audit replays the other."""
    import struct

    from pyspark.sql import functions as F

    from dbt_json_readr_spark.functions import icetransforms as IT
    from dbt_json_readr_spark.sources.skipping import murmur3_x86_32

    dfl = spark.createDataFrame([(v,) for v in longs], "v long")
    got = [r[0] for r in dfl.select(IT.murmur3_long(F.col("v"))).collect()]
    assert got == [murmur3_x86_32(struct.pack("<q", v)) for v in longs]

    # the chain-bound DataFrame form (the write path's fast variant)
    # must agree with both
    got_chain = [
        r.h
        for r in IT.with_murmur3_long(dfl, "h", F.col("v"))
        .orderBy("v")
        .collect()
    ]
    exp_chain = [
        murmur3_x86_32(struct.pack("<q", v)) for v in sorted(longs)
    ]
    assert got_chain == exp_chain

    dfs = spark.createDataFrame([(s,) for s in strs], "s string")
    got = [r[0] for r in dfs.select(IT.murmur3_utf8(F.col("s"))).collect()]
    assert got == [murmur3_x86_32(s.encode("utf-8")) for s in strs]


@given(
    unscaled=st.lists(
        st.integers(min_value=-(10**18 - 1), max_value=10**18 - 1),
        min_size=1,
        max_size=80,
    ),
    scale=st.integers(min_value=0, max_value=18),
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sql_murmur3_decimal_matches_python_reference(spark, unscaled, scale):
    """Appendix-B decimal bucket hashing, executor-side == driver-side
    (VERDICT r9 item 3): both the chain-bound write-path form
    (with_murmur3_decimal) and the Column-API form
    (murmur3_binary ∘ min_twos_complement_bytes ∘ decimal_unscaled_long)
    must agree bit-for-bit with skipping.iceberg_bucket_hash over the
    full BIGINT-unscaled domain — the minimal two's-complement byte
    boundaries (±2^(8n-1)) are where a wrong encoding silently lands
    rows in the wrong bucket."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from dbt_json_readr_spark.functions import icetransforms as IT
    from dbt_json_readr_spark.sources import skipping as SK

    # always exercise the byte-count boundaries alongside random draws
    for n in range(1, 8):
        lim = 1 << (8 * n - 1)
        unscaled += [lim - 1, lim, -lim, -lim - 1]
    unscaled = sorted(set(unscaled))
    t = f"decimal(18, {scale})"
    vals = [Decimal(u).scaleb(-scale) for u in unscaled]
    df = spark.createDataFrame([(v,) for v in vals], f"d decimal(18,{scale})")

    exp = [
        SK.iceberg_bucket_hash(t, v) & 0xFFFFFFFF for v in vals
    ]
    got_chain = [
        r.h
        for r in IT.with_murmur3_decimal(df, "h", F.col("d"), t)
        .orderBy("d")
        .collect()
    ]
    assert got_chain == exp

    got_col = [
        r[0]
        for r in df.orderBy("d")
        .select(
            IT.murmur3_binary(
                IT.min_twos_complement_bytes(
                    IT.decimal_unscaled_long(F.col("d"), t)
                )
            )
        )
        .collect()
    ]
    assert got_col == exp


@given(
    bufs=st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=12),
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sql_murmur3_binary_matches_python_reference(spark, bufs):
    """Appendix-B bucket hashing over RAW BYTE buffers (fixed/binary
    keys, r11 VERDICT r10 item 4), executor-side == driver-side: the
    HOF murmur3_binary Column must agree bit-for-bit with
    skipping.murmur3_x86_32 over arbitrary-length buffers — block
    boundaries (len % 4) are where a wrong tail assembly lands rows in
    the wrong bucket."""
    from pyspark.sql import functions as F

    from dbt_json_readr_spark.functions import icetransforms as IT
    from dbt_json_readr_spark.sources import skipping as SK

    # always exercise every tail-length class and the empty buffer
    bufs = sorted(set(bufs) | {b"", b"a", b"ab", b"abc", b"abcd", b"abcde"})
    df = spark.createDataFrame([(i, b) for i, b in enumerate(bufs)], "i int, b binary")
    exp = [SK.murmur3_x86_32(b) for b in bufs]
    got = [r[0] for r in df.orderBy("i").select(IT.murmur3_binary(F.col("b"))).collect()]
    assert got == exp

    # the full bucket chain: executor bucket_value == driver
    # iceberg_bucket_hash, signed-to-bucket formula included
    want = [(SK.iceberg_bucket_hash("binary", b) & 0x7FFFFFFF) % 8 for b in bufs]
    got_b = [
        r[0]
        for r in df.orderBy("i").select(IT.bucket_value(F.col("b"), "binary", 8)).collect()
    ]
    assert got_b == want


@given(ints=st.lists(st.integers(min_value=0, max_value=(1 << 128) - 1),
                     min_size=1, max_size=8))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sql_murmur3_uuid_matches_python_reference(spark, ints):
    """uuid bucket hashing (Appendix B: the 16 big-endian RFC-4122
    bytes), canonical-STRING carrier: executor bucket_value(col,
    'uuid', n) == driver iceberg_bucket_hash('uuid', str) — and the
    driver side accepts UUID / str / bytes interchangeably."""
    import uuid as U

    from pyspark.sql import functions as F

    from dbt_json_readr_spark.functions import icetransforms as IT
    from dbt_json_readr_spark.sources import skipping as SK

    uuids = sorted({str(U.UUID(int=i)) for i in ints} | {str(U.UUID(int=0))})
    df = spark.createDataFrame([(i, u) for i, u in enumerate(uuids)], "i int, u string")
    want = [(SK.iceberg_bucket_hash("uuid", u) & 0x7FFFFFFF) % 16 for u in uuids]
    got = [
        r[0]
        for r in df.orderBy("i").select(IT.bucket_value(F.col("u"), "uuid", 16)).collect()
    ]
    assert got == want
    for u in uuids:
        assert SK.iceberg_bucket_hash("uuid", U.UUID(u)) == SK.iceberg_bucket_hash("uuid", u)
        assert SK.iceberg_bucket_hash("uuid", U.UUID(u).bytes) == SK.iceberg_bucket_hash("uuid", u)
    # malformed string → None (conservative keep), never an exception
    assert SK.iceberg_bucket_hash("uuid", "not-a-uuid") is None


# ------------------------------------------------------------ lineage


@st.composite
def dags(draw):
    """(nodes [(id, wt)], edges [(child, parent)]): up to 40 nodes on up
    to 9 levels, each edge pointing to a strictly lower level, so the
    graph is acyclic with depth ≤ 8.  Weights include 0; nodes may have
    no edges; edges may repeat or point to a parent that is not a node."""
    n = draw(st.integers(0, 40))
    levels = draw(st.lists(st.integers(0, 8), min_size=n, max_size=n))
    nodes = [(f"n{i}", draw(st.integers(0, 3))) for i in range(n)]
    edges = []
    for i, lv in enumerate(levels):
        lower = [j for j in range(n) if levels[j] < lv]
        if lower:
            for j in draw(st.lists(st.sampled_from(lower), max_size=3)):
                edges.append((f"n{i}", f"n{j}"))
        if draw(st.integers(0, 9)) == 0:
            edges.append((f"n{i}", f"ghost{i}"))
    return nodes, edges


def _parents(edges):
    out: dict = {}
    for c, p in set(edges):
        out.setdefault(c, set()).add(p)
    return out


def _naive_critical_path(nodes, edges):
    """Memoized DFS over an acyclic graph; a node listed twice keeps its
    largest weight."""
    wt: dict = {}
    for v, w in nodes:
        wt[v] = max(w, wt.get(v, w))
    par, memo = _parents(edges), {}

    def cost(v):
        if v not in memo:
            memo[v] = wt[v] + max((cost(p) for p in par.get(v, ()) if p in wt), default=0)
        return memo[v]

    return {v: (wt[v], cost(v)) for v in wt}


def _naive_depth(nodes, edges):
    par, memo = _parents(edges), {}

    def depth(v):
        if v not in memo:
            memo[v] = max((1 + depth(p) for p in par.get(v, ())), default=0)
        return memo[v]

    return {v: depth(v) for v, _ in nodes}


def _naive_pagerank(nodes, edges, iters=10):
    """Exactly ``iters`` rounds, no early exit; a node listed twice
    passes its rank twice."""
    from collections import Counter

    from dbt_json_readr_spark.operators.lineage import PR_BASE, PR_SCALE

    uniq = set(edges)
    outdeg: dict = {}
    for c, _ in uniq:
        outdeg[c] = outdeg.get(c, 0) + 1
    listed = Counter(v for v, _ in nodes)
    rank = {v: PR_SCALE for v in listed}
    for _ in range(iters):
        contrib: dict = {}
        for c, p in uniq:
            if c in rank:
                contrib[p] = contrib.get(p, 0) + listed[c] * (rank[c] // outdeg[c])
        rank = {v: PR_BASE + contrib.get(v, 0) * 17 // 20 for v in rank}
    return rank


@settings(**SETTINGS)
@given(dag=dags())
@example(dag=([], []))
@example(dag=([("a", 0), ("b", 2), ("c", 0), ("lone", 5)], [("b", "a"), ("c", "b"), ("c", "ghost")]))
# a depth-8 chain: the deepest the strategy draws, one round per level
@example(dag=([(f"n{i}", i % 3 + 1) for i in range(9)], [(f"n{i + 1}", f"n{i}") for i in range(8)]))
# the last node to change has children, but only one that is not a node
# (a macro-like child): the exit counts it, and the extra round is idle
@example(dag=([("a", 1), ("b", 2)], [("b", "a"), ("macro", "b")]))
# a ghost parent feeding the deepest node of a chain
@example(dag=([("a", 1), ("b", 1), ("c", 1)], [("b", "a"), ("c", "b"), ("c", "ghost")]))
# duplicate edges
@example(dag=([("a", 3), ("b", 1), ("c", 2)], [("b", "a"), ("b", "a"), ("c", "b"), ("c", "b"), ("c", "a")]))
# a node id listed twice: depth returns a row for each listing
@example(dag=([("a", 1), ("a", 2), ("b", 0)], [("b", "a"), ("a", "ghost")]))
def test_lineage_operators_match_stdlib_on_random_dags(spark, dag):
    """critical_path and pagerank, and the in-memory critical path, depth
    and PageRank, equal stdlib recomputations; the observed early exits
    stop at the fixed point, with the rounds broadcast and, under
    autoBroadcastJoinThreshold=-1, left to the planner."""
    from dbt_json_readr_spark.operators.lineage import (
        critical_path,
        critical_path_local,
        lineage_depth_local,
        pagerank,
        pagerank_local,
    )

    nodes, edges = dag
    ndf = spark.createDataFrame(nodes, "unique_id string, wt_fp long")
    edf = spark.createDataFrame(edges, "child_unique_id string, parent_unique_id string")
    want_cp = _naive_critical_path(nodes, edges)
    got_cp = {r.unique_id: (r.wt_fp, r.critical_cost_fp) for r in critical_path(ndf, edf).collect()}
    assert got_cp == want_cp
    with broadcast_threshold(spark, -1):
        got_cp = {r.unique_id: (r.wt_fp, r.critical_cost_fp) for r in critical_path(ndf, edf).collect()}
    assert got_cp == want_cp
    want_depth = _naive_depth(nodes, edges)
    got_depth = sorted(lineage_depth_local([v for v, _ in nodes], edges))
    assert got_depth == sorted((v, want_depth[v]) for v, _ in nodes)
    got_pr = {r.unique_id: r.rank_fp for r in pagerank(ndf, edf).collect()}
    assert got_pr == _naive_pagerank(nodes, edges)
    assert {v: (w, c) for v, w, c in critical_path_local(nodes, edges)} == want_cp
    assert dict(pagerank_local([v for v, _ in nodes], edges)) == got_pr


@st.composite
def graphs(draw):
    """(nodes [(id, wt)], edges [(child, parent)], round cap): up to 10
    node ids, each listed once or more (a repeat may carry another
    weight); edges between any of them, so cycles and self-loops occur,
    plus edges to a parent that is not a node (a ghost) and from a
    child that is not one (a macro); weights include 0."""
    n = draw(st.integers(0, 10))
    ids = [f"n{i}" for i in range(n)]
    wt = st.integers(0, 3)
    nodes = [(v, draw(wt)) for v in ids]
    if ids:
        nodes += draw(st.lists(st.tuples(st.sampled_from(ids), wt), max_size=3))
        edges = draw(
            st.lists(
                st.tuples(st.sampled_from(ids + ["macro"]), st.sampled_from(ids + ["ghost"])),
                max_size=2 * n,
            )
        )
    else:
        edges = []
    return nodes, edges, draw(st.integers(1, 5))


def _acyclic(nodes, edges) -> bool:
    """No cycle through node ids (Kahn's algorithm)."""
    ids = {v for v, _ in nodes}
    uniq = {(c, p) for c, p in edges if c in ids and p in ids}
    indeg = {v: 0 for v in ids}
    for c, _ in uniq:
        indeg[c] += 1
    ready = [v for v, d in indeg.items() if not d]
    seen = 0
    while ready:
        p = ready.pop()
        seen += 1
        for c, q in uniq:
            if q == p:
                indeg[c] -= 1
                if not indeg[c]:
                    ready.append(c)
    return seen == len(ids)


@settings(**{**SETTINGS, "max_examples": 8})
@given(graph=graphs())
@example(graph=([], [], 3))
# a weighted 2-cycle: every round raises both costs, so the loop runs to the cap
@example(graph=([("a", 1), ("b", 2), ("c", 0)], [("a", "b"), ("b", "a"), ("c", "b")], 4))
# a zero-weight cycle settles at once; a self-loop on a weighted node does not
@example(graph=([("a", 0), ("b", 0), ("s", 1)], [("a", "b"), ("b", "a"), ("s", "s")], 3))
# duplicate node rows with other weights, duplicate edges, a ghost parent
@example(graph=([("a", 1), ("a", 3), ("b", 0), ("b", 2)], [("b", "a"), ("b", "a"), ("b", "ghost")], 5))
# a macro with parents of its own feeding a node: depth counts the path
# through it, so the macro must be a weighted vertex
@example(graph=([("a", 1), ("b", 0)], [("b", "macro"), ("macro", "a"), ("a", "ghost")], 3))
def test_lineage_shapes_agree_on_random_graphs(spark, graph):
    """On any graph, cyclic or not, the in-memory critical path and
    PageRank return the rows their Spark rounds return, to the same
    round cap.  In-memory depth at cap c equals the closure's
    definition: the longest path ``transitive_closure(max_iters=c)``
    holds per node, 0 if none, a row per node row.  On acyclic graphs,
    where the rounds stop early, ``lineage_depth`` returns the in-memory
    depth rows, and the critical path and PageRank equal the stdlib
    recomputations."""
    from pyspark.sql import functions as F

    from dbt_json_readr_spark.operators.lineage import (
        critical_path,
        critical_path_local,
        lineage_depth,
        lineage_depth_local,
        pagerank,
        pagerank_local,
        transitive_closure,
    )

    nodes, edges, cap = graph
    ndf = spark.createDataFrame(nodes, "unique_id string, wt_fp long")
    edf = spark.createDataFrame(edges, "child_unique_id string, parent_unique_id string")
    got_cp = sorted(critical_path_local(nodes, edges, max_iters=cap))
    assert got_cp == sorted(map(tuple, critical_path(ndf, edf, max_iters=cap).collect()))
    got_pr = sorted(pagerank_local([v for v, _ in nodes], edges, iters=cap))
    assert got_pr == sorted(map(tuple, pagerank(ndf, edf, iters=cap).collect()))
    assert dict(got_pr) == _naive_pagerank(nodes, edges, iters=cap)
    ids = [v for v, _ in nodes]
    got_depth = sorted(lineage_depth_local(ids, edges, max_iters=cap))
    closure = transitive_closure(edf, max_iters=cap).groupBy("descendant").agg(F.max("depth"))
    longest = dict(map(tuple, closure.collect()))
    assert got_depth == sorted((v, longest.get(v, 0)) for v in ids)
    if _acyclic(nodes, edges):
        got = sorted(map(tuple, lineage_depth(ndf, edf).collect()))
        assert got == sorted(lineage_depth_local(ids, edges))
    if _acyclic(nodes, edges) and cap > len(nodes):
        assert {v: (w, c) for v, w, c in got_cp} == _naive_critical_path(nodes, edges)


@st.composite
def corpora(draw):
    """A small corpus with exact duplicates, one-character near
    duplicates and texts shorter than the shingle size, plus the
    id type and a bucket cap that may drop the fuller buckets."""
    texts = draw(st.lists(st.one_of(st.none(), st.text("ab c", max_size=14)), min_size=2, max_size=8))
    texts += draw(st.lists(st.sampled_from(texts), max_size=3))
    for t in draw(st.lists(st.sampled_from(texts), max_size=3)):
        if t:
            i = draw(st.integers(0, len(t) - 1))
            texts.append(t[:i] + "d" + t[i + 1 :])
    id_type = draw(st.sampled_from(["bigint", "string"]))
    ids = draw(st.permutations(range(len(texts))))
    rows = [(i if id_type == "bigint" else f"d{i:02d}", t) for i, t in zip(ids, texts)]
    return rows, id_type, draw(st.sampled_from([2, 3, 2000])), draw(st.sampled_from([0.0, 0.5, 0.8]))


@settings(**{**SETTINGS, "max_examples": 8})
@given(corpus=corpora())
# a bucket of three identical docs over a cap of two, and a text shorter than k
@example(corpus=([(0, "abab"), (1, "abab"), (2, "abab"), (3, "a"), (4, "a")], "bigint", 2, 0.0))
def test_minhash_lsh_shapes_agree_on_random_corpora(spark, corpus):
    """``minhash_lsh_pairs`` returns the same rows, of the same schema,
    from its driver tail (under the broadcast bound) and from its Spark
    shapes (threshold -1): the same band keys, bucket cap, pair dedup
    and jaccard, bit for bit."""
    from dbt_json_readr_spark.operators import dedup as D

    rows, id_type, cap, tau = corpus
    docs = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    kw = dict(k=3, n_hashes=8, bands=4, threshold=tau, bucket_cap=cap)
    local = D.minhash_lsh_pairs(docs, **kw)
    assert local._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
    with broadcast_threshold(spark, -1):
        shapes = D.minhash_lsh_pairs(docs, **kw)
        want = sorted(map(tuple, shapes.collect()))
    assert local.schema == shapes.schema
    assert sorted(map(tuple, local.collect())) == want


def _hof_shingles(col, k: int, distinct: bool):
    """The char k-gram kernel as a higher-order function: ``substr`` at
    every start position of a ``sequence``, mapped by ``transform``.
    It counts characters as ``length`` and ``substr`` do, so it is the
    reference for ``hashing.char_shingles`` and ``char_shingles_ordered``."""
    from pyspark.sql import functions as F

    grams = F.transform(F.sequence(F.lit(1), F.length(col) - k + 1), lambda i: col.substr(i, F.lit(k)))
    return F.when(F.length(col) < k, F.array(col)).otherwise(F.array_distinct(grams) if distinct else grams)


# letters, a combining acute and diaeresis, non-BMP letters and emoji
# (surrogate pairs in Java), a tab and four kinds of line break
_SHINGLE_CHARS = ["a", "b", " ", "é", "\u0301", "\u0308", "😀", "🎉", "𝔸", "𝟘", "\r", "\n", "\u0085", "\u2028", "\t"]
_SHINGLE_KS = (1, 2, 3, 5, 8, 9)


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=_SHINGLE_CHARS, max_size=16),
            st.text(alphabet=["😀", "🎉", "𝔸"], max_size=10),
        ),
        min_size=1,
        max_size=10,
    )
)
@example(
    texts=[
        "", None, "😀", "😀😀😀😀😀😀😀😀😀😀", "𝔸𝔹ℂ𝔻𝔼𝔽𝔾", "line one\r\nline two\r\n",
        "e\u0301e\u0301e\u0301e\u0308", "ab", "12345678",
    ]
)
def test_char_shingles_match_the_higher_order_form(spark, texts):
    """The regex shingle kernel gives the higher-order form's k-grams, in
    its order, for any text and k: non-BMP characters, newlines and
    combining marks included, and texts that are empty, None or
    shorter than k."""
    from pyspark.sql import functions as F

    from dbt_json_readr_spark.functions import hashing as H

    t = F.col("text")
    cols = [
        c
        for k in _SHINGLE_KS
        for c in (
            _hof_shingles(t, k, True), H.char_shingles(t, k),
            _hof_shingles(t, k, False), H.char_shingles_ordered(t, k),
        )
    ]
    df = spark.createDataFrame([(x,) for x in texts], "text string")
    for text, row in zip(texts, df.select(*cols).collect()):
        for i, k in enumerate(_SHINGLE_KS):
            want, got, want_ordered, got_ordered = row[4 * i : 4 * i + 4]
            assert got == want, (text, k)
            assert got_ordered == want_ordered, (text, k)


def _per_row_lane_mins(rows, n_hashes: int):
    """Minhash lanes converted to numbers on every shingle row and then
    minimised: the reference for ``hashing.minhash_lanes``."""
    from pyspark.sql import functions as F

    lanes = []
    for p in range(n_hashes // 4):
        d = F.md5(F.concat(F.lit(f"mhp{p}:"), F.col("sh").cast("string")))
        lanes += [F.conv(F.substring(d, 1 + 8 * i, 8), 16, 10).cast("long") for i in range(4)]
    return rows.groupBy("doc_id").agg(*[F.min(c).alias(f"mh{i}") for i, c in enumerate(lanes)])


@settings(**{**SETTINGS, "max_examples": 8})
@given(corpus=corpora())
def test_hex_minhash_lanes_equal_per_row_conversion(spark, corpus):
    """The lanes the fused sketch and ``minhash_candidate_pairs`` take
    as hex minima equal the minima of the lanes converted per row, so
    the sketch and the candidate pairs are those of the per-row form."""
    from dbt_json_readr_spark.operators import dedup as D

    rows_, id_type, cap, _ = corpus
    docs = spark.createDataFrame(rows_, f"doc_id {id_type}, text string")
    rows = D._shingle_rows(docs, 3)
    ref = _per_row_lane_mins(rows, 8)
    sketch = D._per_doc_sketch(rows, 8, rotate=False)
    try:
        got = sorted(tuple(r)[:-1] for r in sketch.collect())
    finally:
        sketch.unpersist()
    assert got == sorted(map(tuple, ref.collect()))
    cand = D.minhash_candidate_pairs(docs, k=3, n_hashes=8, bands=4, bucket_cap=cap)
    want = D._cand_from_mins(ref, 8, 4, cap)
    assert sorted(map(tuple, cand.collect())) == sorted(map(tuple, want.collect()))
