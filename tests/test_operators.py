"""Unit semantics on crafted micro-data (SURVEY.md §5 item 3):
sketch sanity, boundary behavior, as-of correctness, multimodal
plumbing — the cases the sf-scale oracle sweep can't pin down."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from dbt_json_readr_spark.operators import dedup as D
from dbt_json_readr_spark.operators import multimodal as M
from dbt_json_readr_spark.operators.asof import asof_join
from dbt_json_readr_spark.operators.sessionize import sessionize
from dbt_json_readr_spark.operators import textops as X
from tests.plan_utils import broadcast_threshold


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


UTC = dt.timezone.utc


def ts(minute, second=0):
    # naive timestamps: Spark treats them as session-TZ (UTC via prep)
    return dt.datetime(2024, 1, 1, 0, minute, second)


# ------------------------------------------------------------ dedup


def test_exact_dedup_normalizes_case_and_whitespace(spark):
    d = D.exact_dedup(
        docs(
            spark,
            [(1, "Hello  World", "en"), (2, " hello world ", "en"), (3, "other", "en")],
        )
    )
    rows = {r.doc_id: r for r in d.collect()}
    assert rows[1].canonical_id == 1 and not rows[1].is_duplicate
    assert rows[2].canonical_id == 1 and rows[2].is_duplicate
    assert rows[3].canonical_id == 3 and not rows[3].is_duplicate


def test_minhash_identical_docs_are_candidates_with_jaccard_one(spark):
    text = "the quick brown fox jumps over the lazy dog " * 3
    d = D.minhash_lsh_pairs(
        docs(spark, [(1, text, "en"), (2, text, "en"), (3, "zzz completely different qqq", "en")]),
        k=5, n_hashes=16, bands=4, threshold=0.25,
    )
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in d.collect()}
    assert pairs == {(1, 2): 1.0}


def test_minhash_near_duplicates_survive_banding(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    near = base.replace("lazy", "very lazy", 1)
    d = D.minhash_lsh_pairs(
        docs(spark, [(1, base, "en"), (2, near, "en")]),
        k=5, n_hashes=16, bands=4, threshold=0.25,
    )
    [(a, b, j)] = [(r.doc_a, r.doc_b, r.jaccard) for r in d.collect()]
    assert (a, b) == (1, 2) and 0.8 < j < 1.0


def test_minhash_degenerate_bucket_stress(spark):
    """One giant identical-content bucket must not blow memory or go
    quadratic (VERDICT r1 #7): 10k byte-identical docs land in ONE
    bucket per band; buckets collect bare doc_ids (80 KB here, not
    ~GBs of shingle structs), and the cap excludes the bucket outright.
    A within-cap cohort still pairs completely."""
    from pyspark.sql import functions as F

    text = "the same exact document body repeated everywhere " * 4
    big = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text"), F.lit("en").alias("lang")
    )
    assert D.minhash_lsh_pairs(big).count() == 0  # bucket > cap → excluded

    small = spark.range(120).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text"), F.lit("en").alias("lang")
    )
    out = D.minhash_lsh_pairs(small)
    rows = out.collect()
    assert len(rows) == 120 * 119 // 2
    assert all(r.jaccard == 1.0 for r in rows)


def test_minhash_verify_paths_agree(spark):
    """The driver tail (the default at this size), the Spark set
    broadcast verify and the narrow all-shuffle verify (forced with
    broadcast_cand_cap=0) must be value-equal: inter/(na+nb-inter) on
    narrow rows is the same jaccard as |∩|/|∪| on collected sets.
    set_overlap's third shape, candidate broadcast, must give the same
    (na, nb, inter) as the other two."""
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = [(1, base, "en"), (2, base.replace("lazy", "very lazy", 1), "en"),
            (3, base + " tail", "en"), (4, "totally unrelated text here", "en")]
    local = {(r.doc_a, r.doc_b, r.jaccard) for r in D.minhash_lsh_pairs(docs(spark, rows)).collect()}
    with broadcast_threshold(spark, -1):
        a = D.minhash_lsh_pairs(docs(spark, rows))
        b = D.minhash_lsh_pairs(docs(spark, rows), broadcast_cand_cap=0)
        sa = {(r.doc_a, r.doc_b, r.jaccard) for r in a.collect()}
        sb = {(r.doc_a, r.doc_b, r.jaccard) for r in b.collect()}
    assert sa == sb == local and sa

    shingles = D._shingle_rows(docs(spark, rows), 5)
    per_doc = D._per_doc_sketch(shingles, 16)
    cand = D._cand_from_mins(per_doc.drop("sh"), 16, 4, D.DEFAULT_BUCKET_CAP)
    by_shape = {
        shape: sorted(
            map(tuple, D.set_overlap(cand, D.VerifyShape(None, None, 0, shape), per_doc, shingles)
                .select("doc_a", "doc_b", "na", "nb", "inter").collect())
        )
        for shape in (D.SET_BROADCAST, D.CAND_BROADCAST, D.NARROW)
    }
    assert by_shape[D.SET_BROADCAST] == by_shape[D.CAND_BROADCAST] == by_shape[D.NARROW]
    assert by_shape[D.NARROW]


def test_minhash_auto_gate_picks_shuffle_over_cand_cap(spark):
    """The verify gate must flip to the all-shuffle verify when the
    candidate-pair count exceeds broadcast_cand_cap: the resulting plan
    may not broadcast anything (no broadcast hint on the verify joins)
    and must still produce the exact pair set."""
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = [(i, base + f" tail {i % 2}", "en") for i in range(1, 31)]
    # the Spark shapes: under the broadcast bound the tail runs on the
    # driver and never reaches the gate, and at -1 no shape is hinted.
    # One byte refuses the driver tail and leaves the hints on.
    with broadcast_threshold(spark, 1):
        over = D.minhash_lsh_pairs(docs(spark, rows), broadcast_cand_cap=10)
        # all 30 docs near-dup → C(30,2)=435 candidates > 10 → shuffle
        # shape: the broadcast shapes carry an explicit broadcast hint;
        # the shuffle shape must not.
        assert "ResolvedHint" not in over._jdf.queryExecution().analyzed().toString()
        under = D.minhash_lsh_pairs(docs(spark, rows), broadcast_cand_cap=5_000_000)
        assert "ResolvedHint" in under._jdf.queryExecution().analyzed().toString()
        so = {(r.doc_a, r.doc_b, r.jaccard) for r in over.collect()}
        su = {(r.doc_a, r.doc_b, r.jaccard) for r in under.collect()}
    assert so == su and len(so) == 435


def test_minhash_candidate_bound_falls_back_to_spark_shapes(spark):
    """A sketch that fits the broadcast bound whose candidates do not
    runs the Spark shapes over the same cached sketch.  40 one-shingle
    docs in one bucket per band: the sketch is 40 × (64 + 8·16 + 8) =
    8000 bytes, the candidate bound 4 bands × C(40, 2) × 16 = 49920."""
    rows = [(i, "dup", "en") for i in range(40)]
    local = D.minhash_lsh_pairs(docs(spark, rows))
    assert local._jdf.queryExecution().executedPlan().nodeName() == "LocalTableScan"
    with broadcast_threshold(spark, 20_000):
        spark_shapes = D.minhash_lsh_pairs(docs(spark, rows))
        plan = spark_shapes._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan and "LocalTableScan" not in plan
        got = sorted(map(tuple, spark_shapes.collect()))
    assert got == sorted(map(tuple, local.collect()))
    assert len(got) == 40 * 39 // 2


def test_minhash_incremental_excludes_base_base_pairs(spark):
    """The incremental operator must find cross and new pairs but NEVER
    a base-base pair, even when base docs duplicate each other — that
    pair space belongs to the previous ingest's run."""
    text = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    base = docs(spark, [(1, text, "en"), (2, text, "en")])          # base dups
    inc = docs(spark, [(10, text, "en"), (11, text, "en")])         # incoming dups
    out = D.minhash_incremental_pairs(base, inc, threshold=0.8)
    got = {(r.doc_a, r.doc_b): r.pair_type for r in out.collect()}
    assert (1, 2) not in got, "base-base pair leaked into incremental output"
    assert got[(10, 11)] == "new"
    assert got[(1, 10)] == "cross" and got[(2, 11)] == "cross"
    assert set(got) == {(10, 11), (1, 10), (1, 11), (2, 10), (2, 11)}


def test_simhash_identical_zero_hamming_and_banding_recall(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    near = base.replace("delta", "delta2", 1)
    d = D.simhash_pairs(
        docs(spark, [(1, base, "en"), (2, base, "en"), (3, near, "en")]), max_hamming=3
    )
    got = {(r.doc_a, r.doc_b): r.hamming for r in d.collect()}
    assert got[(1, 2)] == 0
    # near-dup must also be found (small token edit → few flipped bits)
    assert (1, 3) in got and got[(1, 3)] <= 3


def test_embedding_cosine_same_bucket_requires_sign_agreement(spark):
    e = spark.createDataFrame(
        [
            (1, [1.0] * 64, 0),
            (2, [1.0] * 64, 0),          # identical → cosine 1
            (3, [-1.0] * 64, 0),         # opposite signs → different bucket
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r.vec_a, r.vec_b): r.cosine for r in D.embedding_cosine_pairs(e, 0.4).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == pytest.approx(1.0)


# ------------------------------------------------------------ sessionize


def test_sessionize_gap_boundary_exact_30min_continues(spark):
    ev = spark.createDataFrame(
        [
            (1, ts(0), 10, 1.0),
            (1, ts(30), 11, 1.0),       # gap == 1800s → SAME session (batch: > gap)
            (1, ts(30, 1), 12, 1.0),
        ],
        "user_id long, ts timestamp, event_id long, value double",
    )
    got = {r.event_id: r.session_id for r in sessionize(ev).collect()}
    assert got == {10: 1, 11: 1, 12: 1}


def test_sessionize_gap_over_30min_splits(spark):
    ev = spark.createDataFrame(
        [(1, ts(0), 10, 1.0), (1, ts(31), 11, 1.0), (2, ts(0), 20, 1.0)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    got = {r.event_id: r.session_id for r in sessionize(ev).collect()}
    assert got == {10: 1, 11: 2, 20: 1}


# ------------------------------------------------------------ as-of


def test_asof_join_last_known_value_inclusive(spark):
    left = spark.createDataFrame(
        [(1, ts(5), "a"), (1, ts(10), "b"), (1, ts(2), "c"), (2, ts(5), "d")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(3), 30.0), (1, ts(10), 100.0), (2, ts(6), 60.0)],
        "k long, ts timestamp, px double",
    )
    got = {r.tag: (r.px_asof, r.ts_asof) for r in asof_join(left, right, on="k").collect()}
    assert got["c"] == (None, None)            # nothing at/before 00:02
    assert got["a"] == (30.0, ts(3))           # last known at 00:05
    assert got["b"] == (100.0, ts(10))         # equal ts matches (inclusive)
    assert got["d"] == (None, None)            # right row is later


# ------------------------------------------------------------ text ops


def test_token_counts_known_string(spark):
    d = docs(spark, [(1, "Hello world 42!", "en")])
    row = d.select(
        *[c.alias(n) for n, c in X.token_counts(F.col("text")).items()]
    ).collect()[0]
    assert row.n_ws_tokens == 3
    # BPE-ish: hello | world | 42 | !
    assert row.n_bpe_tokens == 4
    assert row.n_chars == 15


def test_langid_prefers_matching_profile(spark):
    d = docs(
        spark,
        [
            (1, "the cat and the dog sat in the house for a while", "en"),
            (2, "der hund und die katze ist nicht mit der maus", "de"),
        ],
    )
    lang, _ = X.predict_lang(F.col("text"))
    got = {r.doc_id: r.p for r in d.select("doc_id", lang.alias("p")).collect()}
    assert got == {1: "en", 2: "de"}


def test_winnow_fingerprints_deterministic_and_shift_tolerant(spark):
    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    d = docs(spark, [(1, base, "en"), (2, base, "en"), (3, "XX" + base, "en")])
    fp = X.winnow_fingerprints(F.col("text"), k=8, w=4)
    rows = {r.doc_id: set(r.fp) for r in d.select("doc_id", fp.alias("fp")).collect()}
    assert rows[1] == rows[2]
    # winnowing guarantee: shared k-gram windows → overlapping fingerprints
    assert rows[1] & rows[3]


# ------------------------------------------------------------ multimodal


def test_multimodal_feature_extraction_is_deterministic(spark):
    media = M.as_media_table(docs(spark, [(7, "hello media", "en")]))
    row = M.extract_features(media).collect()[0]
    payload = "hello media".encode()
    digest = hashlib.md5(payload).digest()
    assert row.modality == _expected_modality(7)
    assert row.n_bytes == len(payload)
    assert row.checksum == hashlib.md5(payload).hexdigest()
    assert row.feature == [b / 255.0 for b in digest[:4]]


def _expected_modality(doc_id: int) -> str:
    return ["image", "audio", "video"][doc_id % 3]


def test_png_synth_decode_roundtrip():
    doc_id = 21  # image modality (21 % 3 == 0)
    payload = M.synth_png(doc_id)
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    d = M.decode_png(payload)
    w, h = 16 + doc_id % 16, 16 + doc_id % 8
    pix = [(x * 7 + y * 13 + doc_id) % 256 for y in range(h) for x in range(w)]
    assert d == {
        "width": w, "height": h, "n_units": w * h,
        "content_sum": sum(pix), "content_min": min(pix), "content_max": max(pix),
    }


def test_png_decoder_handles_all_filter_types():
    """Our encoder emits filter 0, but a real decoder reconstructs
    types 1-4 too — build one PNG per filter type and check pixels."""
    import struct as _s
    import zlib as _z

    w, h = 6, 3
    pix = [[(x * 11 + y * 5) % 256 for x in range(w)] for y in range(h)]
    for ftype in (1, 2, 3, 4):
        raw = bytearray()
        prev = [0] * w
        for y in range(h):
            raw.append(ftype)
            line = pix[y]
            for i in range(w):
                a = line[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                if ftype == 1:
                    raw.append((line[i] - a) & 0xFF)
                elif ftype == 2:
                    raw.append((line[i] - b) & 0xFF)
                elif ftype == 3:
                    raw.append((line[i] - (a + b) // 2) & 0xFF)
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    raw.append((line[i] - pred) & 0xFF)
            prev = line
        ihdr = _s.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + M._png_chunk(b"IHDR", ihdr)
            + M._png_chunk(b"IDAT", _z.compress(bytes(raw)))
            + M._png_chunk(b"IEND", b"")
        )
        d = M.decode_png(png)
        flat = [v for row in pix for v in row]
        assert d["content_sum"] == sum(flat), f"filter {ftype}"
        assert (d["width"], d["height"]) == (w, h)


def test_wav_synth_decode_roundtrip():
    doc_id = 22  # audio modality (22 % 3 == 1)
    payload = M.synth_wav(doc_id)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    d = M.decode_wav(payload)
    n = 400 + doc_id % 100
    samples = [((i * 17 + doc_id * 31) % 65536) - 32768 for i in range(n)]
    assert d == {
        "sample_rate": 8000 + (doc_id % 4) * 4000, "n_units": n,
        "content_sum": sum(samples), "content_min": min(samples),
        "content_max": max(samples),
    }


def test_multimodal_decode_pipeline(spark):
    rows = [(i, f"doc {i}", "en") for i in range(30, 36)]
    out = {r.doc_id: r for r in M.decode_features(
        M.synthesize_media(docs(spark, rows))
    ).collect()}
    assert len(out) == 6
    img = out[30 if 30 % 3 == 0 else 33]
    assert img.modality == "image" and img.decoded and img.width == 16 + img.doc_id % 16
    aud = out[31]
    assert aud.modality == "audio" and aud.decoded and aud.sample_rate == 8000 + (31 % 4) * 4000
    # video rows since r6: both containers decode for real —
    # doc_id%6==2 → MJPEG/AVI (RIFF), doc_id%6==5 → MJPEG/MP4 (ISO-BMFF)
    avi = out[32]
    assert avi.modality == "video" and avi.fmt == "avi" and avi.decoded
    assert avi.n_frames == 2 + 32 % 3 and avi.n_units == 256 * avi.n_frames
    mp4 = out[35]
    assert mp4.modality == "video" and mp4.fmt == "mp4" and mp4.decoded
    assert mp4.n_frames == 2 + 35 % 3 and mp4.n_units == 256 * mp4.n_frames
    assert mp4.content_sum is not None and mp4.width == 16


# ------------------------------------------------------------ lineage


@pytest.mark.parametrize("op", ["transitive_closure", "critical_path", "pagerank"])
def test_lineage_operators_release_superseded_handles(spark, op):
    """Iterative lineage operators must not accumulate cached RDDs:
    exactly the returned result may stay pinned — superseded rounds and
    the loop invariants materialized on entry are released (VERDICT r1
    #6)."""
    from dbt_json_readr_spark.operators import lineage as L

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")],
        "child_unique_id string, parent_unique_id string",
    )
    nodes = spark.createDataFrame(
        [(n, 1) for n in "abcde"], "unique_id string, wt_fp long"
    )
    def pinned() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    # ids, not a count: the cleaner may free earlier tests' RDDs mid-call
    before = pinned()
    if op == "transitive_closure":
        out = L.transitive_closure(edges)
        got = {(r.descendant, r.ancestor, r.depth) for r in out.collect()}
        assert ("e", "a", 4) in got and ("b", "a", 1) in got
    elif op == "critical_path":
        out = L.critical_path(nodes, edges)
        assert {r.unique_id: r.critical_cost_fp for r in out.collect()}["e"] == 5
    else:
        out = L.pagerank(nodes, edges)
        assert len(out.collect()) == 5
    leaked = pinned() - before
    assert len(leaked) <= 1, f"cache leak: {len(leaked)} pinned handles"
    out.unpersist()


# ------------------------------------------------------------ graph


def test_connected_components_merges_chains(spark):
    from dbt_json_readr_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 7)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7, 8: 7}


# ------------------------------------------------------------ pii


def test_pii_redaction_counts_and_scrubs(spark):
    d = docs(
        spark,
        [(1, "mail me at jo.doe+x@site.org or call +1 (555) 123-4567 ok", "en")],
    )
    feats = X.pii_features(F.col("text"))
    row = d.select(
        feats["n_emails"].alias("e"), feats["n_phones"].alias("p"), feats["redacted"].alias("r")
    ).collect()[0]
    assert row.e == 1 and row.p == 1
    assert "<EMAIL>" in row.r and "<PHONE>" in row.r
    assert "site.org" not in row.r and "555" not in row.r


# ------------------------------------------------------------ skew


def test_salted_join_matches_plain_join(spark):
    from dbt_json_readr_spark.functions.skew import salted_join

    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 1000), (3, 2000)], "k long, v long"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "warm"), (4, "unused")], "k long, name string")
    got = salted_join(left, right, "k", n_salts=4)
    want = left.join(right, "k")
    assert got.count() == want.count() == 501
    assert sorted(tuple(r) for r in got.collect()) == sorted(tuple(r) for r in want.collect())
    # outer variants preserve unmatched left rows
    got_left = salted_join(left, right, "k", n_salts=4, how="left")
    assert got_left.count() == left.count()


# ------------------------------------------------------------ scd2


def test_scd2_apply_closes_changed_and_inserts_new(spark):
    from dbt_json_readr_spark.operators.scd2 import scd2_apply

    cur = spark.createDataFrame(
        [
            (1, "gold", ts(0), None, True),       # will change → close + new version
            (1, "silver", dt.datetime(2023, 12, 1), ts(0), False),  # history: untouched
            (2, "bronze", ts(0), None, True),     # update with SAME value: untouched
            (3, "gold", ts(0), None, True),       # no update: untouched
        ],
        "k long, tier string, effective_from timestamp, effective_to timestamp, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "platinum", ts(10)), (2, "bronze", ts(10)), (4, "new", ts(10))],
        "k long, tier string, effective_from timestamp",
    )
    out = scd2_apply(cur, upd, key="k", tracked=["tier"])
    rows = sorted(
        (r.k, r.tier, r.effective_from, r.effective_to, r.is_current)
        for r in out.collect()
    )
    assert rows == sorted(
        [
            (1, "gold", ts(0), ts(10), False),
            (1, "silver", dt.datetime(2023, 12, 1), ts(0), False),
            (1, "platinum", ts(10), None, True),
            (2, "bronze", ts(0), None, True),
            (3, "gold", ts(0), None, True),
            (4, "new", ts(10), None, True),
        ]
    )
    # exactly one current row per live key
    cur_counts = {r.k: r.n for r in out.filter("is_current").groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert cur_counts == {1: 1, 2: 1, 3: 1, 4: 1}


# ------------------------------------------------------------ empties


def test_operators_tolerate_empty_inputs(spark):
    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert D.exact_dedup(empty).count() == 0
    assert D.minhash_lsh_pairs(empty).count() == 0
    assert D.simhash_pairs(empty).count() == 0
    assert D.token_jaccard_pairs(empty).count() == 0
    empty_ev = spark.createDataFrame(
        [], "user_id long, ts timestamp, event_id long, value double"
    )
    assert sessionize(empty_ev).count() == 0
    from dbt_json_readr_spark.operators.graph import connected_components

    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty_pairs).count() == 0


# ------------------------------------------------------------ invariants


def test_pagerank_invariants(spark):
    """Every rank ≥ the damping base; total rank ≤ n·SCALE (rank only
    leaks through dangling nodes, never inflates); deterministic across
    two runs."""
    from dbt_json_readr_spark.operators.lineage import PR_BASE, PR_SCALE, pagerank

    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "unique_id string"
    )
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("c", "b"), ("d", "c")],
        "child_unique_id string, parent_unique_id string",
    )
    r1 = {r.unique_id: r.rank_fp for r in pagerank(nodes, edges).collect()}
    r2 = {r.unique_id: r.rank_fp for r in pagerank(nodes, edges).collect()}
    assert r1 == r2
    assert all(v >= PR_BASE for v in r1.values())
    assert sum(r1.values()) <= 4 * PR_SCALE
    # 'a' is depended on by everything upstream-transitively → max rank
    assert max(r1, key=r1.get) == "a"


def test_transition_matrix_rows_sum_to_one(spark):
    from dbt_json_readr_spark.plans.events import events_transition_matrix
    from pyspark.sql import functions as F

    out = events_transition_matrix(spark, "/root/testdata/sf0.001")
    sums = out.groupBy("from_type").agg(F.sum("p_transition").alias("s")).collect()
    assert sums and all(abs(r.s - 1.0) < 1e-9 for r in sums)


# ------------------------------------------------------------ k-means


def embs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_separated_clusters(spark):
    from dbt_json_readr_spark.operators import kmeans as KM

    # two tight blobs far apart; seeds 0 and 1 land one in each
    blob_a = [(i, [0.9 + 0.001 * i, 0.0]) for i in range(0, 4)]
    blob_b = [(i, [-0.9 - 0.001 * i, 0.0]) for i in range(4, 8)]
    # seed vectors are vec_id 0 (blob a) and 1 (also blob a) — after one
    # update the far blob pulls a centroid over, classic Lloyd behavior:
    # use ids 0 and 4 as seeds instead by reordering ids
    rows = [(0, [0.9, 0.0]), (1, [-0.9, 0.0])] + [
        (i + 2, v) for i, (j, v) in enumerate(blob_a[1:] + blob_b[1:])
    ]
    out = {r.cluster_id: r for r in KM.kmeans_stats(embs(spark, rows), k=2, iters=2).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_vecs + out[1].n_vecs == len(rows)
    # all positive-x vectors together (cluster of seed 0), negatives with seed 1
    assert out[0].n_vecs == 4 and out[1].n_vecs == 4


def test_kmeans_inertia_nonincreasing_over_iterations(spark):
    from dbt_json_readr_spark.operators import kmeans as KM

    rows = [(i, [((i * 37) % 11) / 11.0, ((i * 53) % 7) / 7.0]) for i in range(24)]
    e = embs(spark, rows)
    i1 = sum(r.inertia_fp for r in KM.kmeans_stats(e, k=3, iters=1).collect())
    i2 = sum(r.inertia_fp for r in KM.kmeans_stats(e, k=3, iters=2).collect())
    assert i2 <= i1


def test_kmeans_total_membership_and_determinism(spark):
    from dbt_json_readr_spark.operators import kmeans as KM

    rows = [(i, [((i * 29) % 13) / 13.0, ((i * 17) % 5) / 5.0]) for i in range(30)]
    a = KM.kmeans_stats(embs(spark, rows), k=4, iters=2).collect()
    b = KM.kmeans_stats(embs(spark, rows).repartition(7), k=4, iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # partitioning-independent
    assert sum(r.n_vecs for r in a) == 30


# ------------------------------------------------------------ critical path


def test_critical_path_weighted_chain(spark):
    from dbt_json_readr_spark.operators.lineage import critical_path

    nodes = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 2), ("d", 10)], "unique_id string, wt_fp long"
    )
    # c depends on b depends on a; d isolated
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "child_unique_id string, parent_unique_id string"
    )
    out = {r.unique_id: r.critical_cost_fp for r in critical_path(nodes, edges).collect()}
    assert out == {"a": 5, "b": 8, "c": 10, "d": 10}


def test_critical_path_takes_max_branch(spark):
    from dbt_json_readr_spark.operators.lineage import critical_path

    nodes = spark.createDataFrame(
        [("root1", 1), ("root2", 100), ("sink", 7)], "unique_id string, wt_fp long"
    )
    edges = spark.createDataFrame(
        [("sink", "root1"), ("sink", "root2")],
        "child_unique_id string, parent_unique_id string",
    )
    out = {r.unique_id: r.critical_cost_fp for r in critical_path(nodes, edges).collect()}
    assert out["sink"] == 107  # longest branch, not the sum of branches


def test_lineage_depth_counts_paths_through_macros(spark, tmp_path):
    """The depth key, in both shapes, counts a path that runs through a
    macro's own parents and ends in a parent the manifest does not
    list, and returns node and source rows only, one per row:
    b → macro.m → macro.n → gone is 3 edges, one more for c above b.
    An id listed twice gets its longest path on both rows; a row
    without an id gets 0, as the closure's equi-join gave it."""
    import json

    from dbt_json_readr_spark.plans import dbt

    def entry(uid, parents=None):
        return {"unique_id": uid, "depends_on": {"nodes": parents or []}}

    manifest = {
        "nodes": {
            "model.a": entry("model.a"),
            "model.b": entry("model.b", ["macro.m"]),
            "model.c": entry("model.c", ["model.b"]),
            "model.c_again": entry("model.c", ["model.a"]),
            "model.no_id": {"depends_on": {"nodes": ["model.c"]}},
        },
        "sources": {"source.s": entry("source.s")},
        "macros": {
            "macro.m": entry("macro.m", ["model.a", "macro.n"]),
            "macro.n": entry("macro.n", ["model.gone"]),
        },
    }
    (tmp_path / "manifest.json").write_text(json.dumps(manifest))
    want = [(None, 0), ("model.a", 0), ("model.b", 3), ("model.c", 4), ("model.c", 4), ("source.s", 0)]

    def rows():
        got = dbt.dbt_lineage_depth(spark, "", str(tmp_path)).collect()
        return sorted(map(tuple, got), key=lambda r: (r[0] or "", r[1]))

    assert rows() == want
    with broadcast_threshold(spark, -1):
        assert rows() == want


# ------------------------------------------------------------ PCA


def test_power_iteration_finds_dominant_axis(spark):
    from dbt_json_readr_spark.operators.pca import power_iteration_topvec

    # variance overwhelmingly along dim 1 (values ±0.5), noise on dim 0
    rows = [(i, [0.001 * ((i * 7) % 5), 0.5 if i % 2 else -0.5, 0.0]) for i in range(40)]
    out = {r.dim: r.eigvec_fp for r in power_iteration_topvec(embs(spark, rows), iters=5).collect()}
    assert set(out) == {0, 1, 2}
    assert abs(out[1]) == max(abs(v) for v in out.values())  # dominant axis wins
    assert abs(out[1]) >= 100 * max(1, abs(out[2]))  # and by a wide margin


def test_power_iteration_partitioning_independent(spark):
    from dbt_json_readr_spark.operators.pca import power_iteration_topvec

    rows = [(i, [((i * 13) % 7) / 7.0 - 0.5, ((i * 5) % 3) / 3.0, 0.25]) for i in range(30)]
    a = power_iteration_topvec(embs(spark, rows), iters=4).collect()
    b = power_iteration_topvec(embs(spark, rows).repartition(11), iters=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ------------------------------------------------------ layout / skew audits


def test_zorder_buckets_bound_both_key_spans(spark, sf_dir):
    from dbt_json_readr_spark.plans.tpch import lineitem_zorder_layout

    rows = lineitem_zorder_layout(spark, sf_dir).collect()
    assert rows, "no z-buckets"
    for r in rows:
        # bucket = top 4 z bits = 2 high bits of each key's low byte →
        # each bucket confines BOTH dims to a 64-wide tile
        assert 0 <= r.z_bucket < 16
        assert r.o_span <= 63 and r.p_span <= 63
        assert r.n_o_distinct <= 64 and r.n_p_distinct <= 64


def test_prefilter_fp_rate_shrinks_with_filter_size(spark, sf_dir):
    from dbt_json_readr_spark.plans.tpch import join_prefilter_audit

    rows = sorted(join_prefilter_audit(spark, sf_dir).collect(),
                  key=lambda r: r.filter_size)
    assert [r.filter_size for r in rows] == [256, 1024, 4096]
    for r in rows:
        assert r.n_true <= r.n_candidates <= r.n_rows
        assert 0.0 <= r.fp_rate <= 1.0
    # more buckets can only remove false positives (same hash family)
    fps = [r.fp_rate for r in rows]
    assert fps[0] >= fps[1] >= fps[2]


def test_skew_audit_hhi_bounds(spark, sf_dir):
    from dbt_json_readr_spark.plans.events import events_skew_audit

    rows = events_skew_audit(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.max_key_rows <= r.n_rows
        assert 1.0 / r.n_keys <= r.hhi + 1e-12 <= 1.0 + 1e-12
        assert r.top_share >= 1.0 / r.n_keys - 1e-12


def test_ewma_first_bucket_is_scaled_current_count(spark, sf_dir):
    from dbt_json_readr_spark.plans.events import events_ewma_hourly

    rows = events_ewma_hourly(spark, sf_dir).collect()
    first = {}
    for r in rows:
        first.setdefault(r.event_type, r)  # rows ordered (type, hour)
    for r in first.values():
        assert r.ewma == pytest.approx(8 * r.n_events / 15.0)


def test_posting_lists_samples_are_sorted_and_capped(spark, sf_dir):
    from dbt_json_readr_spark.plans.llm import doc_posting_lists

    rows = doc_posting_lists(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        ids = [int(x) for x in r.posting_sample.split(",")]
        assert ids == sorted(ids) and 1 <= len(ids) <= 5
        assert r.n_docs >= len(ids)


def test_pq_assignment_partitions_corpus_per_subspace(spark, sf_dir):
    from dbt_json_readr_spark.plans.llm import embedding_pq_audit
    from dbt_json_readr_spark.sources.tables import load

    n_vecs = load(spark, sf_dir, "embeddings").count()
    rows = embedding_pq_audit(spark, sf_dir).collect()
    subs = sorted({r.subspace for r in rows})
    assert subs == list(range(8))
    for s in subs:
        cell = [r for r in rows if r.subspace == s]
        # every vector lands in exactly one cell per subspace
        assert sum(r.n_vectors for r in cell) == n_vecs
        assert {r.code for r in cell} <= set(range(4))
        assert all(r.mean_sq_dist >= 0 for r in cell)


def test_kmeans_ivf_beats_label_ivf_recall(spark, sf_dir):
    """The trained coarse quantizer must beat the label-inherited one —
    the measured reason ann_ivf_kmeans_topk exists (sf0.01 recall@5:
    kmeans cells 0.86 vs label cells 0.32 at nprobe=2).  Deterministic
    corpus + integer-exact training ⇒ exact, not flaky."""
    from dbt_json_readr_spark.plans import llm

    rows = llm.ann_recall_eval(spark, sf_dir).collect()
    mean = {}
    for m in ["ivf_p2", "ivf_kmeans_p2"]:
        rs = [r.recall_at_k for r in rows if r.method == m]
        mean[m] = sum(rs) / len(rs)
    assert mean["ivf_kmeans_p2"] > mean["ivf_p2"], mean


def test_abc_classes_partition_suppliers(spark, sf_dir):
    from dbt_json_readr_spark.plans.tpch import supplier_abc_classes
    from dbt_json_readr_spark.sources.tables import load

    n_supp = (
        load(spark, sf_dir, "lineitem").select("l_suppkey").distinct().count()
    )
    rows = supplier_abc_classes(spark, sf_dir).collect()
    assert [r.abc_class for r in rows] == ["A", "B", "C"]
    assert sum(r.n_suppliers for r in rows) == n_supp
    shares = [r.revenue_share for r in rows]
    assert abs(sum(shares) - 1.0) < 1e-9
    # class-boundary contract (holds for ANY revenue distribution):
    # A stops at half the total, A+B at 80%
    assert shares[0] <= 0.5 + 1e-9
    assert shares[0] + shares[1] <= 0.8 + 1e-9


def test_holdout_split_shares_near_targets(spark, sf_dir):
    from dbt_json_readr_spark.plans.llm import corpus_holdout_split

    rows = {r.split: r for r in corpus_holdout_split(spark, sf_dir).collect()}
    assert set(rows) == {"train", "val", "test"}
    assert abs(rows["test"].share - 0.05) < 0.03
    assert abs(rows["val"].share - 0.10) < 0.03
    assert abs(sum(r.share for r in rows.values()) - 1.0) < 1e-9


def test_referential_integrity_audit_counts_planted_orphans(spark, tmp_path):
    """The benchmark tables are referentially clean, so the gate never
    sees a nonzero orphan count — plant orphans + NULL FKs in
    micro-tables and pin every output column."""
    import dbt_json_readr_spark.plans.tpch as tp
    from pyspark.sql import functions as F

    # nation(1, 2); customers referencing 1, 1, 2, 9(orphan), 9, NULL
    (tmp_path / "d").mkdir()
    spark.createDataFrame(
        [(1, "A", 0), (2, "B", 0)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.parquet(str(tmp_path / "d" / "nation.parquet"))
    spark.createDataFrame(
        [
            (1, "c1", 1, 0.0, "S"),
            (2, "c2", 1, 0.0, "S"),
            (3, "c3", 2, 0.0, "S"),
            (4, "c4", 9, 0.0, "S"),
            (5, "c5", 9, 0.0, "S"),
            (6, "c6", None, 0.0, "S"),
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(str(tmp_path / "d" / "customer.parquet"))

    # drive one relationship through the same code path the key uses
    rels = [("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey")]
    orig = tp._RI_RELS
    tp._RI_RELS = rels
    try:
        [row] = tp.referential_integrity_audit(spark, str(tmp_path / "d")).collect()
    finally:
        tp._RI_RELS = orig
    assert row.child_rows == 6
    assert row.null_fk_rows == 1
    assert row.distinct_fk == 3  # 1, 2, 9 (NULL excluded)
    assert row.orphan_keys == 1  # key 9
    assert row.orphan_rows == 2  # customers 4 and 5


def test_table_profile_audit_counts_planted_nulls(spark, tmp_path):
    """lineitem has no NULLs, so null_count is never nonzero at the
    gate — profile a micro-lineitem with NULLs planted in a numeric,
    a string, and the timestamp column."""
    import datetime as dt

    import dbt_json_readr_spark.plans.tpch as tp

    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    rows = [
        (1, 1, 1, 1, 5.0, 100.0, 0.1, 0.02, "A", "F", ts),
        (2, 2, 2, 1, None, 200.0, 0.0, 0.00, None, "O", None),
        (3, 3, 3, 2, 7.0, None, 0.2, 0.01, "R", None, ts),
    ]
    schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp"
    )
    (tmp_path / "d").mkdir()
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "d" / "lineitem.parquet")
    )
    prof = {
        r.col_name: r for r in tp.table_profile_audit(spark, str(tmp_path / "d")).collect()
    }
    assert prof["l_quantity"].null_count == 1 and prof["l_quantity"].n_distinct == 2
    assert prof["l_returnflag"].null_count == 1 and prof["l_returnflag"].min_str == "A"
    assert prof["l_shipdate"].null_count == 1
    assert prof["l_extendedprice"].max_num == 200.0  # NULL ignored by max
    assert prof["l_linestatus"].null_count == 1 and prof["l_linestatus"].max_str == "O"


def test_dup_span_extents_caps_span_at_short_doc_length(spark, tmp_path):
    """A doc shorter than the 8-token window gets ONE undersized window
    via the greatest() floor; its reported span must be capped at the
    doc's own token count, not window_len + 7 (r4 review finding)."""
    import dbt_json_readr_spark.plans.llm as lp

    rows = [
        (1, "alpha beta gamma delta eps", "en", "web", 25),      # 5 tokens
        (2, "alpha beta gamma delta eps", "en", "web", 25),      # exact dup
        (3, "one two three four five six seven eight nine", "en", "web", 44),
    ]
    (tmp_path / "d").mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "d" / "documents.parquet"))
    got = {r.doc_id: r for r in lp.text_dup_span_extents(spark, str(tmp_path / "d")).collect()}
    assert got[1].n_spans == 1 and got[2].n_spans == 1
    assert got[1].longest_span_tokens == 5  # capped at doc length, not 8
    assert got[3].n_spans == 0 and got[3].longest_span_tokens == 0


def test_containment_emits_dropped_block_evidence(spark, tmp_path, monkeypatch):
    """VERDICT r4 item 6: an over-cap lang block must surface a
    status='dropped_block' row (lang + block size) instead of silently
    contributing nothing — and the oracle SQL replays the same rows."""
    import duckdb

    import dbt_json_readr_spark.plans.llm as lp
    from tests.oracle_utils import normalize_rows

    rows = [
        # 'en' block: 3 docs > cap of 2 → dropped, with evidence
        (1, "aaaa bbbb cccc dddd", "en", "web", 19),
        (2, "aaaa bbbb cccc dddd", "en", "web", 19),
        (3, "something else entirely", "en", "web", 23),
        # 'fr' block: 2 docs ≤ cap → pair survives (exact dup → containment 1.0)
        (4, "bonjour le monde entier", "fr", "web", 23),
        (5, "bonjour le monde entier", "fr", "web", 23),
    ]
    (tmp_path / "d").mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "d" / "documents.parquet"))
    monkeypatch.setattr(lp, "_CONT_BLOCK_CAP", 2)
    got = lp.dedup_containment(spark, str(tmp_path / "d")).collect()
    dropped = [r for r in got if r.status == "dropped_block"]
    pairs = [r for r in got if r.status == "pair"]
    assert [(r.block_lang, r.block_n) for r in dropped] == [("en", 3)]
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(4, 5)]
    assert pairs[0].cont_a_in_b == 1.0 and pairs[0].block_n == 2

    con = duckdb.connect()
    glob = str(tmp_path / "d" / "documents.parquet" / "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
    rel = con.sql(lp._containment_sql())
    s = normalize_rows(
        lp.dedup_containment(spark, str(tmp_path / "d")).columns,
        [tuple(r) for r in got],
    )
    d = normalize_rows(list(rel.columns), rel.fetchall())
    assert s == d


def test_dbt_style_expectations_counts_planted_violations(spark, tmp_path):
    """The clean benchmark tables pass every expectation, so the fail
    paths need planted violations: a NULL key, a duplicate key, an
    out-of-range price/discount, a bad status, and an orphan FK must
    each be counted by exactly the right test."""
    import dbt_json_readr_spark.plans.tpch as tp

    (tmp_path / "d").mkdir()
    orders = [
        # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
        (1, 10, "O", 100.0, "2024-01-01", "1-URGENT"),
        (1, 10, "F", 50.0, "2024-01-02", "2-HIGH"),     # duplicate key (2 rows)
        (2, None, "O", 10.0, "2024-01-03", "3-MEDIUM"),  # null custkey
        (3, 99, "X", -5.0, "2024-01-04", "4-LOW"),       # bad status + bad price + orphan fk
    ]
    li = [
        (1, 1, 1, 1, 5.0, 10.0, 0.5, 0.1, "N", "O", "2024-01-05"),
        (1, 1, 1, 1, 0.0, 10.0, 1.5, 0.1, "N", "O", "2024-01-05"),  # dup (okey,line) + qty<=0 + disc>1
    ]
    cust = [(10, "c10", 1, 0.0, "BUILDING")]
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double,"
        " o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority",
    ).write.parquet(str(tmp_path / "d" / "orders.parquet"))
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate",
    ).write.parquet(str(tmp_path / "d" / "lineitem.parquet"))
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(str(tmp_path / "d" / "customer.parquet"))

    got = {
        (r.test_type, r.table_name, r.column_name): (r.status, r.n_violations)
        for r in tp.dbt_style_expectations(spark, str(tmp_path / "d")).collect()
    }
    assert got[("unique", "orders", "o_orderkey")] == ("fail", 2)
    assert got[("not_null", "orders", "o_custkey")] == ("fail", 1)
    assert got[("accepted_values", "orders", "o_orderstatus")] == ("fail", 1)
    assert got[("range", "orders", "o_totalprice")] == ("fail", 1)
    assert got[("relationships", "orders", "o_custkey")] == ("fail", 1)
    assert got[("unique", "lineitem", "l_orderkey,l_linenumber")] == ("fail", 2)
    assert got[("range", "lineitem", "l_quantity")] == ("fail", 1)
    assert got[("range", "lineitem", "l_discount")] == ("fail", 1)
    assert got[("not_null", "orders", "o_orderkey")] == ("pass", 0)
    assert got[("not_null", "lineitem", "l_orderkey")] == ("pass", 0)


def test_degree_cap_bounds_clique_and_keeps_min_id_connectivity(spark):
    """r6 (VERDICT r5 item 3): a dup clique of m docs must not emit
    ~C(m,2) candidate pairs.  With cap c, each doc keeps its c smallest
    partners, so (a) pair count is bounded by n*c/2, (b) every capped
    doc emits a loud evidence row with exact drop accounting, and
    (c) min-id clustering still connects the whole clique (each doc
    keeps an edge toward lower ids — monotone descent reaches the min)."""
    from pyspark.sql import functions as F

    from dbt_json_readr_spark.operators import dedup as D

    m, cap = 12, 4
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, text) for i in range(1, m + 1)], "doc_id long, text string"
    )
    out = D.minhash_containment_pairs(
        docs, k=5, n_hashes=16, bands=4, threshold=0.6,
        degree_cap=cap, evidence=True,
    ).collect()
    pairs = [(r.doc_a, r.doc_b) for r in out if r.status == "pair"]
    capped = {r.doc_a: r for r in out if r.status == "capped_doc"}
    assert len(pairs) < m * (m - 1) / 2          # cap bit
    assert len(pairs) <= m * cap                 # hard bound (either-side keep)
    # identical docs → full clique pre-cap: pair (a,b) dropped iff
    # NEITHER end nominates it (rk(b→a)=a > cap AND rk(a→b)=b-1 > cap),
    # so docs cap+1 .. m lose partners and must carry evidence rows
    assert set(capped) == set(range(cap + 1, m + 1))
    for r in capped.values():
        assert r.degree == m - 1
        assert r.n_dropped_partners == m - cap - 1
    # total dropped pair-slots: each dropped pair contributes 2
    total_dropped = sum(r.n_dropped_partners for r in capped.values())
    n_dropped_pairs = m * (m - 1) / 2 - len(pairs)
    assert total_dropped == 2 * n_dropped_pairs
    # min-id connectivity: union-find over kept pairs → one component
    parent = {i: i for i in range(1, m + 1)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(1, m + 1)}) == 1

    # uncapped path unchanged: degree_cap=None yields the full clique
    full = D.minhash_containment_pairs(
        docs, k=5, n_hashes=16, bands=4, threshold=0.6, degree_cap=None
    )
    assert full.count() == m * (m - 1) / 2
    assert "status" not in full.columns


def test_containment_verify_shapes_agree_and_auto_gate_switches(spark):
    """minhash_containment_pairs shares minhash_lsh_pairs' verify gate.
    Contract: (a) the default shape (set broadcast on a small corpus)
    and the narrow all-shuffle shape (forced with broadcast_cand_cap=0)
    return IDENTICAL rows, pairs and capped_doc evidence alike; (b) the
    gate actually switches — the default carries broadcast hints in the
    analyzed plan, cap 0 carries none."""
    from dbt_json_readr_spark.operators import dedup as D
    from tests import plan_utils

    base = "the quick brown fox jumps over the lazy dog number"
    rows = [(i, f"{base} {i % 3} repeated tail segment") for i in range(1, 25)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(**kw):
        out = D.minhash_containment_pairs(
            docs, k=5, n_hashes=16, bands=4, threshold=0.5,
            degree_cap=4, evidence=True, **kw,
        )
        return out, sorted(map(tuple, out.collect()))

    bcast_df, bcast = run()                        # gate: small → broadcast
    narrow_df, narrow = run(broadcast_cand_cap=0)  # gate: forced narrow
    assert bcast, "fixture produced no pairs — test is vacuous"
    assert {r[0] for r in bcast} == {"pair", "capped_doc"}, "no evidence rows"
    assert bcast == narrow
    # the gate's shape choice is visible as broadcast hints: present on
    # the broadcast shape, absent on narrow
    assert plan_utils.broadcast_hint_subtrees(bcast_df)
    assert not plan_utils.broadcast_hint_subtrees(narrow_df)


def test_triangle_stats_matches_bruteforce_on_known_graphs(spark):
    """triangle_stats (degree-ordered orientation) vs hand-computed
    truths: K4 (4 triangles, transitivity 1), a 4-path (0 triangles),
    two triangles sharing an edge (2 triangles), and a star (0 — all
    wedges open)."""
    from itertools import combinations

    from dbt_json_readr_spark.operators.graph import triangle_stats

    def stats(edge_list):
        df = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
        [r] = triangle_stats(df).collect()
        return r

    # K4: every vertex deg 3 → wedges 4*C(3,2)=12, triangles 4
    k4 = list(combinations(range(1, 5), 2))
    r = stats(k4)
    assert (r.n_docs, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
    assert r.transitivity == 1.0

    # path 1-2-3-4: two open wedges, no triangles
    r = stats([(1, 2), (2, 3), (3, 4)])
    assert (r.n_docs, r.n_edges, r.n_wedges, r.n_triangles) == (4, 3, 2, 0)
    assert r.transitivity == 0.0

    # bowtie: triangles {1,2,3} and {2,3,4} sharing edge 2-3
    r = stats([(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    assert r.n_triangles == 2 and r.n_edges == 5
    # degrees: 1→2, 2→3, 3→3, 4→2 ⇒ wedges 1+3+3+1 = 8
    assert r.n_wedges == 8 and abs(r.transitivity - 6 / 8) < 1e-12

    # star: center 1 to 5 leaves — C(5,2)=10 wedges, all open
    r = stats([(1, x) for x in range(2, 7)])
    assert (r.n_wedges, r.n_triangles, r.transitivity) == (10, 0, 0.0)


def test_bpe_train_single_symbol_tokens_regression(spark, tmp_path):
    """ADVICE r8 (medium): once a merge collapses a 2-char token to ONE
    symbol, Spark's sequence(1, size(s)-1) = sequence(1, 0) = [1, 0]
    (descending, NOT empty like DuckDB's range) and the pair explode
    indexed out of bounds — an ANSI crash, or spurious (sym, null)
    pairs that can beat the true top pair.  Corpus 'in in in pin nip'
    makes round 1 merge (i, n), turning the three 'in' tokens into
    single-symbol tokens before round 2."""
    import pandas as pd

    from dbt_json_readr_spark.plans import llm

    pd.DataFrame(
        {
            "doc_id": [1],
            "text": ["in in in pin nip"],
            "lang": ["en"],
            "source": ["t"],
            "n_chars": [16],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rows = {r.step: r for r in llm.bpe_train_merges(spark, str(tmp_path)).collect()}
    assert (rows[1].l_sym, rows[1].r_sym, rows[1].n_occurrences) == ("i", "n", 4)
    # round 2: the three single-symbol 'in' tokens contribute NO pairs;
    # the tie among {(p,in), (n,i), (i,p)} at n=1 resolves pair-asc.
    assert (rows[2].l_sym, rows[2].r_sym, rows[2].n_occurrences) == ("i", "p", 1)
    assert (rows[3].l_sym, rows[3].r_sym, rows[3].n_occurrences) == ("n", "ip", 1)
    assert [rows[s].symbols_after for s in (1, 2, 3)] == [8, 7, 6]


def test_dot_unrolled_bit_identical_and_guarded(spark):
    """r13: the width-unrolled codegen dot/norm must be BIT-identical to
    the interpreted left fold (same association order), and the per-row
    width guard must route any row whose arrays miss the probed width
    through the exact HOF fold — including zip_with's null-padding
    semantics on length-mismatched pairs."""
    from dbt_json_readr_spark.functions import vectors as V

    rows = [
        ([0.1, 0.2, 0.3, 0.4], [1.5, -2.5, 3.25, 0.125]),   # probed width
        ([1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),    # order-sensitive
        ([0.1, 0.2, 0.3], [1.0, 2.0, 3.0]),                 # shorter than probe
        ([0.1, 0.2, 0.3, 0.4, 0.5], [1.0, 1.0, 1.0, 1.0, 1.0]),  # longer
        ([0.1, 0.2], [1.0, 2.0, 3.0]),                      # mismatched pair
        (None, [1.0, 2.0, 3.0, 4.0]),                       # null side
    ]
    df = spark.createDataFrame(rows, "a: array<double>, b: array<double>")
    got = df.select(
        V.dot(F.col("a"), F.col("b")).alias("fold"),
        V.dot_w("a", "b", 4).alias("unrolled"),
        V.norm(F.col("a")).alias("nfold"),
        V.norm_w("a", 4).alias("nunrolled"),
    ).collect()
    for r in got:
        # exact equality of the doubles (not approx): same fold order
        assert r.fold == r.unrolled or (r.fold is None and r.unrolled is None)
        assert r.nfold == r.nunrolled or (r.nfold is None and r.nunrolled is None)


def test_probe_width_reads_table_and_handles_empty(spark, sf_dir):
    from dbt_json_readr_spark.functions import vectors as V
    from dbt_json_readr_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings")
    assert V.probe_width(embs) == 64
    empty = embs.filter(F.lit(False))
    assert V.probe_width(empty) is None
    truly_empty = spark.createDataFrame([], "embedding: array<float>")
    assert V.probe_width(truly_empty) is None


def test_probe_count_keys_on_the_frame_not_its_files(spark, sf_dir):
    """A filtered frame over the same files probes its own count (the
    vector-broadcast byte gate in embedding_cosine_pairs reads it), and
    a second probe of the same raw table, loaded again, runs no SQL
    execution."""
    from dbt_json_readr_spark import profile
    from dbt_json_readr_spark.functions import vectors as V
    from dbt_json_readr_spark.sources.tables import load

    embs = load(spark, sf_dir, "embeddings")
    n = V.probe_count(embs)
    some = embs.filter(F.col("vec_id") % 2 == 0)
    assert V.probe_count(some) == some.count() < n
    again = profile.run(spark, lambda: V.probe_count(load(spark, sf_dir, "embeddings")), "probe_again")
    assert again.result == n and again.executions == []
