"""Deduplication operator family (SURVEY.md §2 C1-C5) for LLM-scale
corpus curation, expressed as DataFrame ops (no Python UDF in any
plan); only the LSH tail below the broadcast bound runs on the driver.

Scale design: every variant turns the O(n²) pair space into a
bucket-local join —
- exact:    hash groupBy (one shuffle on the content hash)
- minhash:  LSH banding; only same-band pairs are candidates
- simhash:  byte-banding of the 32-bit sketch (pigeonhole: hamming≤3
            pairs must agree on ≥1 of 4 bands)
- embedding: deterministic sign-bit buckets
Oversized buckets (degenerate content) are capped with an explicit
count filter so one hot bucket cannot quadratic-blow a 100 TB run;
the cap is a visible parameter, not a silent drop.

Set-overlap verify: every shingle/token-set measure is computed the
same way.  ``overlap`` projects ``na, nb, inter`` (|A|, |B|, |A∩B|)
with the intersect evaluated once per pair; ``jaccard`` and
``containment`` are column expressions over those three columns.
``verify_gate`` is the one data-driven shape choice: one job measures
the candidate count and the per-doc set bytes and picks set-broadcast,
candidate-broadcast or the narrow all-shuffle shape; ``set_overlap``
runs the chosen shape.

``minhash_lsh_pairs`` has a second shape in front of the gate.  While
its cached per-doc sketch and its candidate pairs both fit the
session's broadcast bound (``session.fits_broadcast``, the rule the
lineage keys relax their graphs under), the sketch is collected and
the band keys, bucket cap, cross-band pair dedup and jaccard verify
run on the driver in one pass, returning a local relation.  The
set-broadcast shape would collect the same sets to the driver to
build its broadcast, so the driver holds nothing more; what it saves
is the banding, pair-dedup and verify jobs, which at a few hundred
candidate rows are nearly all scheduling.  Above the bound, or with
the threshold at -1, the Spark shapes run.
"""

from __future__ import annotations

from itertools import combinations
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import vectors as V
from ..session import evict_cached, fits_broadcast, local_frame, observed, rotate_cached, spread

DEFAULT_BUCKET_CAP = 2000
# Per-doc candidate degree cap: the bucket cap bounds any ONE bucket,
# but a dup CLIQUE of m docs still yields ~C(m,2) candidate pairs
# across its buckets — clique-quadratic; sf10's adversarial 100-dup
# cliques drove a 205.9M-pair verify past single-node scratch.
# Capping each doc to its ``cap`` SMALLEST partner ids bounds
# candidates at n·cap and guarantees the MIN-EDGE KERNEL: each doc
# keeps the edge toward its smallest partner, so a CLIQUE's members
# still reach the clique minimum by monotone-descending chains.  On
# general graphs the guarantee is weaker — a bridge edge between two
# dense clusters is dropped when both endpoints rank it beyond the
# cap, so components CAN split; pair-level recall inside giant cliques
# and cross-cluster bridges are the documented trade, and every drop
# is loud (per-doc ``capped_doc`` evidence rows).
DEFAULT_DEGREE_CAP = 16
# verify_gate bound on the candidate count for the broadcast shapes:
# 5M pairs ≈ 80 MB on the driver / per executor copy — comfortably
# inside a default 1-4 GiB driver.  Past it the narrow all-shuffle
# shape runs.
DEFAULT_BROADCAST_CAND_CAP = 5_000_000
# verify_gate bound on the estimated per-doc set bytes for
# broadcasting the SET sides of the verify joins (the candidates then
# stream and no shingle array crosses an exchange).  At sf1 an
# unhinted set join degraded to a SortMergeJoin that sorted 4.1M
# candidate rows carrying ~2 KB shingle arrays through an exchange
# (307 CPU·s); with both set sides broadcast every join is a
# BroadcastHashJoin — 212 CPU·s, and 107 with the eval_once barrier.
# Past the cap the candidate side broadcasts and the planner picks the
# set joins.
DEFAULT_SET_BCAST_BYTES_CAP = 256 * 1024 * 1024

# verify shapes, as chosen by verify_gate
SET_BROADCAST = "set_broadcast"
CAND_BROADCAST = "cand_broadcast"
NARROW = "narrow"


def eval_once(expr, alias: str):
    """Generate-node barrier around an expensive per-row expression
    (guide §4.4's duplicate-evaluation problem at the expression
    level): a threshold filter over a projected column gets pushed into
    the join condition below it, so the expression (a set intersect
    over ~240-element sets; the unrolled dot) is evaluated TWICE per
    surviving row — once in the condition, once in the projection.
    Exploding a one-element array turns the projection into a Generate
    whose output the filter references, and Catalyst does not push
    predicates past the generator that produces their input — one
    evaluation, same rows, same values.  Measured on the sf1 jaccard
    verify: 228 → 107 CPU·s with join shapes held fixed."""
    return F.explode(F.array(expr)).alias(alias)


def normalize_text(col):
    """lower, trim, collapse whitespace — the canonical form hashed by
    exact dedup."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Content-hash dedup: every doc tagged with its group's canonical
    (min) doc_id.  One shuffle on the 32-hex md5."""
    d = docs.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("content_hash"))
    w = W.partitionBy("content_hash")
    return d.select(
        "doc_id",
        "content_hash",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
    )


def _shingle_rows(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, sh) rows: distinct char-k-gram 60-bit hashes, one row
    per shingle.  Shingling, explode and hashing all run in whole-stage
    codegen: ``char_shingles`` is a regex extract, not a higher-order
    function, and the md5+conv hash is applied to the exploded rows."""
    return (
        spread(docs)
        .select("doc_id", F.explode(H.char_shingles(F.col("text"), k)).alias("s"))
        .select("doc_id", H.hash64(F.col("s"), "sh").alias("sh"))
    )


def _per_doc_sketch(rows: DataFrame, n_hashes: int, rotate: bool = True) -> DataFrame:
    """One combined pass: per-doc minhash lanes AND the distinct shingle
    set from a single scan + single aggregation.  The sketch and verify
    stages both consume this frame; without the cache each would re-run
    the exploded md5 scan (measured ~1 s of the operator's ~3 s steady
    state at sf0.1).  MEMORY_AND_DISK: per-doc sketch+set is the
    dedup'd shingle corpus — it spills rather than OOMs at scale; past
    the candidate cap ``verify_gate`` releases it and the narrow verify
    reads only (doc_id, sh) rows."""
    from pyspark import StorageLevel

    per_doc = H.minhash_lanes(rows, n_hashes, F.collect_set("sh").alias("sh")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # latest-wins rotation keyed per SparkSession (session.rotate_cached):
    # repeated invocations pin at most ONE cached frame per session —
    # same discipline as operators/kmeans.py, regression-tested in
    # tests/test_plans.py.  rotate=False is for callers that rotate
    # into their own slot: sweeps that must hold SEVERAL k-levels'
    # sketches live until their one action runs (dedup_k_sweep, same
    # posture as kmeans' pin_lloyd_handles), and inputs whose plan never
    # matches the plain corpus sketch (minhash_incremental_pairs).
    if rotate:
        rotate_cached("minhash_sketch", [per_doc])
    return per_doc


def _cand_from_mins(
    mins: DataFrame, n_hashes: int, bands: int, bucket_cap: int
) -> DataFrame:
    return (
        _band_pairs(mins, n_hashes, bands, bucket_cap)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b")
    )


def band_keys(mins: DataFrame, n_hashes: int, bands: int, *carry: str) -> DataFrame:
    """(doc_id, *carry, band, bkey): a row per doc and band of the flat
    minhash lanes ``mins``, keyed by ``H.band_key_flat`` of the band's
    ``n_hashes // bands`` lanes.  ``carry`` names columns of ``mins``
    kept on every row."""
    r = n_hashes // bands
    keyed = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    H.band_key_flat([F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)], b).alias("bkey"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bb")
    return mins.select("doc_id", *carry, keyed).select(
        "doc_id", *carry, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def _band_pairs(
    mins: DataFrame, n_hashes: int, bands: int, bucket_cap: int
) -> DataFrame:
    """(doc_a, doc_b, band) candidate pairs WITH their band — the
    pre-dedup view _cand_from_mins collapses; kept separate so the
    band-utility evidence key can attribute each pair to the earliest
    band that surfaced it."""
    members = (
        band_keys(mins, n_hashes, bands)
        .groupBy("band", "bkey")
        .agg(F.collect_list("doc_id").alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    return members.select("band", pair.alias("p")).select(
        "band",
        F.least("p.a", "p.b").alias("doc_a"),
        F.greatest("p.a", "p.b").alias("doc_b"),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Public pre-verification candidate pairs — the measurable half of
    the LSH recall/cost tradeoff (see plans/llm.py dedup_lsh_recall):
    flat lane mins → band keys → doc_id-only buckets → in-bucket pair
    explode → cross-band dedup."""
    mins = H.minhash_lanes(_shingle_rows(docs, k), n_hashes)
    return _cand_from_mins(mins, n_hashes, bands, bucket_cap)


def shingle_sets(docs: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, sh: array<long>) distinct hashed shingle sets."""
    return _shingle_rows(docs, k).groupBy("doc_id").agg(
        F.collect_set("sh").alias("sh")
    )


class VerifyShape(NamedTuple):
    """What ``verify_gate`` measured and the verify shape it chose."""

    n_cand: int | None  # candidate count; None when no candidates were gated
    set_bytes: int | None  # estimated set-side bytes; None when unknown
    cap_bytes: int
    shape: str  # SET_BROADCAST, CAND_BROADCAST or NARROW


def verify_gate(
    sets: DataFrame | int | None,
    cand: DataFrame | None = None,
    cand_cap: int = DEFAULT_BROADCAST_CAND_CAP,
    cap_bytes: int = DEFAULT_SET_BCAST_BYTES_CAP,
) -> VerifyShape:
    """The verify-shape gate, chosen from data rather than from the
    caller.  ``sets`` is the per-doc set frame (``doc_id, sh``) — its
    bytes are estimated as 8 per shingle + 24 per doc row — or an
    already-known byte estimate (None: unknown).  A frame is measured
    by ONE job, together with the count of ``cand`` when given (a
    crossJoin of the two one-row aggregates over already-cached data).

    - ``NARROW`` when the candidate count exceeds ``cand_cap``: the
      candidates would not fit a broadcast, so the per-doc sets will
      not be read and their ``minhash_sketch`` cache is released here.
    - ``SET_BROADCAST`` when the sets fit ``cap_bytes``: the two set
      sides are the broadcast build sides and the candidates stream,
      so no set array crosses an exchange at any candidate volume.
    - ``CAND_BROADCAST`` otherwise: the candidates broadcast and the
      planner picks the set joins (sets grow with the corpus while
      candidates are cap-bounded)."""
    n_cand = None
    set_bytes = sets
    if isinstance(sets, DataFrame):
        stats = sets.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum(F.size("sh")).alias("tot_sh")
        )
        if cand is not None:
            stats = cand.agg(F.count(F.lit(1)).alias("n_cand")).crossJoin(stats)
        row = stats.first().asDict()
        set_bytes = (row["tot_sh"] or 0) * 8 + row["n_docs"] * 24
        n_cand = row.get("n_cand")
    if n_cand is not None and n_cand > cand_cap:
        shape = NARROW
        evict_cached("minhash_sketch", sets)
    elif set_bytes is not None and set_bytes <= cap_bytes:
        shape = SET_BROADCAST
    else:
        shape = CAND_BROADCAST
    return VerifyShape(n_cand, set_bytes, cap_bytes, shape)


def _gated_join(
    cand: DataFrame,
    side_a: DataFrame,
    side_b: DataFrame,
    keys: tuple[str, str],
    shape: VerifyShape,
) -> DataFrame:
    """``cand ⋈ side_a ⋈ side_b`` on ``keys`` with the broadcast side
    the gate picked: the two per-item sides under SET_BROADCAST, else
    the candidates.  A session whose broadcast threshold is -1 gets no
    hint at all, and the planner picks every join."""
    ka, kb = keys
    if not fits_broadcast(cand.sparkSession, 0):
        return cand.join(side_a, ka).join(side_b, kb)
    if shape.shape == SET_BROADCAST:
        return cand.join(F.broadcast(side_a), ka).join(F.broadcast(side_b), kb)
    return F.broadcast(cand).join(side_a, ka).join(side_b, kb)


def overlap(a: Column, b: Column) -> list[Column]:
    """``na, nb, inter``: the sizes of array columns ``a`` and ``b`` and
    of their intersection.  The intersect sits under ``eval_once`` so a
    threshold filter over a measure does not evaluate it a second time
    inside the join condition below."""
    return [
        F.size(a).alias("na"),
        F.size(b).alias("nb"),
        eval_once(F.size(F.array_intersect(a, b)), "inter"),
    ]


def jaccard() -> Column:
    """|A∩B| / |A∪B| over ``overlap``'s columns, with |A∪B| =
    |A|+|B|−|A∩B| (exact on distinct sets; no union array is built)."""
    inter = F.col("inter")
    return inter.cast("double") / (F.col("na") + F.col("nb") - inter).cast("double")


def containment(side: str) -> Column:
    """|A∩B| / |side| over ``overlap``'s columns: ``containment("na")``
    is A's containment in B, ``containment("nb")`` B's in A."""
    return F.col("inter").cast("double") / F.col(side).cast("double")


def set_overlap(
    cand: DataFrame,
    shape: VerifyShape,
    per_doc: DataFrame | None = None,
    rows: DataFrame | None = None,
) -> DataFrame:
    """``cand``'s columns plus ``na, nb, inter`` for each (doc_a, doc_b)
    pair's shingle sets, in the shape ``verify_gate`` chose.

    The broadcast shapes join the pairs to the cached per-doc sets
    (``per_doc``, from ``_per_doc_sketch``) on the side the gate picked.
    The NARROW shape counts intersections by joining the (doc_id, sh)
    ``rows`` through the pairs — every shuffle carries hash-partitioned
    24-byte rows, no arrays and no driver-side state, which is the only
    shape that runs past the candidate cap.  A left join back onto the
    pairs keeps zero-intersection candidates (inter = 0), as the
    broadcast shapes do."""
    if shape.shape != NARROW:
        sets = per_doc.select("doc_id", "sh")
        sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        joined = _gated_join(cand, sa, sb, ("doc_a", "doc_b"), shape)
        return joined.select(*cand.columns, *overlap(F.col("sh_a"), F.col("sh_b")))
    counts = rows.groupBy("doc_id").agg(F.count("*").alias("n"))
    ra = cand.select("doc_a", "doc_b").join(
        rows.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a"
    )
    ri = ra.join(rows.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"])
    return (
        cand.join(
            ri.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter")),
            ["doc_a", "doc_b"],
            "left",
        )
        .join(counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(*cand.columns, "na", "nb", F.coalesce("inter", F.lit(0)).alias("inter"))
    )


def _lsh_in_memory(
    per_doc: DataFrame, n_hashes: int, bands: int, threshold: float, bucket_cap: int
) -> DataFrame | None:
    """``minhash_lsh_pairs``' banding and verify over the cached sketch
    ``per_doc``, collected to the driver, as a local relation; None when
    the sketch or its candidates do not fit the broadcast bound.

    One job sizes the sketch: a row per doc of ``n_hashes`` 8-byte
    lanes plus 8 bytes per shingle.  Only when that fits is the sketch
    collected.  The candidates are bounded before any pair is formed,
    by Σ C(|bucket|, 2) over the kept buckets at 16 bytes a pair, so a
    degenerate corpus falls back to the Spark shapes over the same
    cached sketch.  The rows are the Spark shapes' bit for bit: the
    same band keys (``band_key_of``), the same ``2 ≤ |bucket| ≤
    bucket_cap`` filter (null ids dropped, as ``collect_list`` drops
    them), (least, greatest) pairs deduped across bands, and the same
    double division for the jaccard."""
    spark = per_doc.sparkSession
    if not fits_broadcast(spark, 0):  # threshold -1: no sizing job either
        return None
    # observed rather than aggregated: a global aggregate is a shuffle,
    # and AQE runs its map stage as a job of its own
    sized, size = observed(
        per_doc, "sketch_footprint", F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.sum(F.size("sh")), F.lit(0)).alias("sh"),
    )
    sized.write.format("noop").mode("overwrite").save()
    docs, shingles = size.get["docs"], size.get["sh"]
    if not fits_broadcast(spark, 8 * (n_hashes * docs + shingles), docs):
        return None
    sketch = per_doc.toArrow()
    ids = sketch.column("doc_id").to_pylist()
    lanes = list(zip(*(sketch.column(f"mh{i}").to_pylist() for i in range(n_hashes))))
    r = n_hashes // bands
    buckets: dict[tuple[int, int], list] = {}
    for doc, mh in zip(ids, lanes):
        if doc is not None:
            for b in range(bands):
                buckets.setdefault((b, H.band_key_of(mh[b * r : (b + 1) * r], b)), []).append(doc)
    kept = [m for m in buckets.values() if 2 <= len(m) <= bucket_cap]
    if not fits_broadcast(spark, 16 * sum(len(m) * (len(m) - 1) // 2 for m in kept)):
        return None
    pairs = {(min(a, b), max(a, b)) for m in kept for a, b in combinations(m, 2)}
    paired = {d for p in pairs for d in p}
    sets = {d: set(sh) for d, sh in zip(ids, sketch.column("sh").to_pylist()) if d in paired}
    out = []
    for a, b in pairs:
        inter = len(sets[a] & sets[b])
        j = float(inter) / float(len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            out.append((a, b, j))
    t = per_doc.schema["doc_id"].dataType.simpleString()
    return local_frame(spark, out, f"doc_a {t} NOT NULL, doc_b {t} NOT NULL, jaccard double")


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    broadcast_cand_cap: int = DEFAULT_BROADCAST_CAND_CAP,
) -> DataFrame:
    """Near-dup candidate pairs via minhash LSH, verified with exact
    shingle jaccard: (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard ≥ ``threshold``.  rows/band = n_hashes//bands;
    P(candidate) ≈ 1-(1-j^r)^b.  ``threshold`` must sit in that curve's
    high-recall region or the verified output is an arbitrary sample of
    the sub-τ candidate tail (plans/llm.py dedup_lsh_recall measures
    exactly this).

    1. Fused sketch pass: exploded shingle rows → flat 32-bit minhash
       lanes → one groupBy(doc_id) computing the lane MINs and
       collect_set(sh) together (``hashing.minhash_lanes``, which takes
       the MINs over hex and converts them per doc), persisted in the
       latest-wins ``minhash_sketch`` slot, which the other sketch
       consumers of a session share.
    2. The tail runs in one of two shapes.
       - **Driver** (``_lsh_in_memory``), while the sketch and the
         candidates fit the session's broadcast bound: the sketch is
         collected and banded, capped, paired and verified in one
         pass.  The result is a local relation, and the previous
         call's ``minhash_cand`` cache is released.
       - **Spark**, above the bound or with the threshold at -1: band
         buckets collect only doc_ids (≤ bucket_cap × 8 bytes a
         bucket), pairs are deduped across bands before verification
         and persisted in ``minhash_cand``; ``verify_gate`` counts
         them and sizes the sets in one job, ``set_overlap`` runs the
         chosen shape (set broadcast, candidate broadcast, or over
         ``broadcast_cand_cap`` the narrow all-shuffle shape) and
         ``jaccard`` scores each pair.
    Both shapes return the same rows."""
    rows = _shingle_rows(docs, k)
    per_doc = _per_doc_sketch(rows, n_hashes)
    local = _lsh_in_memory(per_doc, n_hashes, bands, threshold, bucket_cap)
    if local is not None:
        rotate_cached("minhash_cand", [])
        return local
    cand = _cand_from_mins(per_doc.drop("sh"), n_hashes, bands, bucket_cap).persist()
    rotate_cached("minhash_cand", [cand])
    shape = verify_gate(per_doc, cand, broadcast_cand_cap)
    return (
        set_overlap(cand, shape, per_doc, rows)
        .select("doc_a", "doc_b", jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_incremental_pairs(
    base: DataFrame,
    incoming: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Incremental-ingest dedup: near-dup pairs that TOUCH the incoming
    batch — incoming↔base and incoming↔incoming — WITHOUT re-pairing
    the base corpus against itself.  The production shape for a corpus
    that grows by batches: the base×base pair space (the quadratic bulk
    a full re-run would redo every ingest) is never generated, because
    the in-bucket pair explode keeps only pairs with ≥1 incoming
    member.

    Same sketch, banding, caps, gate and jaccard verify as
    minhash_lsh_pairs, so the full-pipeline oracle filtered to
    incoming-touching pairs is the correctness contract (plans/llm.py
    dedup_incremental).  Buckets collect (doc_id, is_inc) — 16 B per
    member, still cap-bounded.  Returns (doc_a, doc_b, jaccard,
    pair_type) with pair_type 'cross' (base↔incoming) or 'new'
    (incoming↔incoming)."""
    tagged = base.select("doc_id", "text").withColumn(
        "is_inc", F.lit(False)
    ).unionByName(incoming.select("doc_id", "text").withColumn("is_inc", F.lit(True)))
    rows = _shingle_rows(tagged, k)
    flags = tagged.select("doc_id", "is_inc")
    # the sketch feeds the band stage AND both verify set sides.  Its
    # OWN rotation slot: the tagged-union input plan is never
    # sameSemantics with the plain corpus sketch, so sharing
    # 'minhash_sketch' would evict the entry every other dedup key in
    # the session reads.
    per_doc = _per_doc_sketch(rows, n_hashes, rotate=False)
    rotate_cached("minhash_sketch_inc", [per_doc])
    mins = per_doc.drop("sh").join(flags, "doc_id")
    members = (
        band_keys(mins, n_hashes, bands, "is_inc")
        .groupBy("band", "bkey")
        .agg(F.collect_list(F.struct("doc_id", "is_inc")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.filter(
                    F.transform(
                        F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                    lambda p: p["a"]["is_inc"] | p["b"]["is_inc"],
                ),
            )
        )
    )
    cand = (
        members.select(pair.alias("p"))
        .select(
            F.least("p.a.doc_id", "p.b.doc_id").alias("doc_a"),
            F.greatest("p.a.doc_id", "p.b.doc_id").alias("doc_b"),
            (F.col("p.a.is_inc") & F.col("p.b.is_inc")).alias("both_inc"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        set_overlap(cand, verify_gate(per_doc), per_doc)
        .select(
            "doc_a",
            "doc_b",
            jaccard().alias("jaccard"),
            F.when(F.col("both_inc"), F.lit("new")).otherwise(F.lit("cross")).alias("pair_type"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_values(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): flat simhash — explode (non-distinct) tokens,
    hash each once in whole-stage codegen, then 32 conditional-sum vote
    columns with map-side partial aggregation, instead of 32 interpreted
    array folds per doc."""
    tok = spread(docs).select(
        "doc_id", F.explode(H.tokens(F.col("text"))).alias("t")
    )
    votes = tok.select("doc_id", H.hash64(F.col("t"), "sim").alias("h")).groupBy(
        "doc_id"
    ).agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(32)
        ]
    )
    return votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for j in range(32)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )


def simhash_band_pairs(
    docs: DataFrame,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    max_hamming: int | None = None,
) -> DataFrame:
    """All same-band candidate pairs with their exact hamming distance
    (pre-threshold) — the measurable half of the banding guarantee.

    ``max_hamming`` (guide §2.2 — shuffle fewer bytes): when the
    caller will threshold anyway (simhash_pairs), the filter is applied
    BEFORE the cross-band dropDuplicates.  hamming is functionally
    determined by the pair (same two simhashes wherever the pair
    recurs), so filter-then-dedup emits exactly dedup-then-filter's
    rows — but the dedup exchange shuffles the few surviving pairs
    instead of every same-band candidate (~3M rows at sf0.1, birthday
    pairs over 256 byte-values, nearly all hamming > 3)."""
    sims = simhash_values(docs)
    banded = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255)).alias("bval"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    # groupBy + in-bucket explode: one sketch computation and one
    # shuffle instead of a per-side recompute self-join (see
    # minhash_lsh_pairs)
    members = (
        banded.groupBy("band", "bval")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    scored = members.select(pair.alias("p")).select(
        F.least("p.a.doc_id", "p.b.doc_id").alias("doc_a"),
        F.greatest("p.a.doc_id", "p.b.doc_id").alias("doc_b"),
        H.hamming32(F.col("p.a.simhash"), F.col("p.b.simhash")).alias("hamming"),
    )
    if max_hamming is not None:
        scored = scored.filter(F.col("hamming") <= max_hamming)
    return scored.dropDuplicates(["doc_a", "doc_b"])


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, bucket_cap: int = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """Near-dup pairs whose 32-bit simhash hamming distance ≤ 3; the four
    8-bit bands guarantee recall by pigeonhole (any pair with ≤3
    differing bits agrees on ≥1 band — dedup_lsh_recall measures this).
    Band buckets above ``bucket_cap`` are excluded before pairing — same
    quadratic guard as minhash (a degenerate band value must not O(n²)
    the run)."""
    # threshold pushed below the cross-band dedup (see
    # simhash_band_pairs max_hamming) — identical rows, the dedup
    # exchange carries only the surviving near-dup pairs
    return simhash_band_pairs(docs, bucket_cap, max_hamming=max_hamming)


def token_jaccard_pairs(
    docs: DataFrame,
    block_col: str = "lang",
    threshold: float = 0.9,
    block_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Exact token-set jaccard within a blocking column — the precise
    (non-sketch) dedup for short docs; blocking bounds the pair space
    and ``block_cap`` hard-bounds it: a block bigger than the cap is
    excluded (use a finer blocking key instead of letting one block go
    quadratic over the corpus)."""
    t = spread(docs).select(
        "doc_id", F.col(block_col).alias("block"), F.array_distinct(H.tokens(F.col("text"))).alias("tok")
    )
    # block-size cap as a window count (one pass), then the TILED pair
    # explode (_tiled_member_pairs): a per-block flatten would run each
    # block's C(m,2) pairs — full token arrays attached — in ONE task
    # (sf0.1 measured ~2 effective cores on 32)
    sized = t.withColumn(
        "bn", F.count(F.lit(1)).over(W.partitionBy("block"))
    ).filter((F.col("bn") >= 2) & (F.col("bn") <= block_cap))
    pairs = _tiled_member_pairs(
        sized,
        ["block"],
        F.pmod(F.col("doc_id"), F.lit(PAIR_TILES)),
        F.struct("doc_id", "tok"),
        "token_block_tiles",
    )
    return (
        pairs.select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            *overlap(F.col("a.tok"), F.col("b.tok")),
        )
        .select("doc_a", "doc_b", jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


EMB_BUCKET_DIMS = [0, 7, 19, 31]

# Banded sign-LSH for the dedup path: 4 independent 4-bit bucket tables
# (disjoint fixed dims, no RNG — byte-reproducible across engines).  One
# 4-bit table measures 0.18 candidate recall at cos≥0.4 on this corpus
# (dedup_lsh_recall); OR-ing B tables lifts recall to 1-(1-p)^B at
# B× the bucket-join volume — the same curve logic as minhash banding.
EMB_BANDS = [
    EMB_BUCKET_DIMS,
    [3, 11, 23, 40],
    [45, 50, 55, 60],
    [13, 27, 37, 58],
]


def embedding_bucket(vec, dims: list[int] | None = None) -> F.Column:
    """Deterministic 4-bit sign-LSH bucket over fixed dims (default:
    EMB_BUCKET_DIMS — the single-table bucketing the ANN speed path
    uses)."""
    out = F.lit(0)
    for i, d in enumerate(dims or EMB_BUCKET_DIMS):
        out = out + F.when(vec.getItem(d) >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return out.cast("int")


# Tile count for the quadratic in-bucket pair explodes below.  A
# capped bucket's C(2000,2) ≈ 2M pairs used to materialize as ONE
# flattened array in ONE task (measured at the 10× replica set: 45.7M
# embedding candidates, 62 s wall at ~2 effective cores — classic
# straggler, guide §2.5; the token-jaccard blocks showed the same
# 2-effective-core profile at sf0.1).  Tiling splits each bucket into
# TILE deterministic id-modulo groups; pairs = within-tile (i<j) plus
# the C(TILE,2) cross-tile products, each its own row stream —
# parallelism ≈ TILE² per hot bucket, no megabyte array ever built.
# Same pair SET exactly: every in-bucket pair lives in exactly one
# tile combination.
PAIR_TILES = 8


def _tiled_member_pairs(
    members: DataFrame,
    keys: "list[str]",
    g: "F.Column",
    item: "F.Column",
    slot: str,
    tiles: int = PAIR_TILES,
) -> DataFrame:
    """All unordered within-key pairs ``(a, b)`` of ``item`` rows,
    tiled (see PAIR_TILES).  ``members`` holds one row per (keys…,
    item); the caller must already have bounded the per-key member
    count (bucket/block cap) — tiling changes PARALLELISM, never the
    pair set.  The tile frame is persisted (three subtrees read it:
    within-pairs and both cross sides) under latest-wins rotation."""
    from pyspark import StorageLevel

    grouped = (
        members.withColumn("_g", g.cast("int"))
        .groupBy(*keys, "_g")
        .agg(F.collect_list(item).alias("ms"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rotate_cached(slot, [grouped])
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    within = grouped.select(pair.alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    ga = grouped.select(*keys, F.col("_g").alias("ga"), F.col("ms").alias("msa"))
    gb = grouped.select(*keys, F.col("_g").alias("gb"), F.col("ms").alias("msb"))
    cross = (
        ga.join(gb, keys)
        .filter(F.col("ga") < F.col("gb"))
        # the join keys collapse a bucket's C(TILE,2) tile rows into one
        # partition; redistribute by the full tile key BEFORE the
        # explodes so each tile's product runs in its own task
        .repartition(*[F.col(k) for k in keys], F.col("ga"), F.col("gb"))
        .select(F.explode("msa").alias("a"), "msb")
        .select("a", F.explode("msb").alias("b"))
    )
    return within.unionByName(cross)


def embedding_candidate_pairs(
    embs: DataFrame, bucket_cap: int = DEFAULT_BUCKET_CAP
) -> DataFrame:
    """(vec_a, vec_b) banded sign-LSH candidates (pre-verification):
    same-bucket in ANY of the EMB_BANDS tables, buckets collect bare
    vec_ids (cap × 8 bytes per tile), pairs deduped across bands.  The
    quadratic in-bucket explode is TILED (_tiled_member_pairs) so a
    cap-sized bucket parallelizes instead of running in one task."""
    e = spread(embs).select("vec_id", F.col("embedding").alias("emb"))
    banded = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        embedding_bucket(F.col("emb"), dims).alias("bval"),
                    )
                    for b, dims in enumerate(EMB_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    # bucket-size filter as a window count — ONE pass over banded (an
    # agg+join back would scan the corpus twice)
    sized = banded.withColumn(
        "bn", F.count(F.lit(1)).over(W.partitionBy("band", "bval"))
    ).filter((F.col("bn") >= 2) & (F.col("bn") <= bucket_cap))
    pairs = _tiled_member_pairs(
        sized,
        ["band", "bval"],
        F.pmod(F.col("vec_id"), F.lit(PAIR_TILES)),
        F.col("vec_id"),
        "emb_band_tiles",
    )
    return (
        pairs.select(
            F.least("a", "b").alias("vec_a"),
            F.greatest("a", "b").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


def embedding_cosine_pairs(
    embs: DataFrame,
    threshold: float = 0.4,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup embedding pairs with cosine ≥ threshold, candidates from
    banded sign-LSH (see embedding_candidate_pairs), verified by exact
    cosine.

    Verify side choice: ``verify_gate`` over the per-vector byte
    estimate rows · (8·width + 24), from the cached plan-build probes
    (no extra job).  Under the byte cap BOTH vector sides broadcast as
    hash-join BUILD sides and the candidate pairs STREAM — candidates
    are clique-quadratic (the 10× replica set measured 45.7M, a ~0.7 GB
    candidate broadcast) while the vectors grow only linearly.  Past
    the cap the candidate side broadcasts.  The dot is the
    width-unrolled codegen fold (bit-identical left fold) under
    ``eval_once``, so the threshold filter does not re-evaluate it in
    the join condition."""
    cand = embedding_candidate_pairs(embs, bucket_cap)
    width = V.probe_width(embs)
    shape = verify_gate(V.probe_count(embs) * (8 * width + 24) if width else None)
    vecs = spread(embs).select(
        "vec_id", V.to_double(F.col("embedding")).alias("v")
    ).withColumn("n", V.norm_w("v", width))
    va = vecs.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    return (
        _gated_join(cand, va, vb, ("vec_a", "vec_b"), shape)
        .select(
            "vec_a",
            "vec_b",
            "na",
            "nb",
            eval_once(V.dot_w("va", "vb", width), "dp"),
        )
        .select(
            "vec_a",
            "vec_b",
            (F.col("dp") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def candidate_degree_cap(
    cand: DataFrame, cap: int
) -> tuple[DataFrame, DataFrame]:
    """Bound the per-doc candidate degree: each doc nominates its
    ``cap`` SMALLEST partner ids; a pair is dropped only when NEITHER
    endpoint nominated it.  Total kept pairs ≤ n·cap (each doc
    nominates ≤ cap).  Guarantee = the MIN-EDGE KERNEL: each doc keeps
    its smallest-partner edge, so cliques stay connected under min-id
    clustering.  On general graphs an inter-cluster BRIDGE edge is
    dropped when both endpoints rank it beyond the cap, so components
    can split — the capped_docs evidence rows are the signal.  (The
    stricter both-ends rule would bound at n·cap/2 but ISOLATES
    high-id clique members — their low-id partners don't reciprocate —
    which breaks the clustering the pairs feed; unit-pinned.)

    Returns (kept_pairs, capped_docs); capped_docs carries
    (doc, degree, n_dropped_partners) evidence for every doc that
    actually lost partners.  Deterministic (partner-id order is total)
    so a SQL oracle replays it with a row_number window.

    Nomination is a TWO-STAGE top-k aggregate, not a window sort
    (a row_number formulation totally sorts the full 2×-pair
    directed set per doc partition; measured 479.9 s of sf10's
    658.7 s verify).  Stage 1 keys on (doc, input-partition)
    and slices each group to its ``cap`` smallest partners; stage 2
    merges the per-partition top-ks — any globally-top-cap partner is
    within the top cap of its own partition, so the merge is lossless
    (classic two-phase top-k).  NOTE the exchange is NOT size-bounded:
    slice/array_sort are final-projection expressions, so the partial
    collect_list buffers crossing stage 1's exchange still carry each
    doc's full per-partition degree (total bytes ≈ the directed set
    itself, grouped into arrays — no blowup, but no reduction either).
    The measured 2× sf10 win comes from replacing the per-doc TOTAL
    sort with per-group array sorts of already-complete groups."""
    # the candidate set feeds FOUR subtrees here (nomination, kept
    # semi-join, dropped anti-join, degree evidence) and the caller's
    # overlap-count joins after that — without a pin each one replays
    # the whole LSH bucket join upstream.  Rows are two longs (~16 B);
    # even sf10's 159M pre-cap candidates fit MEMORY_AND_DISK
    # comfortably (same pattern as the gated verify candidates).
    # rotate_cached bounds live handles to one per session slot — a
    # bare persist would leak one pinned entry per distinct input (the
    # hypothesis property test alone calls this with dozens of
    # distinct graphs in one session).
    from pyspark import StorageLevel

    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    rotate_cached("degree_cap_cand", [cand])
    directed = cand.select(
        F.col("doc_a").alias("doc"), F.col("doc_b").alias("partner")
    ).unionAll(cand.select(F.col("doc_b"), F.col("doc_a")))
    # stage 1: per-input-partition smallest-cap partner ids per doc
    part_topk = (
        directed.withColumn("pid", F.spark_partition_id())
        .groupBy("doc", "pid")
        .agg(
            F.slice(F.array_sort(F.collect_list("partner")), 1, cap).alias(
                "partners"
            )
        )
    )
    # stage 2: merge partition top-ks (candidate pairs are deduped, so
    # partner ids never repeat across partitions for one doc)
    nominated = (
        part_topk.select("doc", F.explode("partners").alias("partner"))
        .groupBy("doc")
        .agg(
            F.slice(F.array_sort(F.collect_list("partner")), 1, cap).alias(
                "partners"
            )
        )
        .select("doc", F.explode("partners").alias("partner"))
    )
    # a pair is kept ⇔ EITHER direction was nominated: fold the
    # nominated directed edges to undirected pairs once (≤ n·cap rows,
    # dropDuplicates is a bounded shuffle) and semi/anti-join the pair
    # set against them — pair-cardinality joins, not 2×-directed ones
    nom_pairs = nominated.select(
        F.least("doc", "partner").alias("doc_a"),
        F.greatest("doc", "partner").alias("doc_b"),
    ).dropDuplicates(["doc_a", "doc_b"])
    # nom_pairs feeds BOTH the kept semi-join and the dropped anti-join
    # (plus the evidence rollup behind it) — without a pin each consumer
    # replays the full two-stage nomination aggregate (~6 shuffle
    # stages per replay).  Bounded at n·cap 16-byte rows by
    # construction, so MEMORY_AND_DISK is safe at any scale.
    nom_pairs = nom_pairs.persist(StorageLevel.MEMORY_AND_DISK)
    rotate_cached("degree_cap_nom", [nom_pairs])
    kept = cand.join(nom_pairs, ["doc_a", "doc_b"], "left_semi")
    degrees = directed.groupBy("doc").agg(F.count(F.lit(1)).alias("degree"))
    # per-doc drop accounting WITHOUT materializing the dropped pair
    # set: a doc's lost-partner count is exactly its candidate degree
    # minus its kept degree — two narrow aggregates and a join instead
    # of an anti-join + 2×-union rollup (same rows, ~4 fewer shuffle
    # stages on the evidence path)
    kept_degrees = (
        kept.select(F.col("doc_a").alias("doc"))
        .unionAll(kept.select(F.col("doc_b")))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("kept_degree"))
    )
    capped_docs = (
        degrees.join(kept_degrees, "doc", "left")
        .select(
            "doc",
            "degree",
            (
                F.col("degree") - F.coalesce("kept_degree", F.lit(0))
            ).alias("n_dropped_partners"),
        )
        .filter(F.col("n_dropped_partners") > 0)
    )
    return kept, capped_docs


def minhash_containment_pairs(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
    degree_cap: int | None = DEFAULT_DEGREE_CAP,
    evidence: bool = False,
    broadcast_cand_cap: int = DEFAULT_BROADCAST_CAND_CAP,
) -> DataFrame:
    """Directed shingle containment over minhash-LSH band candidates —
    the asymmetric-overlap generalization of ``minhash_lsh_pairs``,
    with the same fused cached sketch (one corpus pass supplies lanes
    AND shingle sets, shared with ``minhash_lsh_pairs`` through the
    session's sketch cache), the same ``verify_gate`` and the same
    ``set_overlap``; ``containment`` scores each direction.

    The post-degree-cap candidates are persisted (rotate_cached-
    bounded) and counted by the gate.  With the default degree cap the
    candidate count is ≤ n·cap, so ``broadcast_cand_cap`` is reached
    only past ~300M docs; the narrow shape stays regression-pinned by
    forcing the cap to 0.

    Returns (doc_a, doc_b, inter_n, cont_a_in_b, cont_b_in_a) for
    pairs with max containment ≥ τ, plus loud ``capped_doc`` evidence
    rows when ``evidence`` and a degree cap are set — identical values
    from every shape (the parity test pins it)."""
    from pyspark import StorageLevel

    rows = _shingle_rows(docs, k)
    per_doc = _per_doc_sketch(rows, n_hashes)
    cand = _cand_from_mins(per_doc.drop("sh"), n_hashes, bands, bucket_cap)
    capped_docs = None
    if degree_cap is not None:
        cand, capped_docs = candidate_degree_cap(cand, degree_cap)
    # the post-cap pairs feed the gate count AND the verify joins (and
    # the evidence union when requested) — pin them so the count action
    # does not replay the nomination pipeline
    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    rotate_cached("containment_kept", [cand])
    shape = verify_gate(per_doc, cand, broadcast_cand_cap)
    pairs = (
        set_overlap(cand, shape, per_doc, rows)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("int").alias("inter_n"),
            containment("na").alias("cont_a_in_b"),
            containment("nb").alias("cont_b_in_a"),
        )
        .filter(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= threshold)
    )
    if not evidence:
        return pairs
    tagged = pairs.select(
        F.lit("pair").alias("status"),
        "doc_a", "doc_b", "inter_n", "cont_a_in_b", "cont_b_in_a",
        F.lit(None).cast("long").alias("degree"),
        F.lit(None).cast("long").alias("n_dropped_partners"),
    )
    if capped_docs is None:
        return tagged
    ev = capped_docs.select(
        F.lit("capped_doc").alias("status"),
        F.col("doc").alias("doc_a"),
        F.lit(None).cast(pairs.schema["doc_b"].dataType).alias("doc_b"),
        F.lit(None).cast("int").alias("inter_n"),
        F.lit(None).cast("double").alias("cont_a_in_b"),
        F.lit(None).cast("double").alias("cont_b_in_a"),
        F.col("degree").cast("long").alias("degree"),
        F.col("n_dropped_partners").cast("long").alias("n_dropped_partners"),
    )
    return tagged.unionByName(ev)


def per_doc_sketch(docs: DataFrame, k: int = 5, n_hashes: int = 16) -> DataFrame:
    """Public per-doc minhash sketch (mh0..mhN lanes + shingle set).
    Same canonical plan as the frame ``minhash_lsh_pairs`` builds and
    caches internally, so a caller computing BOTH (e.g. the estimator-
    calibration key) shares ONE cache entry via the CacheManager's
    same-plan dedup instead of re-scanning the corpus."""
    return _per_doc_sketch(_shingle_rows(docs, k), n_hashes)
