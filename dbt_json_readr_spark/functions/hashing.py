"""Cross-engine deterministic hashing & sketch primitives.

Every primitive exists twice: a Spark builder (a ``Column``, or for the
per-doc minhash a grouped frame; JVM-side, codegen-friendly — no Python
UDFs) and a DuckDB SQL-text builder used by
the oracles (the LSH band key has a third, plain-Python form, for a
sketch collected to the driver).  All are anchored on md5, which is
bit-identical everywhere, so every sketch (minhash, simhash,
fingerprints, LSH bands) is reproducible across engines and across
cluster topologies — a salted md5-derived 60-bit integer instead of
engine-private hash functions.

Scale note: md5 is ~3× slower than xxhash but still >1 GB/s/core
JVM-side; determinism across engines is worth it for an auditable
dedup pipeline (reruns and backfills produce identical sketches).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ------------------------------------------------------------ hash64


def hash64(col: Column, salt: str = "") -> Column:
    """60-bit positive int from md5(salt ':' value)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), col)), 1, 15), 16, 10
    ).cast("long")


def sql_hash64(expr: str, salt: str = "") -> str:
    return f"('0x' || substr(md5('{salt}:' || {expr}), 1, 15))::BIGINT"


# ------------------------------------------------------------ shingles


def char_shingles(col: Column, k: int) -> Column:
    """Distinct char k-grams, in first-occurrence order; texts shorter
    than k yield [text].  Characters are code points, as ``length`` and
    ``substr`` count them.

    The k-grams are group 1 of ``(?s)(?=(.{k})).``: the look-ahead
    captures the k characters at each position and the trailing ``.``
    consumes one, so a match starts at every character in turn.  The
    consuming ``.`` matters: Java's regex steps over a surrogate pair as
    one character when a match consumes it, but after an empty match it
    advances one UTF-16 unit, so the zero-width pattern alone would also
    start a k-gram on the low half of every non-BMP character (an
    emoji, a math letter).  ``(?s)`` makes CR, LF and the other line
    breaks characters like any other.  ``regexp_extract_all`` runs in
    whole-stage codegen; a ``transform`` over a position ``sequence``
    is a higher-order function, which Spark evaluates on the
    interpreted path."""
    return F.array_distinct(char_shingles_ordered(col, k))


def char_shingles_ordered(col: Column, k: int) -> Column:
    """Positional (non-distinct) char k-grams, one per start position,
    for rolling-hash schemes; ``char_shingles`` explains the regex."""
    return F.when(F.length(col) < k, F.array(col)).otherwise(
        F.regexp_extract_all(col, F.lit(f"(?s)(?=(.{{{k}}}))."), 1)
    )


def sql_char_shingles(expr: str, k: int) -> str:
    return (
        f"CASE WHEN len({expr}) < {k} THEN [{expr}] "
        f"ELSE list_distinct(list_transform(range(1, len({expr})-{k}+2), "
        f"i -> substr({expr}, i, {k}))) END"
    )


def tokens(col: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def sql_tokens(expr: str) -> str:
    return f"string_split_regex(lower(trim({expr})), '\\s+')"


# ------------------------------------------------------------ minhash


def minhash_lanes(rows: DataFrame, n_hashes: int, *aggs: Column) -> DataFrame:
    """Per-doc minhash of ``(doc_id, sh)`` shingle-hash rows: ``doc_id``,
    the lanes ``mh0``… ``mh{n_hashes-1}`` as bigints, then ``aggs``,
    which run in the same aggregation (the fused sketch adds its
    ``collect_set``).  ``sql_minhash_array``'s lanes bit for bit.

    Four lanes per md5 call: an md5 digest is 128 bits = four
    independent 32-bit hash functions (hex chars 1-8, 9-16, 17-24,
    25-32), so n//4 salted digests give n lanes at a quarter of the
    digest cost of one-per-call.  32-bit lanes are plenty for a min
    statistic (ties need a within-doc 2⁻³² collision).

    The minimum is taken over the 8-character hex slices and converted
    to a number once per doc, after the aggregation: fixed-width
    lowercase hex sorts as its number does, so ``min`` picks the same
    lane, and ``conv`` runs ``n_hashes`` times per doc instead of per
    shingle row.  The lanes are flat columns over exploded shingle rows
    rather than an array pipeline because Spark's higher-order
    functions evaluate on the interpreted path; flat columns keep the
    md5 in whole-stage codegen and the min gets map-side partial
    aggregation.

    Measured dead end (keep it dead): deriving the n hashes as affine
    permutations (a_i·h+b_i mod 2³¹-1) of ONE base md5 halves the hash
    cost but the permutations are correlated (one-permutation-hashing
    weakness) — LSH candidate volume nearly doubled at sf0.1
    (60k vs 32.5k) and end-to-end the operator got SLOWER.  Distinct
    output bits of one cryptographic digest carry no such coupling."""
    assert n_hashes % 4 == 0
    hexes = {}
    for p in range(n_hashes // 4):
        d = F.md5(F.concat(F.lit(f"mhp{p}:"), F.col("sh").cast("string")))
        for lane in range(4):
            hexes[f"mh{4 * p + lane}"] = F.substring(d, 1 + 8 * lane, 8)
    mins = rows.withColumns(hexes).groupBy("doc_id").agg(
        *[F.min(c).alias(c) for c in hexes], *aggs
    )
    return mins.withColumns({c: F.conv(c, 16, 10).cast("long") for c in hexes})


def sql_minhash_array(shingles_expr: str, n_hashes: int) -> str:
    assert n_hashes % 4 == 0
    mins = []
    for p in range(n_hashes // 4):
        digest = f"md5('mhp{p}:' || CAST(s AS VARCHAR))"
        for lane in range(4):
            mins.append(
                f"list_min(list_transform({shingles_expr}, "
                f"s -> ('0x' || substr({digest}, {1 + 8 * lane}, 8))::BIGINT))"
            )
    return f"[{', '.join(mins)}]"


def band_key_flat(lane_cols: list[Column], band: int) -> Column:
    """Band key from flat minhash lane columns — identical string
    contract to ``sql_band_key`` (comma-joined decimal lanes, salted
    per band), codegen-friendly (no array HOF)."""
    joined = F.concat_ws(",", *[c.cast("string") for c in lane_cols])
    return hash64(joined, f"band{band}")


def band_key_of(lanes: list[int], band: int) -> int:
    """``band_key_flat`` of one row's lane values, computed in Python
    for a sketch already collected to the driver."""
    joined = ",".join(map(str, lanes))
    return int(hashlib.md5(f"band{band}:{joined}".encode()).hexdigest()[:15], 16)


def sql_band_key(mh_expr: str, band: int, rows_per_band: int) -> str:
    lo = band * rows_per_band + 1
    hi = lo + rows_per_band - 1
    joined = f"array_to_string(list_slice({mh_expr}, {lo}, {hi}), ',')"
    return sql_hash64(joined, f"band{band}")


# ------------------------------------------------------------ simhash


def sql_simhash32(tokens_expr: str) -> str:
    hs = f"list_transform({tokens_expr}, t -> {sql_hash64('t', 'sim')})"
    parts = [
        f"(CASE WHEN list_sum(list_transform({hs}, "
        f"h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {2**j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(32)
    ]
    return "(" + " + ".join(parts) + ")"


def hamming32(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def sql_hamming32(a: str, b: str) -> str:
    return f"CAST(bit_count(xor({a}, {b})) AS INTEGER)"
