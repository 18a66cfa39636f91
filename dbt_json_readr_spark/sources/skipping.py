"""Stats-based FILE SKIPPING for the Delta / Iceberg bridges.

Both formats ship per-file column statistics in their commit metadata —
Delta as the ``add.stats`` JSON string (numRecords / minValues /
maxValues / nullCount, PROTOCOL.md "Per-file Statistics"), Iceberg as
the manifest entry's ``lower_bounds`` / ``upper_bounds`` /
``null_value_counts`` / ``value_counts`` maps (spec §Manifests, bounds
serialized per Appendix D) — precisely so a reader can drop files from
the scan list BEFORE opening them.  Without this, a selective
non-partition predicate on a 100 TB table opens every file; with it,
the scan list shrinks at metadata cost.  This module implements the
pruning decision; ``lakeformats.read_delta_snapshot`` /
``read_iceberg_snapshot`` call it when given a ``predicate`` and then
ALSO apply the predicate row-level, so skipping is a pure optimization
— dropping it can never change results, only speed.

The contract is strictly conservative: a file is skipped ONLY when its
stats PROVE no row can match.  Missing stats, un-coercible values, or
unknown types always keep the file.  Min/max interval checks are sound
in the presence of nulls because SQL comparison predicates never match
NULL rows anyway; ``is_null`` / ``is_not_null`` use the null counts.

Predicates are conjunctions of simple terms ``(column, op, value)``
with ops ``= < <= > >= in is_null is_not_null`` — the fragment both
formats' stats can answer (and the same fragment Spark pushes to
parquet row groups AFTER the file-level prune).

Iceberg additionally prunes on PARTITION TRANSFORM values (spec
§Partition Transforms): ``identity`` compares exactly, ``bucket[N]``
prunes equality terms via the spec's murmur3_x86_32 hash (Appendix B),
``truncate[W]`` / ``year`` / ``month`` / ``day`` / ``hour`` prune
equality and — being monotonic — range terms.  Delta partition values
are exact per-file literals and prune every op.

Reference: aecoleman/dbt-json-readr has no lake bridge (explore.R is a
single-machine artifact parser); this is engine-side scale work, same
posture as every production Delta/Iceberg reader.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import struct
from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMPARE_OPS = {"=", "<", "<=", ">", ">=", "in"}
_NULL_OPS = {"is_null", "is_not_null"}
OPS = _COMPARE_OPS | _NULL_OPS

Term = tuple  # (column, op, value)


class PredicateError(ValueError):
    """Malformed predicate term — loud, at plan time."""


def validate_predicate(predicate: list[Term], columns: list[str]) -> None:
    for t in predicate:
        if len(t) != 3:
            raise PredicateError(f"term must be (column, op, value): {t!r}")
        col, op, val = t
        if op not in OPS:
            raise PredicateError(f"unknown op {op!r} (supported: {sorted(OPS)})")
        if col not in columns:
            raise PredicateError(f"unknown column {col!r} in term {t!r}")
        if op in _NULL_OPS and val is not None:
            raise PredicateError(f"{op} takes no value: {t!r}")
        if op in _COMPARE_OPS and op != "in" and val is None:
            # SQL three-valued logic: `col = NULL` matches nothing;
            # that is never what a caller means — use is_null
            raise PredicateError(f"{op} with NULL value matches no rows: {t!r}")
        if op == "in" and (
            not isinstance(val, (list, tuple, set)) or len(val) == 0
        ):
            raise PredicateError(f"'in' needs a non-empty collection: {t!r}")


def predicate_column(predicate: list[Term]) -> Column:
    """The same conjunction as a Spark Column — the readers apply it
    row-level so skipping stays a pure optimization."""
    out = F.lit(True)
    for col, op, val in predicate:
        c = F.col(col)
        if op == "=":
            cond = c == F.lit(val)
        elif op == "<":
            cond = c < F.lit(val)
        elif op == "<=":
            cond = c <= F.lit(val)
        elif op == ">":
            cond = c > F.lit(val)
        elif op == ">=":
            cond = c >= F.lit(val)
        elif op == "in":
            cond = c.isin(*list(val))
        elif op == "is_null":
            cond = c.isNull()
        else:
            cond = c.isNotNull()
        out = out & cond
    return out


# ------------------------------------------------- value coercion

def _coerce(dtype: T.DataType, raw):
    """A stats / partition value coerced to a Python comparable of the
    column's type, or None when unknown/un-coercible (→ keep the
    file).  Delta stats and partitionValues serialize everything
    JSON-side (dates and partition numerics arrive as strings)."""
    if raw is None:
        return None
    try:
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(raw)
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return float(raw)
        if isinstance(dtype, T.DecimalType):
            return Decimal(str(raw))
        if isinstance(dtype, T.BooleanType):
            if isinstance(raw, bool):
                return raw
            return str(raw).lower() == "true"
        if isinstance(dtype, T.DateType):
            if isinstance(raw, _dt.date):
                return raw
            return _dt.date.fromisoformat(str(raw))
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            if isinstance(raw, _dt.datetime):
                if raw.tzinfo is not None:
                    if isinstance(dtype, T.TimestampNTZType):
                        return None  # aware vs NTZ: session-dependent
                    raw = raw.astimezone(_dt.timezone.utc)
                elif isinstance(dtype, T.TimestampType):
                    # naive datetime on a tz column: same writer-local
                    # ambiguity as the offset-less string below
                    return None
                return raw.replace(tzinfo=None)
            s = str(raw).replace("Z", "+00:00")
            parsed = _dt.datetime.fromisoformat(s)
            if parsed.tzinfo is not None:
                if isinstance(dtype, T.TimestampNTZType):
                    # an offset-bearing stat on an NTZ column is
                    # foreign-writer ambiguity — keep, never guess
                    return None
                parsed = parsed.astimezone(_dt.timezone.utc).replace(
                    tzinfo=None
                )
            elif isinstance(dtype, T.TimestampType):
                # the MIRROR ambiguity: writers have
                # historically serialized offset-less timestamp stats /
                # partitionValues in their own session tz — comparing
                # them as UTC instants against a normalized literal
                # pruned live files; only offset/Z-bearing strings are
                # unambiguous instants
                return None
            return parsed
        if isinstance(dtype, T.StringType):
            return str(raw)
    except (ValueError, TypeError, ArithmeticError):
        return None
    return None  # nested / binary / unknown types: never prune on them


def _cmp_ready(a, b) -> bool:
    try:
        a < b  # noqa: B015 — probing comparability only
        return True
    except TypeError:
        return False


_TS_UNUSABLE = object()  # sentinel: term cannot prune this column


def _ts_term_value(is_tz: bool, is_ntz: bool, value):
    """Predicate datetime values normalized to the matchers'
    NAIVE-INSTANT convention, or the _TS_UNUSABLE sentinel when the
    term cannot prune soundly: Spark converts a
    NAIVE literal against a tz-typed column via the session/driver
    timezone, and an AWARE literal against an NTZ column likewise —
    in both cases the skip decision would depend on an environment
    this module cannot see, so keep, never guess.  Aware values on tz
    columns convert to their UTC instant; naive-on-NTZ pass through."""
    if not isinstance(value, _dt.datetime):
        return value
    if is_tz:
        if value.tzinfo is None:
            return _TS_UNUSABLE
        return value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if is_ntz:
        if value.tzinfo is not None:
            return _TS_UNUSABLE
        return value
    return _TS_UNUSABLE  # datetime literal vs non-timestamp column


def _normalize_term_value(is_tz: bool, is_ntz: bool, op, value):
    """Term value (or 'in' members) through _ts_term_value; returns
    _TS_UNUSABLE when the whole term must be skipped."""
    if op in _NULL_OPS:
        return value
    if op == "in":
        vals = [_ts_term_value(is_tz, is_ntz, v) for v in value]
        if any(v is _TS_UNUSABLE for v in vals):
            return _TS_UNUSABLE
        return vals
    return _ts_term_value(is_tz, is_ntz, value)


def dtype_map(schema: T.StructType) -> dict:
    """name → dtype with FIRST-match-wins (same resolution as
    StructType[name]); one definition for every caller."""
    out: dict = {}
    for fld in schema.fields:
        out.setdefault(fld.name, fld.dataType)
    return out


def normalize_predicate_delta(
    predicate: list[Term], schema: T.StructType
) -> list[Term]:
    """Predicate values normalized ONCE per scan, not once per file;
    unusable terms carry _TS_UNUSABLE as their value — the matchers
    then apply only their value-INDEPENDENT checks (null counts)."""
    out = []
    for col, op, value in predicate:
        dtype = schema[col].dataType
        out.append(
            (
                col,
                op,
                _normalize_term_value(
                    isinstance(dtype, T.TimestampType),
                    isinstance(dtype, T.TimestampNTZType),
                    op,
                    value,
                ),
            )
        )
    return out


def normalize_predicate_iceberg(
    predicate: list[Term], ctx: dict
) -> list[Term]:
    """Iceberg twin of normalize_predicate_delta, keyed on the column's
    Iceberg type; unknown columns pass through untouched (the matchers
    skip them on the missing field id)."""
    out = []
    for col, op, value in predicate:
        fid = ctx["ids_by_name"].get(col)
        if fid is None:
            out.append((col, op, value))
            continue
        type_json = ctx["types_by_id"].get(fid)
        out.append(
            (
                col,
                op,
                _normalize_term_value(
                    type_json == "timestamptz",
                    type_json == "timestamp",
                    op,
                    value,
                ),
            )
        )
    return out


# ------------------------------------------------- interval logic

def _all_null_excludes(op, nulls, nrows) -> bool:
    """A file of ONLY nulls matches no comparison predicate —
    tz-independent, so it stays live even for _TS_UNUSABLE terms; ONE
    definition shared by both matchers and the interval logic."""
    return (
        op in _COMPARE_OPS
        and nulls is not None
        and nrows is not None
        and int(nulls) == int(nrows)
    )


def _interval_excludes(op, value, lo, hi, nulls, nrows) -> bool:
    """True only when [lo, hi] (+ null counts) PROVES no row matches.
    Any unknown input disables the corresponding check.  lo/hi are
    bounds over NON-NULL values; comparison predicates never match
    NULL rows, so bound checks stay sound when nulls are present."""
    if op == "is_null":
        return nulls is not None and int(nulls) == 0
    if op == "is_not_null":
        return (
            nulls is not None and nrows is not None and int(nulls) == int(nrows)
        )
    if _all_null_excludes(op, nulls, nrows):
        return True
    if op == "in":
        return all(
            _interval_excludes("=", v, lo, hi, None, None) for v in value
        )
    if op == "=":
        if lo is not None and _cmp_ready(value, lo) and value < lo:
            return True
        if hi is not None and _cmp_ready(value, hi) and value > hi:
            return True
        return False
    if op == "<":
        return lo is not None and _cmp_ready(lo, value) and lo >= value
    if op == "<=":
        return lo is not None and _cmp_ready(lo, value) and lo > value
    if op == ">":
        return hi is not None and _cmp_ready(hi, value) and hi <= value
    if op == ">=":
        return hi is not None and _cmp_ready(hi, value) and hi < value
    return False


def _exact_excludes(op, value, actual) -> bool:
    """Partition values are exact per-file literals: every op decides.
    ``actual`` None means the partition VALUE is null."""
    if op == "is_null":
        return actual is not None
    if op == "is_not_null":
        return actual is None
    if actual is None:
        return True  # NULL never matches a comparison
    if op == "in":
        return all(_exact_excludes("=", v, actual) for v in value)
    if not _cmp_ready(actual, value):
        return False  # incomparable → cannot prove, keep
    if op == "=":
        return actual != value
    if op == "<":
        return not actual < value
    if op == "<=":
        return not actual <= value
    if op == ">":
        return not actual > value
    if op == ">=":
        return not actual >= value
    return False


# ------------------------------------------------- Delta

def delta_file_matches(
    f: dict,
    schema: T.StructType,
    partition_columns: list[str],
    predicate: list[Term],
    physical_names: dict[str, str] | None = None,
    prenormalized: bool = False,
    dtypes: "dict[str, T.DataType] | None" = None,
) -> bool:
    """False only when the file's partitionValues or add.stats PROVE no
    row matches the conjunction.  Stats keys follow the PHYSICAL column
    names when column mapping is active (the stats are derived from the
    parquet), same rule as partitionValues.  Bulk callers pass
    ``prenormalized=True`` with a normalize_predicate_delta output so
    the constant predicate is not re-normalized per file."""
    if not prenormalized:
        predicate = normalize_predicate_delta(predicate, schema)
    if dtypes is None:
        # StructType[str] is a linear scan — bulk callers pass the
        # per-scan map once
        dtypes = dtype_map(schema)
    phys = physical_names or {}
    stats = f.get("stats")
    if isinstance(stats, str):
        try:
            stats = json.loads(stats)
        except ValueError:
            stats = None
    if not isinstance(stats, dict):
        stats = None
    pv = f.get("partitionValues") or {}
    for col, op, value in predicate:
        dtype = dtypes[col]
        key = phys.get(col, col)
        if col in partition_columns:
            raw = pv.get(key, pv.get(col))
            if raw is None:
                # genuine null partition value: no comparison matches,
                # INDEPENDENT of how an unusable literal's tz would
                # resolve (unusable terms keep their value-independent
                # prunes)
                if op in _COMPARE_OPS or _exact_excludes(op, value, None):
                    return False
                continue
            if value is _TS_UNUSABLE:
                continue  # session-tz-dependent term: keep, never guess
            actual = _coerce(dtype, raw)
            if actual is not None and _exact_excludes(op, value, actual):
                return False
            # actual None = UN-COERCIBLE (unsupported type), NOT
            # null — conflating the two would prune live files; keep
            # conservatively
            continue
        if stats is None:
            continue
        nulls = (stats.get("nullCount") or {}).get(key)
        nrows = stats.get("numRecords")
        if value is _TS_UNUSABLE:
            # the all-null prune is tz-independent and stays live
            if _all_null_excludes(op, nulls, nrows):
                return False
            continue
        lo = _coerce(dtype, (stats.get("minValues") or {}).get(key))
        hi = _coerce(dtype, (stats.get("maxValues") or {}).get(key))
        if _interval_excludes(op, value, lo, hi, nulls, nrows):
            return False
    return True


# ------------------------------------------------- Iceberg bounds

def decode_iceberg_bound(type_json, raw: bytes):
    """One lower/upper bound decoded per the spec's single-value binary
    serialization (Appendix D).  Unknown types → None (keep)."""
    if raw is None or not isinstance(raw, (bytes, bytearray)):
        return None
    raw = bytes(raw)
    try:
        if isinstance(type_json, str):
            t = type_json
            if t == "boolean":
                return raw != b"\x00"
            if t == "int":
                return struct.unpack("<i", raw)[0]
            if t == "long":
                return struct.unpack("<q", raw)[0]
            if t == "float":
                return struct.unpack("<f", raw)[0]
            if t == "double":
                return struct.unpack("<d", raw)[0]
            if t == "date":
                days = struct.unpack("<i", raw)[0]
                return _dt.date(1970, 1, 1) + _dt.timedelta(days=days)
            if t in ("timestamp", "timestamptz"):
                micros = struct.unpack("<q", raw)[0]
                return _dt.datetime(1970, 1, 1) + _dt.timedelta(
                    microseconds=micros
                )
            if t == "string":
                return raw.decode("utf-8")
            if t.startswith("decimal("):
                scale = _decimal_scale(t)
                unscaled = int.from_bytes(raw, "big", signed=True)
                return _decimal_rescale(unscaled, scale)
            if t == "binary" or t.startswith("fixed["):
                # Appendix D: binary/fixed serialize as the raw bytes.
                # Without this branch, manifest-LIST field summaries
                # over truncate[W]-of-binary partitions would decode to
                # None and the walk would open every manifest
                return raw
    except (struct.error, ValueError, UnicodeDecodeError):
        return None
    return None


def _bounds_map(m):
    """Manifest bounds/count maps arrive either as spec-shaped
    key/value record arrays ([{key, value}]) or as plain dicts (when a
    writer used an avro map) — normalize to {int key: value}."""
    if m is None:
        return {}
    if isinstance(m, dict):
        return {int(k): v for k, v in m.items()}
    out = {}
    for kv in m:
        out[int(kv["key"])] = kv.get("value")
    return out


# ------------------------------------------------- Iceberg transforms

def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """Pure-Python murmur3_x86_32 (public domain algorithm, the hash
    the Iceberg spec mandates for bucket transforms — Appendix B).
    Returns the UNSIGNED 32-bit value."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    rounded = len(data) // 4 * 4
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[rounded:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _decimal_scale(type_json) -> int | None:
    """Declared scale of an Iceberg decimal type string, else None —
    ONE parser shared by truncate and bucket hashing."""
    if isinstance(type_json, str) and type_json.startswith("decimal("):
        return int(type_json[len("decimal(") : -1].split(",")[1])
    return None


def _decimal_unscaled(value: Decimal, type_json) -> int | None:
    """EXACT unscaled integer of ``value`` at the TYPE's declared
    scale, or None when it cannot be represented (finer-scaled value,
    non-decimal type).  Computed under a widened local context —
    ``int(value.scaleb(scale))`` silently ROUNDS at the default
    28-digit precision, which would truncate/hash 38-digit decimals
    to the wrong partition."""
    scale = _decimal_scale(type_json)
    if scale is None:
        return None
    with _decimal.localcontext() as ctx:
        ctx.prec = 80
        scaled = value.scaleb(scale)
        if scaled != scaled.to_integral_value():
            return None
        return int(scaled.to_integral_value())


def _decimal_rescale(unscaled: int, scale: int) -> Decimal:
    """unscaled·10^-scale, exactly — the widened-context policy lives
    here once."""
    with _decimal.localcontext() as ctx:
        ctx.prec = 80
        return Decimal(unscaled).scaleb(-scale)


def _min_twos_complement(v: int) -> bytes:
    """Minimal big-endian two's-complement encoding — the byte layout
    the Iceberg spec mandates for decimal hashing (e.g. -128 is ONE
    byte 0x80, not 0xFF80; a non-minimal encoding hashes to a
    different bucket)."""
    n = max(1, (abs(v).bit_length() + 7) // 8)
    try:
        return v.to_bytes(n, "big", signed=True)
    except OverflowError:
        return v.to_bytes(n + 1, "big", signed=True)


def iceberg_bucket_hash(type_json, value) -> int | None:
    """The SIGNED 32-bit hash Appendix B defines per source type (ints
    and longs — and dates/timestamps via their int/long representation
    — hash as the little-endian 8-byte long; strings as UTF-8 bytes;
    decimals as MINIMAL big-endian unscaled bytes).  None = cannot
    hash (keep the file) — including any type-mismatched predicate
    value: the conservative-keep contract promises keep, never a raw
    exception from inside hashing."""
    try:
        t = type_json if isinstance(type_json, str) else None
        if t in ("int", "long"):
            h = murmur3_x86_32(struct.pack("<q", int(value)))
        elif t == "date":
            if not isinstance(value, _dt.date) or isinstance(
                value, _dt.datetime
            ):
                return None
            days = (value - _dt.date(1970, 1, 1)).days
            h = murmur3_x86_32(struct.pack("<q", days))
        elif t in ("timestamp", "timestamptz"):
            if not isinstance(value, _dt.datetime):
                return None
            if value.tzinfo is not None:
                if t != "timestamptz":
                    # an aware value against an NTZ column: which wall
                    # clock Spark's row filter uses is session-tz
                    # dependent — keep, never guess
                    return None
                # convert, don't drop: naive-ifying an aware timestamp
                # hashes local wall-time micros and picks the wrong
                # bucket (same rule as _coerce)
                value = value.astimezone(_dt.timezone.utc)
            micros = (
                value.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)
            ) // _dt.timedelta(microseconds=1)
            h = murmur3_x86_32(struct.pack("<q", micros))
        elif t == "string":
            if not isinstance(value, str):
                return None
            h = murmur3_x86_32(value.encode("utf-8"))
        elif t == "uuid":
            # Appendix B: the 16 big-endian RFC-4122 bytes.  The read
            # bridge carries uuid columns as canonical STRINGS (same
            # as iceberg-spark), so accept str alongside uuid.UUID and
            # raw 16-byte buffers.
            import uuid as _uuid_mod

            if isinstance(value, _uuid_mod.UUID):
                b = value.bytes
            elif isinstance(value, str):
                b = _uuid_mod.UUID(value).bytes
            elif isinstance(value, (bytes, bytearray)) and len(value) == 16:
                b = bytes(value)
            else:
                return None
            h = murmur3_x86_32(b)
        elif t is not None and (t == "binary" or t.startswith("fixed[")):
            # the `t is not None` guard matters: a nested-type dict
            # sets t = None, and None.startswith would raise
            # AttributeError — which is NOT in the catch tuple below,
            # breaking the keep-never-raise contract
            if not isinstance(value, (bytes, bytearray)):
                return None
            h = murmur3_x86_32(bytes(value))
        elif t is not None and t.startswith("decimal("):
            if not isinstance(value, Decimal):
                return None
            unscaled = _decimal_unscaled(value, t)
            if unscaled is None:
                return None
            h = murmur3_x86_32(_min_twos_complement(unscaled))
        else:
            return None
    except (ValueError, TypeError, ArithmeticError, OverflowError):
        return None
    return h - (1 << 32) if h >= (1 << 31) else h


def _apply_transform(transform: str, type_json, value):
    """transform(value), or None when this module cannot evaluate it
    (→ keep the file) — including type-mismatched values, same
    conservative contract as iceberg_bucket_hash.  All except bucket
    are order-preserving, so range predicates prune through them."""
    try:
        return _apply_transform_inner(transform, type_json, value)
    except (ValueError, TypeError, ArithmeticError, OverflowError):
        return None


def _apply_transform_inner(transform: str, type_json, value):
    if transform == "identity":
        return value
    if transform.startswith("bucket["):
        n = int(transform[len("bucket[") : -1])
        h = iceberg_bucket_hash(type_json, value)
        if h is None:
            return None
        return (h & 0x7FFFFFFF) % n
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        # dispatch on the COLUMN type, not the python type of the
        # predicate value: an int literal against a decimal column
        # truncates at granularity w instead of w·10^-scale and would
        # prune live files
        t = type_json if isinstance(type_json, str) else None
        if t in ("int", "long"):
            if isinstance(value, bool) or not isinstance(value, int):
                return None
            return value - (value % w)  # python % floors: correct for <0
        if t == "string":
            if not isinstance(value, str):
                return None
            return value[:w]
        if t is not None and t.startswith("decimal("):
            # the TYPE's declared scale, not the value's own exponent:
            # Decimal('1E+2') == Decimal('100.00') but truncates to a
            # different result under exponent-derived scale (the bucket
            # branch keys the same way)
            if not isinstance(value, Decimal):
                return None
            scale = _decimal_scale(t)
            unscaled = _decimal_unscaled(value, t)
            if unscaled is None:
                return None
            return _decimal_rescale(unscaled - (unscaled % w), scale)
        if t is not None and (t == "binary" or t.startswith("fixed[")):
            # spec: truncate of binary/fixed = the first W bytes —
            # order-preserving under bytes comparison, so both the
            # equality and range pruning paths may use it (read-side
            # only; WRITES of binary-truncate partitions stay gated with
            # the identity-decimal path-form rationale)
            if not isinstance(value, (bytes, bytearray)):
                return None
            return bytes(value)[:w]
        return None
    if transform in ("year", "month", "day", "hour"):
        if isinstance(value, _dt.datetime):
            if value.tzinfo is not None:
                if type_json != "timestamptz":
                    # aware value vs NTZ column: session-tz dependent
                    # wall clock — keep, never guess
                    return None
                # convert, don't drop: the local wall-clock date of an
                # aware timestamp can differ from its UTC date and
                # prune the live file
                value = value.astimezone(_dt.timezone.utc).replace(
                    tzinfo=None
                )
            d, ts = value.date(), value
        elif isinstance(value, _dt.date):
            d, ts = value, _dt.datetime(value.year, value.month, value.day)
        else:
            return None
        if transform == "year":
            return d.year - 1970
        if transform == "month":
            return (d.year - 1970) * 12 + (d.month - 1)
        if transform == "day":
            return (d - _dt.date(1970, 1, 1)).days
        # floordiv, not int(): int() truncates toward zero, mapping
        # pre-1970 timestamps to the wrong hour ordinal
        return (ts - _dt.datetime(1970, 1, 1)) // _dt.timedelta(hours=1)
    if transform == "void":
        return None
    return None


def make_iceberg_match_context(
    schema_json: dict, field_names_by_id: dict[int, str]
) -> dict:
    """Per-SNAPSHOT lookup tables for the matchers below — built once
    by the caller, not once per data-file entry (a 1M-file snapshot
    would rebuild identical dicts a million times)."""
    return {
        "types_by_id": {f["id"]: f["type"] for f in schema_json["fields"]},
        "ids_by_name": {v: k for k, v in field_names_by_id.items()},
        "names_by_id": dict(field_names_by_id),
    }


def spec_by_source(spec_fields: list[dict] | None) -> dict | None:
    """source-id → [spec fields] for ONE partition spec; None in =
    None out (unknown spec — transform pruning must stay off)."""
    if spec_fields is None:
        return None
    out: dict[int, list[dict]] = {}
    for sf in spec_fields:
        out.setdefault(sf["source-id"], []).append(sf)
    return out


def iceberg_file_matches(
    entry: dict,
    ctx: dict,
    predicate: list[Term],
    spec_by_src: dict | None = None,
    prenormalized: bool = False,
) -> bool:
    """False only when the manifest entry's column bounds / null counts
    or partition-transform values PROVE no row matches.  ``spec_by_src``
    must be THE ENTRY'S OWN partition spec (manifests written under an
    older spec carry that spec's partition tuples — evaluating the
    default spec's transforms against them would prune live files);
    pass None when the entry's spec is unknown and
    only bounds pruning applies."""
    if not prenormalized:
        predicate = normalize_predicate_iceberg(predicate, ctx)
    types_by_id = ctx["types_by_id"]
    ids_by_name = ctx["ids_by_name"]
    lower = _bounds_map(entry.get("lower_bounds"))
    upper = _bounds_map(entry.get("upper_bounds"))
    null_counts = _bounds_map(entry.get("null_value_counts"))
    value_counts = _bounds_map(entry.get("value_counts"))
    partition = entry.get("partition")
    spec_by_source_map = spec_by_src or {}
    for col, op, value in predicate:
        fid = ids_by_name.get(col)
        if fid is None:
            continue  # column from another schema generation: keep
        type_json = types_by_id.get(fid)
        nulls = null_counts.get(fid)
        nrows = value_counts.get(fid, entry.get("record_count"))
        if value is _TS_UNUSABLE:
            # session-tz-dependent term: only its tz-INDEPENDENT
            # all-null prune stays live
            if _all_null_excludes(op, nulls, nrows):
                return False
            continue
        lo = decode_iceberg_bound(type_json, lower.get(fid))
        hi = decode_iceberg_bound(type_json, upper.get(fid))
        specs = (
            spec_by_source_map.get(fid, []) if partition is not None else []
        )

        def eq_possible(v) -> bool:
            """Could a row with col == v live in this file?  Bounds AND
            every partition transform must admit v — evaluated PER
            VALUE, so `in` terms combine the checks correctly (a file
            where one member passes bounds and a different member
            passes the bucket still prunes)."""
            if _interval_excludes("=", v, lo, hi, nulls, nrows):
                return False
            for sf in specs:
                stored = partition.get(sf["name"])
                transform = sf["transform"]
                if stored is None or transform == "void":
                    continue
                tv = _apply_transform(transform, type_json, v)
                if tv is None:
                    continue
                stored_c = _coerce_partition(stored, [tv])
                if stored_c is not None and stored_c != tv:
                    return False
            return True

        if op == "=":
            if not eq_possible(value):
                return False
            continue
        if op == "in":
            if not any(eq_possible(v) for v in value):
                return False
            continue
        if _interval_excludes(op, value, lo, hi, nulls, nrows):
            return False
        if op in ("is_null", "is_not_null"):
            continue  # null counts above are the only evidence
        # range term against ORDER-PRESERVING transforms (truncate /
        # year / month / day / hour / identity); bucket is not
        # monotonic and cannot prune ranges
        for sf in specs:
            stored = partition.get(sf["name"])
            transform = sf["transform"]
            if stored is None or transform == "void" or transform.startswith(
                "bucket["
            ):
                continue
            tv = _apply_transform(transform, type_json, value)
            if tv is None:
                continue
            stored_c = _coerce_partition(stored, [tv])
            if stored_c is None or not _cmp_ready(stored_c, tv):
                continue
            # t monotonic: x op value requires t(x) (op weakened to
            # include equality) t(value)
            if op in ("<", "<=") and stored_c > tv:
                return False
            if op in (">", ">=") and stored_c < tv:
                return False
    return True


def _transform_result_type(transform: str, source_type):
    """The Iceberg type of a transform's OUTPUT (spec §Partition
    Transforms): bucket and the date/time family yield int; identity
    and truncate preserve the source type."""
    if transform == "identity" or transform.startswith("truncate["):
        return source_type
    if transform.startswith("bucket[") or transform in (
        "year",
        "month",
        "day",
        "hour",
    ):
        return "int"
    return None


def iceberg_manifest_matches(
    mlist_row: dict,
    ctx: dict,
    predicate: list[Term],
    spec_fields: list[dict] | None,
    prenormalized: bool = False,
) -> bool:
    """MANIFEST-LIST-level pruning (spec: manifest_file.partitions
    field summaries, ordered like the partition spec): False only when
    a summary's [lower_bound, upper_bound] over the TRANSFORMED
    partition values proves no entry in the manifest can match — the
    whole manifest avro is then never read, so driver metadata work
    scales with MATCHING manifests, not total manifests.  Bounds are
    in the transform's result type; bucket prunes equality/in,
    monotonic transforms prune ranges.  Missing summaries keep.
    ``spec_fields`` must be THE MANIFEST'S OWN spec (resolved from its
    partition_spec_id — summaries under an evolved spec are ordered
    and valued differently); None keeps."""
    summaries = mlist_row.get("partitions")
    if not summaries or not spec_fields:
        return True
    if not prenormalized:
        predicate = normalize_predicate_iceberg(predicate, ctx)
    types_by_id = ctx["types_by_id"]
    terms_by_col: dict[str, list[Term]] = {}
    for t in predicate:
        terms_by_col.setdefault(t[0], []).append(t)
    for i, sf in enumerate(spec_fields):
        if i >= len(summaries):
            break
        s = summaries[i]
        if not isinstance(s, dict):
            continue
        col = ctx["names_by_id"].get(sf["source-id"])
        if col is None or col not in terms_by_col:
            continue
        transform = sf["transform"]
        src_type = types_by_id.get(sf["source-id"])
        # the null signal needs NO bounds and no decodable result type:
        # every Iceberg transform maps null→null (spec §Partition
        # Transforms), so contains_null=False on ANY transform's
        # summary proves no null source values — evaluated before the
        # bounds gates, which would make it unreachable whenever
        # bounds are absent/undecodable
        if transform != "void" and s.get("contains_null") is False:
            if any(op == "is_null" for _, op, _v in terms_by_col[col]):
                return False
        res_type = _transform_result_type(transform, src_type)
        if res_type is None:
            continue
        lo = decode_iceberg_bound(res_type, s.get("lower_bound"))
        hi = decode_iceberg_bound(res_type, s.get("upper_bound"))
        if lo is None and hi is None:
            continue
        bucket = transform.startswith("bucket[")
        for _, op, value in terms_by_col[col]:
            if op in ("is_null", "is_not_null"):
                continue  # is_null handled above; all-null unprovable
            if value is _TS_UNUSABLE:
                continue  # session-tz-dependent term: keep
            if op == "=":
                tv = _apply_transform(transform, src_type, value)
                if tv is not None and _interval_excludes(
                    "=", tv, lo, hi, None, None
                ):
                    return False
            elif op == "in":
                tvs = [
                    _apply_transform(transform, src_type, v) for v in value
                ]
                if all(t is not None for t in tvs) and all(
                    _interval_excludes("=", t, lo, hi, None, None)
                    for t in tvs
                ):
                    return False
            elif not bucket:
                # monotonic: x op v possible only if some transformed
                # partition value satisfies t(x) (op∪=) t(v)
                tv = _apply_transform(transform, src_type, value)
                if tv is None:
                    continue
                if op in ("<", "<=") and lo is not None and _cmp_ready(
                    lo, tv
                ) and lo > tv:
                    return False
                if op in (">", ">=") and hi is not None and _cmp_ready(
                    hi, tv
                ) and hi < tv:
                    return False
    return True


def _coerce_partition(stored, like: list):
    """Partition struct values arrive typed from avro (int/long/str);
    align int-vs-str mismatches against the transform's output type."""
    sample = like[0] if like else None
    try:
        if isinstance(sample, int) and not isinstance(stored, int):
            return int(stored)
        if isinstance(sample, str) and not isinstance(stored, str):
            return str(stored)
        if isinstance(sample, Decimal) and not isinstance(stored, Decimal):
            return Decimal(str(stored))
        if isinstance(sample, _dt.date) and isinstance(stored, int):
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=stored)
    except (ValueError, TypeError, ArithmeticError):
        return None
    return stored
