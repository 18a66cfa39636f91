"""Pure-Python avro object container reader and writer for Iceberg
manifest files and manifest lists.

Manifests are metadata: O(#files) pointer rows the driver walks before
any data read.  Decoding the container in Python costs ~1 ms per small
manifest with no JVM round-trip, so a walk over thousands of manifests
stays I/O-bound.

Scope: the avro 1.x object container file format (spec §Object
Container Files) with every codec the spec defines.  ``_CODECS`` maps
each codec name to its block decompressor: ``null``, ``deflate``
(zlib, raw), ``bzip2`` (bz2), ``xz`` (lzma), ``snappy`` (pyarrow, plus
avro's per-block CRC32) and ``zstandard`` (pyarrow's streaming reader).
Every decompressor error surfaces as ``AvroReadError``: a malformed
container is loud, never short.

Output convention: records → dicts, unions → the unwrapped value,
bytes/fixed → bytes, enum → its symbol string, string → str,
int/long → int, float → the exact float32 value as a Python float.

The binary encoding implemented here is the published avro spec
(zigzag varints, length-prefixed bytes, block-encoded arrays/maps
where a NEGATIVE count means ``abs(count)`` items preceded by a byte
size); no code is derived from any existing avro implementation.
"""

from __future__ import annotations

import bz2
import json
import lzma
import struct
import zlib

import pyarrow as pa

_MAGIC = b"Obj\x01"


class AvroReadError(Exception):
    pass


def _snappy_block(block: bytes) -> bytes:
    """One avro snappy block: raw snappy bytes, then a 4-byte
    BIG-ENDIAN crc32 of the uncompressed data (spec §Required Codecs).
    The raw stream opens with a base-128 uvarint of the uncompressed
    length; pyarrow needs that size up front, and a preamble larger
    than the body can expand to is refused before anything is
    allocated."""
    if len(block) < 5:
        raise AvroReadError("snappy block too short")
    body, crc = block[:-4], block[-4:]
    want, shift = 0, 0
    for i, byte in enumerate(body[:5]):
        want |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    else:
        # the format caps the length at 32 bits: at most 5 bytes
        raise AvroReadError("snappy length preamble truncated or too long")
    # every snappy element emits at most 64 bytes per 3 bytes read
    if want > 22 * (len(body) - i - 1):
        raise AvroReadError(
            f"snappy preamble claims {want} bytes, more than a "
            f"{len(body)}-byte block can expand to"
        )
    out = pa.decompress(body, decompressed_size=want, codec="snappy", asbytes=True)
    if struct.pack(">I", zlib.crc32(out) & 0xFFFFFFFF) != crc:
        raise AvroReadError("snappy block crc32 mismatch")
    return out


def _zstd_block(block: bytes) -> bytes:
    # avro-java's zstd frames carry no content size, which the
    # one-shot pa.decompress needs; the streaming reader does not
    return pa.input_stream(pa.py_buffer(block), compression="zstd").read()


_CODECS = {
    "null": bytes,
    "deflate": lambda block: zlib.decompress(block, -15),
    "bzip2": bz2.decompress,
    "xz": lzma.decompress,
    "snappy": _snappy_block,
    "zstandard": _zstd_block,
}

_DECOMPRESS_ERRORS = (
    zlib.error,
    lzma.LZMAError,
    OSError,
    ValueError,
    pa.ArrowException,
)


class _Cur:
    """Byte cursor over one decompressed block (or the header)."""

    __slots__ = ("b", "i")

    def __init__(self, b: bytes, i: int = 0) -> None:
        self.b = b
        self.i = i

    def take(self, n: int) -> bytes:
        # n < 0 would move the cursor BACKWARDS — a malformed block
        # size would then re-read the same bytes forever
        if n < 0:
            raise AvroReadError(f"negative length {n}")
        j = self.i + n
        if j > len(self.b):
            raise AvroReadError("truncated avro data")
        out = self.b[self.i : j]
        self.i = j
        return out

    def read_long(self) -> int:
        """Zigzag varint — the int/long wire form."""
        shift = 0
        acc = 0
        while True:
            if self.i >= len(self.b):
                raise AvroReadError("truncated varint")
            byte = self.b[self.i]
            self.i += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
            if shift > 70:
                raise AvroReadError("varint too long")
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        n = self.read_long()
        if n < 0:
            raise AvroReadError(f"negative bytes length {n}")
        return self.take(n)

    def read_str(self) -> str:
        try:
            return self.read_bytes().decode("utf-8")
        except UnicodeDecodeError as e:
            raise AvroReadError(f"string is not UTF-8: {e}") from None


def _register_names(sch, named: dict) -> None:
    if isinstance(sch, dict) and sch.get("type") in ("record", "enum", "fixed"):
        named[sch["name"]] = sch
        for f in sch.get("fields", []):
            _register_names(f["type"], named)
    elif isinstance(sch, dict) and sch.get("type") == "array":
        _register_names(sch["items"], named)
    elif isinstance(sch, dict) and sch.get("type") == "map":
        _register_names(sch["values"], named)
    elif isinstance(sch, list):
        for b in sch:
            _register_names(b, named)


def _decode(sch, cur: _Cur, named: dict):
    if isinstance(sch, list):  # union: branch index, then the value
        idx = cur.read_long()
        if not 0 <= idx < len(sch):
            raise AvroReadError(f"union index {idx} out of range for {sch!r}")
        return _decode(sch[idx], cur, named)
    if isinstance(sch, str):
        t = sch
        if t == "null":
            return None
        if t == "boolean":
            return cur.take(1) != b"\x00"
        if t in ("int", "long"):
            return cur.read_long()
        if t == "float":
            return struct.unpack("<f", cur.take(4))[0]
        if t == "double":
            return struct.unpack("<d", cur.take(8))[0]
        if t == "bytes":
            return cur.read_bytes()
        if t == "string":
            return cur.read_str()
        if t in named:
            return _decode(named[t], cur, named)
        raise AvroReadError(f"unknown avro type {t!r}")
    t = sch.get("type")
    if t == "record":
        return {f["name"]: _decode(f["type"], cur, named) for f in sch["fields"]}
    if t == "array":
        out = []
        while True:
            n = cur.read_long()
            if n == 0:
                return out
            if n < 0:
                cur.read_long()  # byte size of the block — unused
                n = -n
            for _ in range(n):
                out.append(_decode(sch["items"], cur, named))
    if t == "map":
        out = {}
        while True:
            n = cur.read_long()
            if n == 0:
                return out
            if n < 0:
                cur.read_long()
                n = -n
            for _ in range(n):
                k = cur.read_str()
                out[k] = _decode(sch["values"], cur, named)
    if t == "enum":
        idx = cur.read_long()
        syms = sch["symbols"]
        if not 0 <= idx < len(syms):
            raise AvroReadError(f"enum index {idx} out of range")
        return syms[idx]
    if t == "fixed":
        return cur.take(int(sch["size"]))
    if isinstance(t, (list, dict)):
        return _decode(t, cur, named)
    if isinstance(t, str):
        # dict-wrapped primitive — real Iceberg writers annotate e.g.
        # {"type": "long", "logicalType": "timestamp-micros"}; the
        # wire format is the underlying primitive's
        return _decode(t, cur, named)
    raise AvroReadError(f"unknown avro schema node {sch!r}")


def read_container(path: str) -> list[dict]:
    """All records of one avro object container file as plain Python
    values (see module docstring for the shape convention)."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] != _MAGIC:
        raise AvroReadError(f"{path}: not an avro container (bad magic)")
    cur = _Cur(data, 4)
    meta: dict[str, bytes] = {}
    while True:
        n = cur.read_long()
        if n == 0:
            break
        if n < 0:
            cur.read_long()
            n = -n
        for _ in range(n):
            k = cur.read_str()
            meta[k] = cur.read_bytes()
    codec = meta.get("avro.codec", b"null").decode()
    decompress = _CODECS.get(codec)
    if decompress is None:
        raise AvroReadError(f"{path}: unknown avro codec {codec!r}")
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    named: dict[str, dict] = {}
    _register_names(schema, named)
    sync = cur.take(16)

    out: list[dict] = []
    while cur.i < len(cur.b):
        count = cur.read_long()
        size = cur.read_long()
        if count < 0:
            raise AvroReadError(f"{path}: negative block count {count}")
        payload = cur.take(size)
        try:
            payload = decompress(payload)
        except AvroReadError as e:
            raise AvroReadError(f"{path}: {e}") from None
        except _DECOMPRESS_ERRORS as e:
            raise AvroReadError(f"{path}: corrupt {codec} block: {e}") from None
        bcur = _Cur(payload)
        for _ in range(count):
            out.append(_decode(schema, bcur, named))
        if bcur.i != len(payload):
            raise AvroReadError(
                f"{path}: block decoded {bcur.i} of {len(payload)} bytes"
            )
        if cur.take(16) != sync:
            raise AvroReadError(f"{path}: sync marker mismatch")
    return out


# ------------------------------------------------------------ writer


class AvroWriteError(Exception):
    pass


def _zigzag(n: int) -> bytes:
    """Zigzag varint — the int/long wire form (encoder twin of
    _Cur.read_long)."""
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _union_branch(sch: list, v, named: dict) -> int:
    """Branch index for a union VALUE, by type: the value-typed branch
    first, else the first non-null branch; None takes the null
    branch."""
    if v is None:
        for i, b in enumerate(sch):
            if b == "null":
                return i
        raise AvroWriteError(f"None for non-nullable union {sch!r}")

    def resolved(b):
        return named.get(b, b) if isinstance(b, str) else b

    def matches(b) -> bool:
        r = resolved(b)
        bt = r if isinstance(r, str) else r.get("type")
        if isinstance(v, bool):
            return bt == "boolean"
        if isinstance(v, (bytes, bytearray)):
            return bt in ("bytes", "fixed")
        if isinstance(v, str):
            return bt == "string" or (
                bt == "enum" and v in r.get("symbols", [])
            )
        if isinstance(v, int):
            return bt in ("int", "long")
        if isinstance(v, float):
            return bt in ("float", "double")
        if isinstance(v, dict):
            return bt in ("record", "map")
        if isinstance(v, (list, tuple)):
            return bt == "array"
        return False

    for i, b in enumerate(sch):
        if b != "null" and matches(b):
            return i
    for i, b in enumerate(sch):
        if b != "null":
            return i
    raise AvroWriteError(f"no branch for {type(v)} in {sch!r}")


def _encode(sch, v, named: dict, out: bytearray) -> None:
    if isinstance(sch, list):  # union: branch index, then the value
        idx = _union_branch(sch, v, named)
        out += _zigzag(idx)
        return _encode(sch[idx], v, named, out)
    if isinstance(sch, str):
        t = sch
        if t == "null":
            if v is not None:
                raise AvroWriteError(f"non-null {v!r} for null type")
            return
        if t == "boolean":
            out.append(1 if v else 0)
            return
        if t in ("int", "long"):
            out += _zigzag(int(v))
            return
        if t == "float":
            out += struct.pack("<f", float(v))
            return
        if t == "double":
            out += struct.pack("<d", float(v))
            return
        if t == "bytes":
            b = bytes(v)
            out += _zigzag(len(b))
            out += b
            return
        if t == "string":
            b = str(v).encode("utf-8")
            out += _zigzag(len(b))
            out += b
            return
        if t in named:
            return _encode(named[t], v, named, out)
        raise AvroWriteError(f"unknown avro type {t!r}")
    t = sch.get("type")
    if t == "record":
        d = v or {}
        for f in sch["fields"]:
            try:
                _encode(f["type"], d.get(f["name"]), named, out)
            except AvroWriteError as e:
                raise AvroWriteError(f"{sch.get('name')}.{f['name']}: {e}")
        return
    if t == "array":
        items = list(v or [])
        if items:
            out += _zigzag(len(items))
            for x in items:
                _encode(sch["items"], x, named, out)
        out += _zigzag(0)
        return
    if t == "map":
        d = dict(v or {})
        if d:
            out += _zigzag(len(d))
            for k, x in d.items():
                kb = str(k).encode("utf-8")
                out += _zigzag(len(kb))
                out += kb
                _encode(sch["values"], x, named, out)
        out += _zigzag(0)
        return
    if t == "enum":
        try:
            out += _zigzag(sch["symbols"].index(v))
        except ValueError:
            raise AvroWriteError(f"{v!r} not in enum {sch.get('name')}")
        return
    if t == "fixed":
        b = bytes(v)
        if len(b) != int(sch["size"]):
            raise AvroWriteError(
                f"fixed {sch.get('name')} needs {sch['size']} bytes, got {len(b)}"
            )
        out += b
        return
    if isinstance(t, (list, dict)):
        return _encode(t, v, named, out)
    if isinstance(t, str):
        # dict-wrapped primitive (logicalType annotation) — encode as
        # the underlying primitive, the wire form logical types share
        return _encode(t, v, named, out)
    raise AvroWriteError(f"unknown avro schema node {sch!r}")


def write_container(
    path: str,
    schema_json: str,
    records: list[dict],
    codec: str = "deflate",
    block_records: int = 1000,
) -> None:
    """Write one avro object container file in pure Python — the
    encoder twin of read_container, byte-compatible with any avro
    reader (the JVM DataFileReader round-trip is test-pinned).  The
    sync marker derives deterministically from the schema + record
    count, which keeps fixture bytes reproducible run-to-run."""
    import hashlib

    if codec not in ("null", "deflate"):
        raise AvroWriteError(f"unsupported codec {codec!r}")
    schema = json.loads(schema_json)
    named: dict[str, dict] = {}
    _register_names(schema, named)
    sync = hashlib.sha256(
        f"{len(records)}:{schema_json}".encode()
    ).digest()[:16]
    out = bytearray()
    out += _MAGIC
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out += _zigzag(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zigzag(len(kb))
        out += kb
        out += _zigzag(len(v))
        out += v
    out += _zigzag(0)
    out += sync
    for i in range(0, len(records), block_records):
        chunk = records[i : i + block_records]
        body = bytearray()
        for r in chunk:
            _encode(schema, r, named, body)
        payload = bytes(body)
        if codec == "deflate":
            co = zlib.compressobj(wbits=-15)
            payload = co.compress(payload) + co.flush()
        out += _zigzag(len(chunk))
        out += _zigzag(len(payload))
        out += payload
        out += sync
    with open(path, "wb") as f:
        f.write(bytes(out))
