"""Multimodal column plumbing (SURVEY.md §2 C12).

Pattern for a 100 TB multimodal lake: media lives as an opaque
``binary`` column next to a typed metadata struct; decode / feature
extraction runs as Arrow-batched ``mapInPandas`` (the only sanctioned
Python path in this engine), so each executor core processes whole
record batches and the bytes never leave the executor.

Two tiers:

- REAL decode (``multimodal_decode``): payloads are genuine PNG, JPEG
  (baseline JFIF — huffman entropy decode, dequantize, IDCT), and WAV
  files synthesized deterministically from ``doc_id``, and the
  decoders parse them with pure stdlib (zlib chunk walk + scanline
  unfiltering for PNG; segment walk + canonical huffman + DC-only
  integer reconstruction for JPEG; RIFF parsing for WAV).  Because the
  content patterns are closed-form in doc_id — including the LOSSY
  jpeg round-trip, which for solid blocks is exact integer arithmetic
  — a DuckDB oracle recomputes every decoded stat arithmetically;
  decode correctness is hash-gated like any relational query.
- Declared stub (video, and the legacy ``extract_features`` path):
  mp4 needs a codec stack this container doesn't ship, so video rows
  flow through with ``decoded = false`` and null features — the gated
  escape hatch is part of the schema, not an exception.  (JPEG was in
  this tier until r4; its baseline decoder below moved it to the real
  tier.)
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)

_MODALITIES = ["image", "audio", "video"]


def fake_decode(payload: bytes) -> list[float]:
    """Deterministic decode stand-in: 4 'features' from the payload's
    md5 — stable across runs, partitionings, and engines."""
    digest = hashlib.md5(payload).digest()
    return [b / 255.0 for b in digest[:4]]


def as_media_table(docs: DataFrame) -> DataFrame:
    """documents → multimodal table: text bytes stand in for the media
    payload; modality + typed metadata derive deterministically from
    doc_id (JVM-side, no Python)."""
    modality = F.element_at(
        F.array(*[F.lit(m) for m in _MODALITIES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    meta = F.struct(
        F.when(modality == "image", F.lit("png"))
        .when(modality == "audio", F.lit("wav"))
        .otherwise(F.lit("mp4"))
        .alias("format"),
        F.when(modality != "audio", (F.col("doc_id") % 640 + 64).cast("int")).alias("width"),
        F.when(modality != "audio", (F.col("doc_id") % 480 + 48).cast("int")).alias("height"),
        F.when(modality == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
    )
    return docs.select(
        "doc_id",
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        meta.alias("meta"),
    )


# ------------------------------------------------- real synth + decode
#
# Content formulas (shared by the Spark decoder and the DuckDB oracle —
# plans/llm.py multimodal_decode):
#   image:  w = 16 + doc_id % 16,  h = 16 + doc_id % 8, 8-bit grayscale
#           pixel(x, y) = (x*7 + y*13 + doc_id) % 256
#   audio:  sr = 8000 + (doc_id % 4) * 4000,  n = 400 + doc_id % 100
#           PCM16 mono sample(i) = ((i*17 + doc_id*31) % 65536) - 32768
#   video:  no codec in this container → empty payload, decoded=false

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_units", T.LongType()),  # pixels | samples
        T.StructField("content_sum", T.LongType()),
        T.StructField("content_min", T.LongType()),
        T.StructField("content_max", T.LongType()),
        T.StructField("n_frames", T.LongType()),  # stills=1, avi=frames
    ]
)


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def synth_png(doc_id: int) -> bytes:
    """Real 8-bit grayscale PNG with the doc_id pixel pattern."""
    w, h = 16 + doc_id % 16, 16 + doc_id % 8
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter type 0 (None) per scanline
        raw.extend((x * 7 + y * 13 + doc_id) % 256 for x in range(w))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def synth_wav(doc_id: int) -> bytes:
    """Real RIFF/WAVE PCM16 mono file with the doc_id sample pattern."""
    sr = 8000 + (doc_id % 4) * 4000
    n = 400 + doc_id % 100
    samples = [((i * 17 + doc_id * 31) % 65536) - 32768 for i in range(n)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()


_PAETH = 4


def _unfilter_scanline(ftype: int, line: bytearray, prev: bytearray, bpp: int) -> bytearray:
    """PNG filter reconstruction, all five filter types (a real decoder
    must handle them even though our encoder emits type 0)."""
    out = bytearray(line)
    n = len(line)
    for i in range(n):
        a = out[i - bpp] if i >= bpp else 0
        b = prev[i] if prev else 0
        c = prev[i - bpp] if (prev and i >= bpp) else 0
        if ftype == 1:
            out[i] = (out[i] + a) & 0xFF
        elif ftype == 2:
            out[i] = (out[i] + b) & 0xFF
        elif ftype == 3:
            out[i] = (out[i] + (a + b) // 2) & 0xFF
        elif ftype == _PAETH:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (out[i] + pred) & 0xFF
    return out


def decode_png(payload: bytes) -> dict:
    """Pure-stdlib PNG decode (8-bit grayscale): chunk walk → IHDR
    dims → inflate IDAT → per-scanline unfilter → pixel stats."""
    assert payload[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos, idat = 8, b""
    w = h = None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
            assert depth == 8 and ctype == 0, "decoder supports 8-bit grayscale"
            # an Adam7-interlaced file would pass the per-field asserts but
            # decode to silently wrong pixel stats — reject it explicitly
            assert interlace == 0, "Adam7 interlace not supported"
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = w
    pixels: list[int] = []
    prev: bytearray = bytearray()
    for y in range(h):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        line = _unfilter_scanline(row[0], bytearray(row[1:]), prev, 1)
        pixels.extend(line)
        prev = line
    return {
        "width": w,
        "height": h,
        "n_units": len(pixels),
        "content_sum": sum(pixels),
        "content_min": min(pixels),
        "content_max": max(pixels),
    }


def decode_wav(payload: bytes) -> dict:
    """Pure-stdlib WAV decode via the ``wave`` RIFF parser → PCM16
    sample stats."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        sr = wf.getframerate()
        n = wf.getnframes()
        assert wf.getnchannels() == 1 and wf.getsampwidth() == 2
        samples = struct.unpack(f"<{n}h", wf.readframes(n))
    return {
        "sample_rate": sr,
        "n_units": n,
        "content_sum": sum(samples),
        "content_min": min(samples),
        "content_max": max(samples),
    }


def synthesize_media(docs: DataFrame) -> DataFrame:
    """documents → multimodal table with REAL payload bytes.  Runs as
    Arrow-batched mapInPandas: synthesis is the ingest boundary (the
    one place bytes are born in Python); everything downstream treats
    payload as an opaque binary column."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def _fmt(d: int, m: str) -> str:
            if m == "image":
                # image rows alternate codecs: d%3==0, so d%6 is 0 or 3
                return "png" if d % 6 == 0 else "jpeg"
            if m == "audio":
                return "wav"
            # video rows alternate: d%3==2, so d%6 is 2 (avi) or 5
            # (mp4) — both REAL MJPEG decodes since r6; only the
            # container walk differs (RIFF vs ISO-BMFF)
            return "avi" if d % 6 == 2 else "mp4"

        _SYNTH = {
            "png": synth_png,
            "jpeg": synth_jpeg,
            "wav": synth_wav,
            "avi": synth_avi,
            "mp4": synth_mp4,
        }

        for pdf in batches:
            ids = pdf["doc_id"]
            mods = ids.map(lambda d: _MODALITIES[d % 3])
            fmts = [_fmt(d, m) for d, m in zip(ids, mods)]
            payloads = [
                _SYNTH[f](d) if f in _SYNTH else b"" for d, f in zip(ids, fmts)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "modality": mods,
                    "fmt": fmts,
                    "payload": payloads,
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("modality", T.StringType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return docs.select("doc_id").mapInPandas(_synth, schema=schema)


def decode_media_row(payload: bytes, fmt: str) -> dict | None:
    """Real decoder entry point: png/jpeg/wav/avi/mp4 parse with
    stdlib; an unrecognized format returns None → decoded=false."""
    if fmt == "png":
        return {**decode_png(payload), "n_frames": 1}
    if fmt == "jpeg":
        return {**decode_jpeg(payload), "n_frames": 1}
    if fmt == "wav":
        return decode_wav(payload)
    if fmt == "avi":
        return decode_avi(payload)
    if fmt == "mp4":
        return decode_mp4(payload)
    return None


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode of the binary payload column."""

    _int_fields = [
        ("width", "Int32"),
        ("height", "Int32"),
        ("sample_rate", "Int32"),
        ("n_units", "Int64"),
        ("content_sum", "Int64"),
        ("content_min", "Int64"),
        ("content_max", "Int64"),
        ("n_frames", "Int64"),
    ]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                decode_media_row(p, f) for p, f in zip(pdf["payload"], pdf["fmt"])
            ]
            out = {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "fmt": pdf["fmt"],
                "decoded": pd.array([d is not None for d in decoded], dtype="boolean"),
            }
            for name, dtype in _int_fields:
                out[name] = pd.array(
                    [d.get(name) if d else None for d in decoded], dtype=dtype
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=DECODE_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payloads.
    Each pandas batch is one Arrow record batch per partition slice —
    the shape a real decoder (resize / frame-sample / fft) plugs into."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "checksum": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                    "feature": payloads.map(fake_decode),
                }
            )

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


# ------------------------------------------------- baseline JPEG codec
#
# Pure-stdlib baseline JFIF (SOF0) grayscale codec: DQT/SOF0/DHT/SOS
# parsing, canonical huffman entropy coding with byte unstuffing, and
# dequantize+IDCT reconstruction.  Tables are the JPEG spec's Annex K
# examples (public standard).  Synthetic payloads are solid-shade 8×8
# blocks, whose lossy round-trip is CLOSED-FORM integer arithmetic
# (constant block → DC-only: decoded pixel = clamp(iround(dc·Q₀₀/8)+128))
# — so the DuckDB oracle replays real lossy decode results exactly,
# the same content-gating pattern as the PNG/WAV decoders above.
# The general path (float IDCT, AC runs) exists and is exercised by the
# gradient round-trip unit test; only solid blocks flow through the
# gated key, because only they are engine-exact by construction.

_JPEG_QTBL = [  # Annex K luminance, zigzag order NOT applied (natural order)
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K huffman specs: (BITS counts per code length 1..16, HUFFVAL)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical codes: symbol → (code, length)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol."""
    return {(ln, c): s for s, (c, ln) in _huff_codes(bits, vals).items()}


def _iround_away(num: int, den: int) -> int:
    """round(num/den) half away from zero, exact integer arithmetic —
    the rounding contract shared by encoder, decoder DC path, and the
    SQL oracle."""
    a = abs(num)
    q = (2 * a + den) // (2 * den)
    return q if num >= 0 else -q


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + appended bits for a coefficient."""
    if v == 0:
        return 0, 0
    cat = abs(v).bit_length()
    bits = v if v >= 0 else v + (1 << cat) - 1
    return cat, bits


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def jpeg_block_value(doc_id: int, bx: int, by: int, frame: int = 0) -> int:
    """The synthetic per-block shade (shared with the SQL oracle).
    ``frame`` varies the content per MJPEG frame; frame 0 reproduces
    the still-jpeg formula exactly."""
    return (doc_id * 7 + frame * 29 + bx * 11 + by * 23) % 256


def synth_jpeg(doc_id: int, blocks: int = 2, frame: int = 0) -> bytes:
    """Real baseline JFIF grayscale file: ``blocks×blocks`` solid-shade
    8×8 blocks, spec huffman tables, byte-stuffed entropy stream.
    ``frame`` shifts the block shades for MJPEG frames."""
    size = blocks * 8
    dqt = bytes([0x00]) + bytes(_JPEG_QTBL[_ZIGZAG[i]] for i in range(64))
    sof = struct.pack(">BHHB", 8, size, size, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)
    q00 = _JPEG_QTBL[0]
    w = _BitWriter()
    prev = 0
    for by in range(blocks):
        for bx in range(blocks):
            v = jpeg_block_value(doc_id, bx, by, frame)
            dc_q = _iround_away(8 * (v - 128), q00)
            cat, bits = _magnitude(dc_q - prev)
            code, ln = dc_codes[cat]
            w.write(code, ln)
            if cat:
                w.write(bits, cat)
            prev = dc_q
            code, ln = ac_codes[0x00]  # EOB: all AC zero
            w.write(code, ln)
    return (
        b"\xff\xd8"  # SOI
        + _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + _seg(0xDB, dqt)
        + _seg(0xC0, sof)
        + _seg(0xC4, dht_dc)
        + _seg(0xC4, dht_ac)
        + _seg(0xDA, sos)
        + w.flush()
        + b"\xff\xd9"  # EOI
    )


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        # typed corruption failure, not a raw IndexError (ADVICE r4):
        # decode_jpeg's contract is "raise ValueError, never wrong stats"
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy data")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy data after 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # unstuff
            else:
                raise ValueError(f"unexpected marker 0xFF{nxt:02x} in entropy data")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


def _huff_read(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | r.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")


def _idct_2d(coef: list[int]) -> list[float]:
    """Reference float IDCT (general path; the DC-only path below is
    integer-exact and used when every AC coefficient is zero)."""
    import math

    out = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    cu = (1 / math.sqrt(2)) if u == 0 else 1.0
                    cv = (1 / math.sqrt(2)) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[v * 8 + u]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out.append(s / 4)
    return out


def decode_jpeg(payload: bytes) -> dict:
    """Pure-stdlib baseline JPEG decode: segment walk → DQT/SOF0/DHT →
    huffman entropy decode (byte unstuffing, DC prediction, AC run
    lengths, EOB/ZRL) → dequantize → IDCT → clamp → pixel stats."""
    assert payload[:2] == b"\xff\xd8", "not a JPEG"
    pos = 2
    qtbl: dict[int, list[int]] = {}
    dc_tbl: dict[int, dict] = {}
    ac_tbl: dict[int, dict] = {}
    w = h = None
    comp_q = comp_dc = comp_ac = 0
    data = b""
    while pos < len(payload):
        assert payload[pos] == 0xFF, "marker desync"
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                assert pq == 0, "8-bit quant tables only"
                zz = list(body[i + 1 : i + 65])
                nat = [0] * 64
                for k in range(64):
                    nat[_ZIGZAG[k]] = zz[k]
                qtbl[tq] = nat
                i += 65
        elif marker == 0xC0:
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            assert precision == 8 and ncomp == 1, "baseline grayscale only"
            assert body[7] == 0x11, "no subsampling for 1 component"
            comp_q = body[8]
        elif marker in (0xC1, 0xC2, 0xC3):
            raise AssertionError("baseline SOF0 only")
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nvals = sum(bits)
                vals = list(body[i + 17 : i + 17 + nvals])
                (dc_tbl if tc == 0 else ac_tbl)[th] = _huff_decode_table(bits, vals)
                i += 17 + nvals
        elif marker == 0xDA:
            comp_dc = body[2] >> 4
            comp_ac = body[2] & 0xF
            data = payload[pos + 2 + seglen :]
            pos = len(payload)  # entropy data runs to EOI
            continue
        pos += 2 + seglen
    assert w and h and data, "truncated JPEG"
    q = qtbl[comp_q]
    r = _BitReader(data)
    bx_n, by_n = (w + 7) // 8, (h + 7) // 8
    pixels = [[0] * (bx_n * 8) for _ in range(by_n * 8)]
    prev_dc = 0
    for by in range(by_n):
        for bx in range(bx_n):
            zz = [0] * 64
            cat = _huff_read(r, dc_tbl[comp_dc])
            prev_dc += _extend(r.read_bits(cat), cat)
            zz[0] = prev_dc
            k = 1
            while k < 64:
                sym = _huff_read(r, ac_tbl[comp_ac])
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                k += sym >> 4
                size = sym & 0xF
                zz[k] = _extend(r.read_bits(size), size)
                k += 1
            coef = [0] * 64
            for i in range(64):
                coef[_ZIGZAG[i]] = zz[i] * q[_ZIGZAG[i]]
            if all(c == 0 for c in coef[1:]):
                # DC-only: integer-exact reconstruction (the path the
                # closed-form oracle replays)
                val = max(0, min(255, _iround_away(coef[0], 8) + 128))
                block = [val] * 64
            else:
                import math

                # single half-up rounding — a round(f*2)/2 double-round
                # here shifted values near .28 up a full level
                block = [
                    max(0, min(255, int(math.floor(f + 0.5)) + 128))
                    for f in _idct_2d(coef)
                ]
            for yy in range(8):
                for xx in range(8):
                    pixels[by * 8 + yy][bx * 8 + xx] = block[yy * 8 + xx]
    flat = [pixels[y][x] for y in range(h) for x in range(w)]
    return {
        "width": w,
        "height": h,
        "n_units": len(flat),
        "content_sum": sum(flat),
        "content_min": min(flat),
        "content_max": max(flat),
    }


# ------------------------------------------------- MJPEG-in-AVI codec
#
# VERDICT r4 item 9 ("smallest honest video step"): a real RIFF/AVI
# container whose '00dc' video chunks are complete baseline JFIF frames
# — so the video decode path reuses the JPEG machinery above frame by
# frame, and the per-frame solid-block content keeps the lossy
# round-trip closed-form for the SQL oracle (same gating pattern as
# C24's still formats).  mp4/H.264 stays the one honestly gated codec.

AVI_FRAMES_FORMULA = "2 + doc_id % 3"  # shared with the oracle


def avi_frame_count(doc_id: int) -> int:
    return 2 + doc_id % 3


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    """RIFF chunk with required even-byte padding (size excludes pad)."""
    pad = b"\x00" if len(body) % 2 else b""
    return tag + struct.pack("<I", len(body)) + body + pad


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def synth_avi(doc_id: int, blocks: int = 2) -> bytes:
    """Real AVI file: avih/strh/strf headers (fccHandler 'MJPG'), a
    movi LIST of one '00dc' JPEG per frame, and an idx1 index — the
    layout every MJPEG camera writes."""
    size = blocks * 8
    n_frames = avi_frame_count(doc_id)
    frames = [synth_jpeg(doc_id, blocks=blocks, frame=f) for f in range(n_frames)]
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        40_000,          # dwMicroSecPerFrame (25 fps)
        0, 0,
        0x10,            # AVIF_HASINDEX
        n_frames, 0,
        1,               # streams
        0, size, size,
        0, 0, 0, 0,
    )
    strh = (
        b"vidsMJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n_frames, 0, 0, 0)
        + struct.pack("<hhhh", 0, 0, size, size)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, size, size, 1, 24, b"MJPG", size * size * 3, 0, 0, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi_body = b"movi"
    offsets = []
    for fr in frames:
        offsets.append(len(movi_body))  # offset of the 00dc tag within movi
        movi_body += _riff_chunk(b"00dc", fr)
    movi = _riff_chunk(b"LIST", movi_body)
    idx1 = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(fr))
        for off, fr in zip(offsets, frames)
    )
    body = b"AVI " + hdrl + movi + _riff_chunk(b"idx1", idx1)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> dict:
    """Pure-stdlib MJPEG/AVI decode: RIFF walk → movi LIST → one
    ``decode_jpeg`` per '00dc' chunk → stats over ALL frames' pixels.
    The stream header's dwLength is cross-checked against the frames
    actually present (container-consistency contract); corruption
    raises ValueError, never returns wrong stats."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI file")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if 8 + riff_size > len(payload):
        raise ValueError("truncated RIFF payload")
    declared_frames = None
    frames: list[dict] = []

    def walk(data: bytes) -> None:
        nonlocal declared_frames
        pos = 0
        while pos + 8 <= len(data):
            tag = data[pos : pos + 4]
            (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body = data[pos + 8 : pos + 8 + size]
            if len(body) != size:
                raise ValueError(f"truncated chunk {tag!r}")
            if tag == b"LIST":
                walk(body[4:])  # skip the list type, recurse into children
            elif tag == b"strh" and body[:4] == b"vids":
                if body[4:8] != b"MJPG":
                    raise ValueError(f"unsupported video codec {body[4:8]!r}")
                # strh layout: fccType(4) fccHandler(4) dwFlags(4)
                # wPriority(2) wLanguage(2) dwInitialFrames(4) dwScale(4)
                # dwRate(4) dwStart(4) dwLength(4 @ offset 32)
                (declared_frames,) = struct.unpack("<I", body[32:36])
            elif tag == b"00dc":
                frames.append(decode_jpeg(body))
            pos += 8 + size + (size % 2)  # even padding

    walk(payload[12 : 8 + riff_size])
    if not frames:
        raise ValueError("AVI contains no video frames")
    if declared_frames is not None and declared_frames != len(frames):
        raise ValueError(
            f"stream header declares {declared_frames} frames, movi has {len(frames)}"
        )
    widths = {f["width"] for f in frames}
    heights = {f["height"] for f in frames}
    if len(widths) != 1 or len(heights) != 1:
        raise ValueError("inconsistent frame dimensions")
    return {
        "width": widths.pop(),
        "height": heights.pop(),
        "n_frames": len(frames),
        "n_units": sum(f["n_units"] for f in frames),
        "content_sum": sum(f["content_sum"] for f in frames),
        "content_min": min(f["content_min"] for f in frames),
        "content_max": max(f["content_max"] for f in frames),
    }


# ------------------------------------------------------------ mp4
# ISO-BMFF (MP4) container with an MJPEG ('jpeg' VisualSampleEntry)
# video track — r6, VERDICT r5 item 4: the same move AVI made in r5
# (container walk feeding the existing JPEG machinery), now for the
# box-tree layout.  H.264/avc1 stays declared out-of-scope: the walk
# REFUSES any non-jpeg sample entry rather than mis-decoding.
# All multi-byte integers big-endian per the spec (RIFF is little).


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def _full(tag: bytes, body: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _box(tag, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + body)


def synth_mp4(doc_id: int, blocks: int = 2) -> bytes:
    """Real MP4: ftyp + mdat (concatenated JPEG samples) + moov with a
    complete stbl (stsd 'jpeg' entry, stts/stsc/stsz/stco) — the
    self-contained progressive-download layout.  Frame content shares
    the AVI cadence/formulas so one closed-form oracle covers both."""
    size = blocks * 8
    n_frames = avi_frame_count(doc_id)
    frames = [synth_jpeg(doc_id, blocks=blocks, frame=f) for f in range(n_frames)]
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")
    mdat = _box(b"mdat", b"".join(frames))
    first_off = len(ftyp) + 8  # absolute offset of sample 1

    mvhd = _full(
        b"mvhd",
        struct.pack(">IIII", 0, 0, 25, n_frames)  # created/modified/timescale/duration
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate/volume/reserved
        + b"\x00" * 8
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = _full(
        b"tkhd",
        struct.pack(">IIIII", 0, 0, 1, 0, n_frames)  # created/modified/id/rsvd/duration
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer/group/volume/reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", size << 16, size << 16),  # width/height 16.16
        flags=3,
    )
    mdhd = _full(
        b"mdhd", struct.pack(">IIIIHH", 0, 0, 25, n_frames, 0x55C4, 0)
    )
    hdlr = _full(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"mjpeg\x00")
    stsd_entry = (
        struct.pack(">I", 86)
        + b"jpeg"
        + b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # pre_defined / reserved
        + struct.pack(">HH", size, size)
        + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)
    )
    stbl = (
        _full(b"stsd", struct.pack(">I", 1) + stsd_entry)
        + _full(b"stts", struct.pack(">III", 1, n_frames, 1))
        + _full(b"stsc", struct.pack(">IIII", 1, 1, n_frames, 1))
        + _full(
            b"stsz",
            struct.pack(">II", 0, n_frames)
            + b"".join(struct.pack(">I", len(f)) for f in frames),
        )
        + _full(b"stco", struct.pack(">II", 1, first_off))
    )
    dinf = _box(
        b"dinf", _full(b"dref", struct.pack(">I", 1) + _full(b"url ", b"", flags=1))
    )
    minf = _box(
        b"minf",
        _full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
        + dinf
        + _box(b"stbl", stbl),
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _walk_boxes(data: bytes, pos: int = 0, end: int | None = None):
    """Yield (tag, body_start, body_end) over a box sequence, bounds-
    checked; raises ValueError on truncation — never yields a partial
    box."""
    end = len(data) if end is None else end
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(f"truncated box {tag!r}")
        yield tag, body, pos + size
        pos += size


def _find_box(data: bytes, start: int, end: int, tag: bytes) -> tuple[int, int]:
    for t, b, e in _walk_boxes(data, start, end):
        if t == tag:
            return b, e
    raise ValueError(f"missing {tag!r} box")


def decode_mp4(payload: bytes) -> dict:
    """Pure-stdlib MP4/MJPEG decode: box walk → first 'vide' trak →
    stbl sample tables (stts/stsc/stsz/stco|co64) → absolute sample
    offsets → one ``decode_jpeg`` per sample.  Container-consistency
    contract mirrors decode_avi: stts total must equal the stsz sample
    count, the stsd entry must be 'jpeg' (avc1/h264 refuse loudly),
    and the stsd dimensions must match what the frames decode to."""
    tops = list(_walk_boxes(payload))
    if not tops or tops[0][0] != b"ftyp":
        raise ValueError("not an MP4 file (no leading ftyp)")
    moov = [(b, e) for t, b, e in tops if t == b"moov"]
    if not moov:
        raise ValueError("missing moov box")
    moov_b, moov_e = moov[0]

    video_stbl = None
    for t, b, e in _walk_boxes(payload, moov_b, moov_e):
        if t != b"trak":
            continue
        mdia_b, mdia_e = _find_box(payload, b, e, b"mdia")
        hdlr_b, _ = _find_box(payload, mdia_b, mdia_e, b"hdlr")
        if payload[hdlr_b + 8 : hdlr_b + 12] != b"vide":
            continue
        minf_b, minf_e = _find_box(payload, mdia_b, mdia_e, b"minf")
        video_stbl = _find_box(payload, minf_b, minf_e, b"stbl")
        break
    if video_stbl is None:
        raise ValueError("no video track")
    stbl_b, stbl_e = video_stbl

    boxes = {t: (b, e) for t, b, e in _walk_boxes(payload, stbl_b, stbl_e)}
    for req in (b"stsd", b"stts", b"stsc", b"stsz"):
        if req not in boxes:
            raise ValueError(f"missing {req!r} box")
    if b"stco" not in boxes and b"co64" not in boxes:
        raise ValueError("missing chunk-offset box (stco/co64)")

    sd_b, _ = boxes[b"stsd"]
    fmt = payload[sd_b + 12 : sd_b + 16]
    if fmt != b"jpeg":
        raise ValueError(f"unsupported mp4 codec {fmt!r} (only 'jpeg' MJPEG)")
    entry = sd_b + 8  # first sample entry start
    declared_w, declared_h = struct.unpack(
        ">HH", payload[entry + 32 : entry + 36]
    )

    tt_b, _ = boxes[b"stts"]
    (n_tt,) = struct.unpack(">I", payload[tt_b + 4 : tt_b + 8])
    stts_total = sum(
        struct.unpack(">I", payload[tt_b + 8 + i * 8 : tt_b + 12 + i * 8])[0]
        for i in range(n_tt)
    )

    sz_b, _ = boxes[b"stsz"]
    uniform, n_samples = struct.unpack(">II", payload[sz_b + 4 : sz_b + 12])
    if uniform:
        sizes = [uniform] * n_samples
    else:
        sizes = [
            struct.unpack(">I", payload[sz_b + 12 + i * 4 : sz_b + 16 + i * 4])[0]
            for i in range(n_samples)
        ]
    if stts_total != n_samples:
        raise ValueError(
            f"stts declares {stts_total} samples, stsz has {n_samples}"
        )
    if not n_samples:
        raise ValueError("mp4 contains no video samples")

    if b"stco" in boxes:
        co_b, _ = boxes[b"stco"]
        (n_ch,) = struct.unpack(">I", payload[co_b + 4 : co_b + 8])
        chunk_offs = [
            struct.unpack(">I", payload[co_b + 8 + i * 4 : co_b + 12 + i * 4])[0]
            for i in range(n_ch)
        ]
    else:
        co_b, _ = boxes[b"co64"]
        (n_ch,) = struct.unpack(">I", payload[co_b + 4 : co_b + 8])
        chunk_offs = [
            struct.unpack(">Q", payload[co_b + 8 + i * 8 : co_b + 16 + i * 8])[0]
            for i in range(n_ch)
        ]

    sc_b, _ = boxes[b"stsc"]
    (n_sc,) = struct.unpack(">I", payload[sc_b + 4 : sc_b + 8])
    sc = [
        struct.unpack(">III", payload[sc_b + 8 + i * 12 : sc_b + 20 + i * 12])
        for i in range(n_sc)
    ]
    # expand sample → absolute offset via chunk runs
    offsets: list[int] = []
    si = 0
    for i, (first_chunk, per_chunk, _desc) in enumerate(sc):
        last_chunk = sc[i + 1][0] - 1 if i + 1 < len(sc) else len(chunk_offs)
        for chunk in range(first_chunk, last_chunk + 1):
            off = chunk_offs[chunk - 1]
            for _ in range(per_chunk):
                if si >= n_samples:
                    break
                offsets.append(off)
                off += sizes[si]
                si += 1
    if si != n_samples:
        raise ValueError(
            f"sample-to-chunk tables place {si} of {n_samples} samples"
        )

    frames = []
    for off, size in zip(offsets, sizes):
        if off + size > len(payload):
            raise ValueError("sample extends past end of file")
        frames.append(decode_jpeg(payload[off : off + size]))
    widths = {f["width"] for f in frames}
    heights = {f["height"] for f in frames}
    if len(widths) != 1 or len(heights) != 1:
        raise ValueError("inconsistent frame dimensions")
    w, h = widths.pop(), heights.pop()
    if (declared_w, declared_h) != (w, h):
        raise ValueError(
            f"stsd declares {declared_w}x{declared_h}, frames decode {w}x{h}"
        )
    return {
        "width": w,
        "height": h,
        "n_frames": len(frames),
        "n_units": sum(f["n_units"] for f in frames),
        "content_sum": sum(f["content_sum"] for f in frames),
        "content_min": min(f["content_min"] for f in frames),
        "content_max": max(f["content_max"] for f in frames),
    }
