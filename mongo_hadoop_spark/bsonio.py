"""Minimal pure-Python BSON codec + splittable .bson file scanning.

Implements the public BSON spec (bsonspec.org) for the types the reference
round-trips (SURVEY §1.2): double, string, document, array, binary,
ObjectId, bool, UTC datetime (int64 millis), null, regex, int32/int64,
timestamp.  This replaces the reference's dependency on the MongoDB Java
driver's codecs (core/.../io/BSONWritable.java) — no external driver
package exists in this environment, and the engine only needs
encode/decode + document-boundary scanning.

Reference parity:
- ``decode_file_iter`` ↔ BSONFileRecordReader's sequential decode loop
  (core/.../input/BSONFileRecordReader.java:71-225).
- ``find_split_points`` ↔ BSONSplitter's length-header walk that cuts
  splits at document boundaries near a target size
  (core/.../splitter/BSONSplitter.java:222-280); like the reference it
  reads only the 4-byte length prefix per doc, never decoding bodies.
- ``write_splits_sidecar``/``read_splits_sidecar`` ↔ the `.{name}.splits`
  sidecar of `{s: start, l: length}` docs (BSONSplitter.java:291-323).
"""

from __future__ import annotations

import bz2
import datetime as _dt
import gzip
import io
import os
import struct
from dataclasses import dataclass

_UTC = _dt.timezone.utc
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_UTC)


class ObjectId:
    """12-byte BSON ObjectId; compares/hashes by bytes, prints 24-hex."""

    __slots__ = ("raw",)

    def __init__(self, value: bytes | str):
        if isinstance(value, str):
            value = bytes.fromhex(value)
        if len(value) != 12:
            raise ValueError("ObjectId must be 12 bytes")
        self.raw = bytes(value)

    @property
    def hex(self) -> str:
        return self.raw.hex()

    def generation_time(self) -> _dt.datetime:
        secs = struct.unpack(">I", self.raw[:4])[0]
        return _dt.datetime.fromtimestamp(secs, tz=_UTC)

    def __eq__(self, other):
        return isinstance(other, ObjectId) and other.raw == self.raw

    def __lt__(self, other):
        return self.raw < other.raw

    def __hash__(self):
        return hash(self.raw)

    def __repr__(self):
        return f"ObjectId('{self.hex}')"


@dataclass(frozen=True)
class BsonTimestamp:
    """BSON internal timestamp: (epoch seconds, ordinal)."""
    time: int
    inc: int


@dataclass(frozen=True)
class Regex:
    pattern: str
    flags: str = ""


@dataclass(frozen=True)
class Binary:
    data: bytes
    subtype: int = 0


class MinKey:
    def __repr__(self):
        return "MinKey()"


class MaxKey:
    def __repr__(self):
        return "MaxKey()"


# ---------------------------------------------------------------------------
# Encoding
# ---------------------------------------------------------------------------

def _cstring(s: str) -> bytes:
    b = s.encode("utf-8")
    if b"\x00" in b:
        raise ValueError("embedded null in key")
    return b + b"\x00"


def _encode_value(name: str, value) -> bytes:
    key = _cstring(name)
    if isinstance(value, bool):  # before int!
        return b"\x08" + key + (b"\x01" if value else b"\x00")
    if isinstance(value, float):
        return b"\x01" + key + struct.pack("<d", value)
    if isinstance(value, int):
        if -(2**31) <= value < 2**31:
            return b"\x10" + key + struct.pack("<i", value)
        return b"\x12" + key + struct.pack("<q", value)
    if isinstance(value, str):
        b = value.encode("utf-8") + b"\x00"
        return b"\x02" + key + struct.pack("<i", len(b)) + b
    if isinstance(value, dict):
        return b"\x03" + key + encode(value)
    if isinstance(value, (list, tuple)):
        inner = encode({str(i): v for i, v in enumerate(value)})
        return b"\x04" + key + inner
    if isinstance(value, Binary):
        return (b"\x05" + key + struct.pack("<i", len(value.data))
                + bytes([value.subtype]) + value.data)
    if isinstance(value, (bytes, bytearray)):
        return b"\x05" + key + struct.pack("<i", len(value)) + b"\x00" + bytes(value)
    if isinstance(value, ObjectId):
        return b"\x07" + key + value.raw
    if isinstance(value, _dt.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=_UTC)
        # exact integer millis via timedelta — float .timestamp()*1000 can
        # round down a millisecond (e.g. .432 sec → 431.99997 ms)
        delta = value - _EPOCH
        millis = (delta.days * 86_400_000 + delta.seconds * 1000
                  + delta.microseconds // 1000)
        return b"\x09" + key + struct.pack("<q", millis)
    if value is None:
        return b"\x0a" + key
    if isinstance(value, Regex):
        return b"\x0b" + key + _cstring(value.pattern) + _cstring(value.flags)
    if isinstance(value, BsonTimestamp):
        return b"\x11" + key + struct.pack("<II", value.inc, value.time)
    if isinstance(value, MinKey):
        return b"\xff" + key
    if isinstance(value, MaxKey):
        return b"\x7f" + key
    raise TypeError(f"cannot encode {type(value).__name__}")


def encode(doc: dict) -> bytes:
    body = b"".join(_encode_value(k, v) for k, v in doc.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


# ---------------------------------------------------------------------------
# Decoding
# ---------------------------------------------------------------------------

def _read_cstring(data: bytes, pos: int) -> tuple[str, int]:
    end = data.index(b"\x00", pos)
    return data[pos:end].decode("utf-8"), end + 1


def _decode_value(tag: int, data: bytes, pos: int):
    if tag == 0x01:
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if tag == 0x02 or tag == 0x0E:  # string / symbol
        (ln,) = struct.unpack_from("<i", data, pos)
        s = data[pos + 4 : pos + 4 + ln - 1].decode("utf-8")
        return s, pos + 4 + ln
    if tag == 0x03:
        (ln,) = struct.unpack_from("<i", data, pos)
        return decode(data[pos : pos + ln]), pos + ln
    if tag == 0x04:
        (ln,) = struct.unpack_from("<i", data, pos)
        inner = decode(data[pos : pos + ln])
        return [inner[k] for k in inner], pos + ln
    if tag == 0x05:
        (ln,) = struct.unpack_from("<i", data, pos)
        subtype = data[pos + 4]
        raw = data[pos + 5 : pos + 5 + ln]
        return (raw if subtype == 0 else Binary(raw, subtype)), pos + 5 + ln
    if tag == 0x06 or tag == 0x0A:  # undefined / null
        return None, pos
    if tag == 0x07:
        return ObjectId(data[pos : pos + 12]), pos + 12
    if tag == 0x08:
        return data[pos] == 1, pos + 1
    if tag == 0x09:
        (millis,) = struct.unpack_from("<q", data, pos)
        return _EPOCH + _dt.timedelta(milliseconds=millis), pos + 8
    if tag == 0x0B:
        pattern, pos = _read_cstring(data, pos)
        flags, pos = _read_cstring(data, pos)
        return Regex(pattern, flags), pos
    if tag == 0x10:
        return struct.unpack_from("<i", data, pos)[0], pos + 4
    if tag == 0x11:
        inc, time = struct.unpack_from("<II", data, pos)
        return BsonTimestamp(time, inc), pos + 8
    if tag == 0x12:
        return struct.unpack_from("<q", data, pos)[0], pos + 8
    if tag == 0xFF:
        return MinKey(), pos
    if tag == 0x7F:
        return MaxKey(), pos
    raise ValueError(f"unsupported BSON tag 0x{tag:02x}")


def decode(data: bytes) -> dict:
    (total,) = struct.unpack_from("<i", data, 0)
    if total != len(data):
        data = data[:total]
    pos, out = 4, {}
    while True:
        tag = data[pos]
        if tag == 0:
            break
        pos += 1
        name, pos = _read_cstring(data, pos)
        out[name], pos = _decode_value(tag, data, pos)
    return out


def decode_file_iter(fobj: io.BufferedIOBase, start: int = 0, length: int | None = None):
    """Stream documents from a .bson file, optionally within a byte range
    (a split): reads from ``start`` until ``start+length`` (doc boundaries
    guaranteed by the splitter) or EOF."""
    fobj.seek(start)
    limit = None if length is None else start + length
    while True:
        if limit is not None and fobj.tell() >= limit:
            return
        header = fobj.read(4)
        if len(header) < 4:
            return
        (ln,) = struct.unpack("<i", header)
        body = fobj.read(ln - 4)
        if len(body) < ln - 4:
            raise ValueError("truncated BSON document")
        yield decode(header + body)


# ---------------------------------------------------------------------------
# Compression codecs (gzip/bz2 mongodump archives)
#
# Reference parity: BSONFileRecordReader opens the file through the
# configured Hadoop CompressionCodec (BSONFileRecordReader.java:104-112) and
# BSONFileInputFormat refuses to byte-range-split compressed inputs
# (BSONFileInputFormat.java:45-60) — a compressed .bson is one split.
# ---------------------------------------------------------------------------

_CODEC_OPENERS = {".gz": gzip.open, ".bz2": bz2.open}
CODEC_SUFFIXES = {"gzip": ".gz", "bz2": ".bz2"}


def compression_codec(path: str) -> str | None:
    """'gzip' / 'bz2' for codec-suffixed paths, else None."""
    ext = os.path.splitext(path)[1]
    return next((c for c, s in CODEC_SUFFIXES.items() if s == ext), None)


def open_bson(path: str, mode: str = "rb", codec_of: str | None = None):
    """Open a .bson file for binary read/write, transparently decompressing
    / compressing by extension (.bson.gz → gzip, .bson.bz2 → bz2) — the
    extension of ``codec_of`` when given (a temp file for that path)."""
    opener = _CODEC_OPENERS.get(os.path.splitext(codec_of or path)[1], open)
    return opener(path, mode)


def write_bson_file(path: str, docs) -> int:
    """Write documents to a mongorestore-compatible .bson file (compressed
    when the path carries a codec suffix); returns count."""
    n = 0
    with open_bson(path, "wb") as f:
        for d in docs:
            f.write(encode(d))
            n += 1
    return n


# ---------------------------------------------------------------------------
# Split planning over .bson files (BSONSplitter analog, P10)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class FileSplit:
    path: str
    start: int
    length: int | None  # None = to EOF (unsplittable compressed file)


def find_split_points(path: str, target_size: int) -> list[FileSplit]:
    """Walk length headers only (no body decode) and cut splits at the first
    document boundary at/after each multiple of ``target_size``.

    Compressed files are unsplittable (BSONFileInputFormat.java:45-60):
    one whole-file split, decoded sequentially through the codec stream.
    """
    if compression_codec(path):
        return [FileSplit(path, 0, None)]
    size = os.path.getsize(path)
    splits: list[FileSplit] = []
    with open(path, "rb") as f:
        split_start = 0
        pos = 0
        while pos < size:
            f.seek(pos)
            header = f.read(4)
            if len(header) < 4:
                break
            (ln,) = struct.unpack("<i", header)
            if ln < 5:
                raise ValueError(f"corrupt BSON length {ln} at offset {pos}")
            pos += ln
            if pos - split_start >= target_size:
                splits.append(FileSplit(path, split_start, pos - split_start))
                split_start = pos
        if pos > split_start:
            splits.append(FileSplit(path, split_start, pos - split_start))
    return splits


def sidecar_path(path: str) -> str:
    d, name = os.path.split(path)
    return os.path.join(d, f".{name}.splits")


def write_splits_sidecar(path: str, splits: list[FileSplit]) -> str:
    sc = sidecar_path(path)
    write_bson_file(sc, ({"s": s.start, "l": s.length} for s in splits))
    return sc


def read_splits_sidecar(path: str) -> list[FileSplit] | None:
    sc = sidecar_path(path)
    if not os.path.exists(sc):
        return None
    with open(sc, "rb") as f:
        return [FileSplit(path, d["s"], d["l"]) for d in decode_file_iter(f)]
