"""TFRecord sink/source for training exports — no TensorFlow needed.

TFRecord is the de-facto interchange format for TF/JAX training
loaders: a stream of length-framed records, each a serialized
``tf.train.Example`` protobuf, each frame integrity-checked by two
masked CRC-32C values::

    uint64-LE length | uint32-LE masked_crc(length)
    | data | uint32-LE masked_crc(data)

Both the protobuf wire encoding (``Example``/``Features``/``Feature``
with its bytes/float/int64 list oneof) and CRC-32C (Castagnoli,
reflected 0x82F63B78) are small, fully-public specifications, so this
module implements them directly on the stdlib + numpy — the encode
and decode halves round-trip byte-identically and the framing CRCs
are verified on read.

Spark-first shape (same as :mod:`replay_spark.data.webdataset`):
``write_tfrecord`` assigns each row a shard by
``pmod(xxhash64(key), num_shards)``, repartitions so ONE task owns
each shard, and writes that shard's records inside
``foreachPartition`` — executors write independently, nothing
aggregates on the driver, and a 100 TB export scales with the
executor count. Rows are sorted by key within a shard so re-exports
are byte-identical. ``read_tfrecord`` is the source twin: shards are
split and parsed executor-side via ``mapInPandas`` against a caller
feature spec (the ``tf.io.parse_example`` shape).

Float features are protobuf ``float`` (32-bit): float32 inputs
round-trip exactly; float64 inputs are narrowed, exactly like
TensorFlow's own ``FloatList``. No reference counterpart
(LLM-pipeline extension).
"""

from __future__ import annotations

import os
import struct
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
)

from replay_spark.utils.spark_utils import local_df, map_rows

__all__ = [
    "crc32c",
    "masked_crc32c",
    "encode_example",
    "decode_example",
    "frame_tfrecords",
    "split_tfrecords",
    "write_tfrecord",
    "read_tfrecord",
]


# -- CRC-32C (Castagnoli) --------------------------------------------------

def _make_crc32c_table() -> np.ndarray:
    poly = np.uint32(0x82F63B78)
    table = np.zeros(256, dtype=np.uint32)
    for i in range(256):
        crc = np.uint32(i)
        for _ in range(8):
            crc = (crc >> np.uint32(1)) ^ (
                poly if crc & np.uint32(1) else np.uint32(0)
            )
        table[i] = crc
    return table


_CRC32C_TABLE = _make_crc32c_table()

try:  # a native wheel beats the table loop ~100x when present
    from crc32c import crc32c as _native_crc32c  # type: ignore
except ImportError:  # pragma: no cover - container has no crc32c wheel
    _native_crc32c = None


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) of ``data`` — the checksum TFRecord
    framing uses. Table-driven stdlib+numpy fallback; uses the
    ``crc32c`` native wheel when importable."""
    if _native_crc32c is not None:
        return int(_native_crc32c(data))
    table = _CRC32C_TABLE
    crc = 0xFFFFFFFF
    for b in bytes(data):
        crc = int(table[(crc ^ b) & 0xFF]) ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord's masked CRC: rotate right 15 and add the mask
    constant (masking guards against CRC-of-CRC degeneracy)."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# -- tf.train.Example protobuf wire format ---------------------------------

def _varint(n: int) -> bytes:
    if n < 0:  # proto int64: 10-byte two's-complement varint
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("malformed varint")
    return result, pos


def _ld(field: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def _encode_feature(value) -> bytes:
    """Encode one value as a ``Feature`` message. Scalars and lists
    of bytes/str (→ BytesList, field 1), float (→ FloatList, field
    2, packed float32), and int (→ Int64List, field 3, packed
    varint) are supported — the full ``Feature`` oneof."""
    if not isinstance(value, (list, tuple, np.ndarray)):
        value = [value]
    items = list(value)
    if not items:
        raise ValueError("empty feature value (oneof type is ambiguous)")
    first = items[0]
    if isinstance(first, (bytes, bytearray, str)):
        payload = b"".join(
            _ld(1, v.encode("utf-8") if isinstance(v, str) else bytes(v))
            for v in items
        )
        return _ld(1, payload)
    if isinstance(first, (float, np.floating)):
        # FloatList is float32 on the wire (tensorflow.train proto):
        # float64 inputs narrow, and values beyond float32 range
        # become +/-inf — the same IEEE-754 semantics a TF reader
        # applies. The cast is intentional, so suppress numpy's
        # overflow RuntimeWarning for exactly this statement.
        with np.errstate(over="ignore"):
            packed = (
                np.asarray(items, dtype="<f8")
                .astype("<f4")
                .tobytes()
            )
        return _ld(2, _ld(1, packed))
    if isinstance(first, (int, np.integer)):
        packed = b"".join(_varint(int(v)) for v in items)
        return _ld(3, _ld(1, packed))
    raise TypeError(f"unsupported feature element type: {type(first)}")


def encode_example(features: dict) -> bytes:
    """Serialize ``{name: value}`` as a ``tf.train.Example``.
    Feature keys are emitted sorted, so equal inputs serialize
    byte-identically (protobuf map order is unspecified; fixing it
    makes re-exports reproducible)."""
    entries = b"".join(
        _ld(
            1,
            _ld(1, name.encode("utf-8")) + _ld(2, _encode_feature(value)),
        )
        for name, value in sorted(features.items())
    )
    return _ld(1, entries)


def _decode_feature(buf: bytes) -> tuple[str, list]:
    """Decode a ``Feature`` message → (kind, values) where kind is
    'bytes' | 'float' | 'int64'."""
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire != 2:
            raise ValueError(f"unexpected wire type {wire} in Feature")
        ln, pos = _read_varint(buf, pos)
        inner = buf[pos : pos + ln]
        pos += ln
        if field == 1:  # BytesList: repeated bytes
            values = []
            ip = 0
            while ip < len(inner):
                itag, ip = _read_varint(inner, ip)
                if itag != (1 << 3 | 2):
                    raise ValueError("malformed BytesList")
                iln, ip = _read_varint(inner, ip)
                values.append(inner[ip : ip + iln])
                ip += iln
            return "bytes", values
        if field == 2:  # FloatList: repeated float (packed or not)
            values = []
            ip = 0
            while ip < len(inner):
                itag, ip = _read_varint(inner, ip)
                if itag == (1 << 3 | 2):  # packed
                    iln, ip = _read_varint(inner, ip)
                    values.extend(
                        np.frombuffer(
                            inner, dtype="<f4", count=iln // 4, offset=ip
                        ).tolist()
                    )
                    ip += iln
                elif itag == (1 << 3 | 5):  # unpacked fixed32
                    values.append(
                        struct.unpack("<f", inner[ip : ip + 4])[0]
                    )
                    ip += 4
                else:
                    raise ValueError("malformed FloatList")
            return "float", values
        if field == 3:  # Int64List: repeated int64 (packed or not)
            values = []
            ip = 0
            while ip < len(inner):
                itag, ip = _read_varint(inner, ip)
                if itag == (1 << 3 | 2):  # packed
                    iln, ip = _read_varint(inner, ip)
                    end = ip + iln
                    while ip < end:
                        v, ip = _read_varint(inner, ip)
                        values.append(v - (1 << 64) if v >> 63 else v)
                elif itag == (1 << 3 | 0):  # unpacked varint
                    v, ip = _read_varint(inner, ip)
                    values.append(v - (1 << 64) if v >> 63 else v)
                else:
                    raise ValueError("malformed Int64List")
            return "int64", values
        raise ValueError(f"unknown Feature field {field}")
    raise ValueError("empty Feature message")


def decode_example(data: bytes) -> dict:
    """Parse a serialized ``tf.train.Example`` →
    ``{name: (kind, values)}`` — the exact inverse of
    :func:`encode_example`."""
    data = bytes(data)
    pos = 0
    out: dict = {}
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        if tag != (1 << 3 | 2):
            raise ValueError("not an Example message")
        ln, pos = _read_varint(data, pos)
        features_buf = data[pos : pos + ln]
        pos += ln
        fp = 0
        while fp < len(features_buf):
            ftag, fp = _read_varint(features_buf, fp)
            if ftag != (1 << 3 | 2):
                raise ValueError("not a Features map entry")
            fln, fp = _read_varint(features_buf, fp)
            entry = features_buf[fp : fp + fln]
            fp += fln
            ep = 0
            name, feature = None, None
            while ep < len(entry):
                etag, ep = _read_varint(entry, ep)
                eln, ep = _read_varint(entry, ep)
                if etag == (1 << 3 | 2):
                    name = entry[ep : ep + eln].decode("utf-8")
                elif etag == (2 << 3 | 2):
                    feature = entry[ep : ep + eln]
                else:
                    raise ValueError("malformed map entry")
                ep += eln
            if name is None or feature is None:
                raise ValueError("incomplete Features map entry")
            out[name] = _decode_feature(feature)
    return out


# -- record framing --------------------------------------------------------

def frame_tfrecords(records: list) -> bytes:
    """Frame serialized records as a TFRecord byte stream."""
    parts = []
    for rec in records:
        rec = bytes(rec)
        header = struct.pack("<Q", len(rec))
        parts.append(header)
        parts.append(struct.pack("<I", masked_crc32c(header)))
        parts.append(rec)
        parts.append(struct.pack("<I", masked_crc32c(rec)))
    return b"".join(parts)


def split_tfrecords(stream: bytes, verify: bool = True) -> list:
    """Split a TFRecord byte stream back into records, verifying
    both masked CRCs per frame (``verify=False`` skips the data CRC
    for speed; the length CRC is always checked — it is what makes
    resynchronization errors detectable)."""
    stream = bytes(stream)
    records = []
    pos = 0
    n = len(stream)
    while pos < n:
        if pos + 12 > n:
            raise ValueError("truncated TFRecord header")
        header = stream[pos : pos + 8]
        (expect,) = struct.unpack("<I", stream[pos + 8 : pos + 12])
        if masked_crc32c(header) != expect:
            raise ValueError(f"TFRecord length CRC mismatch at {pos}")
        (length,) = struct.unpack("<Q", header)
        pos += 12
        if pos + length + 4 > n:
            raise ValueError("truncated TFRecord data")
        rec = stream[pos : pos + length]
        (dexpect,) = struct.unpack(
            "<I", stream[pos + length : pos + length + 4]
        )
        if verify and masked_crc32c(rec) != dexpect:
            raise ValueError(f"TFRecord data CRC mismatch at {pos}")
        records.append(rec)
        pos += length + 4
    return records


# -- Spark sink / source ---------------------------------------------------

def _row_features(row, columns, key_column) -> dict:
    feats = {}
    for col in columns:
        v = row[col]
        if v is None:
            continue
        if isinstance(v, (list, tuple)) and not v:
            # an empty untyped list can't pick a Feature oneof;
            # skipped on write, decodes as null — TF loaders treat
            # absent and empty features identically
            continue
        if isinstance(v, bytearray):
            v = bytes(v)
        feats[col] = v
    return feats


def write_tfrecord(
    df: DataFrame,
    path: str,
    key_column: str,
    num_shards: int = 16,
    shard_column: Optional[str] = None,
) -> list:
    """Write ``df`` as ``shard-%05d.tfrecord`` files under ``path``.

    Every column (including the key) becomes an ``Example`` feature:
    long → Int64List, float/double → FloatList, string/binary →
    BytesList, arrays of those → multi-value lists. One writer task
    per shard (the webdataset pattern); rows sorted by key within a
    shard, so re-exports of the same data are byte-identical."""
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    os.makedirs(path, exist_ok=True)
    shard = (
        F.col(shard_column)
        if shard_column
        else F.pmod(F.xxhash64(F.col(key_column)), F.lit(num_shards))
    )
    # _tie: full-row hash tiebreaker — duplicate keys would otherwise
    # sort in post-shuffle arrival order and re-exports of the same
    # data would not be byte-identical
    tagged = df.withColumn("_shard", shard.cast("int")).withColumn(
        "_tie", F.xxhash64(*df.columns)
    )
    payload_cols = [c for c in df.columns if c != shard_column]
    key_col = key_column

    def write_partition(rows):
        by_shard: dict = {}
        for row in rows:
            by_shard.setdefault(row["_shard"], []).append(row)
        for shard_id, samples in by_shard.items():
            samples.sort(
                key=lambda r: (str(r[key_col]), r[key_col], r["_tie"])
            )
            records = [
                encode_example(_row_features(row, payload_cols, key_col))
                for row in samples
            ]
            fname = os.path.join(path, f"shard-{shard_id:05d}.tfrecord")
            with open(fname, "wb") as fh:
                fh.write(frame_tfrecords(records))

    tagged.repartition(num_shards, "_shard").foreachPartition(
        write_partition
    )
    return sorted(
        f for f in os.listdir(path) if f.endswith(".tfrecord")
    )


_SPEC_TYPES = {
    "int64": LongType(),
    "int64_list": ArrayType(LongType()),
    "float": FloatType(),
    "float_list": ArrayType(FloatType()),
    "bytes": BinaryType(),
    "bytes_list": ArrayType(BinaryType()),
    "string": StringType(),
    "string_list": ArrayType(StringType()),
}


def read_tfrecord(
    spark: SparkSession, path: str, feature_spec: dict
) -> DataFrame:
    """Read a TFRecord directory back to typed columns.

    ``feature_spec`` maps feature name → one of ``int64``,
    ``float``, ``bytes``, ``string`` (scalar: first value) or their
    ``*_list`` variants (full value list) — the
    ``tf.io.parse_example`` shape. Shards are split and parsed
    executor-side; missing features decode as null."""
    for name, kind in feature_spec.items():
        if kind not in _SPEC_TYPES:
            raise ValueError(
                f"unknown feature spec {kind!r} for {name!r}"
            )
    shards = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".tfrecord")
    )
    shard_df = local_df(spark, [(s,) for s in shards], "shard_path string")
    spec = dict(feature_spec)

    def value(feats, name, kind):
        got = feats.get(name)
        if got is None:
            return None
        _, values = got
        if kind.startswith("string"):
            values = [v.decode("utf-8") for v in values]
        if kind.endswith("_list"):
            return values
        return values[0] if values else None

    def extract(shard_path):
        with open(shard_path, "rb") as fh:
            stream = fh.read()
        shard = os.path.basename(shard_path)
        for rec in split_tfrecords(stream):
            feats = decode_example(rec)
            yield (shard, *(value(feats, n, k) for n, k in spec.items()))

    return map_rows(
        shard_df,
        ["shard_path"],
        extract,
        [("shard", StringType())]
        + [(name, _SPEC_TYPES[kind]) for name, kind in spec.items()],
    )
