"""Avro Object Container File sink/source — no avro library needed.

Avro OCF is the third leg of the training-export interchange tier
(next to :mod:`webdataset` tar shards and :mod:`tfrecord` framed
protobufs): a self-describing, splittable, block-compressed row
format every JVM/Python data stack reads. The wire format is a
small, fully-public specification (Avro 1.11 spec, "Object Container
Files" + "Binary Encoding"), implemented here directly on the
stdlib::

    magic "Obj\\x01"
    | file metadata map {avro.schema: JSON, avro.codec: null|deflate}
    | 16-byte sync marker
    | blocks: [record count][byte length][records][sync] ...

Binary encoding: ints/longs are zigzag base-128 varints, strings and
bytes are length-prefixed, floats/doubles little-endian IEEE,
nullable columns are ``["null", T]`` unions (branch index varint),
arrays are count-delimited blocks. ``deflate`` is raw RFC-1951 (no
zlib header), per the spec.

Spark-first shape (the webdataset/tfrecord pattern): ``write_avro``
assigns each row a shard by ``pmod(xxhash64(key), num_shards)``,
repartitions so ONE task owns each shard, and serializes that
shard's block executor-side in ``foreachPartition`` — no driver
aggregation, export cost scales with executor count. Rows sort by
key within a shard and the sync marker derives deterministically
from the shard id, so re-exports are byte-identical (the retry/
reproducibility property the tar and tfrecord sinks pin).
``read_avro`` is the source twin: the schema comes from ONE header
read driver-side (O(bytes of one header), the parquet-footer
analogy), then shards parse executor-side via ``mapInPandas``.

Supported schema subset (what Spark columns map onto): boolean, int,
long, float, double, string, bytes, their nullable unions, and
arrays thereof. No reference counterpart (LLM-pipeline extension).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import zlib
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "encode_long",
    "decode_long",
    "spark_to_avro_schema",
    "avro_to_spark_schema",
    "build_ocf",
    "parse_ocf",
    "write_avro",
    "read_avro",
]

_MAGIC = b"Obj\x01"


# -- primitive binary encoding ---------------------------------------------

def encode_long(n: int) -> bytes:
    """Zigzag + base-128 varint (spec: int and long share this)."""
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


def decode_long(buf: memoryview, pos: int) -> Tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _encode_bytes(b: bytes) -> bytes:
    return encode_long(len(b)) + b


def _decode_bytes(buf: memoryview, pos: int) -> Tuple[bytes, int]:
    n, pos = decode_long(buf, pos)
    return bytes(buf[pos : pos + n]), pos + n


# -- schema mapping --------------------------------------------------------

_SPARK_TO_AVRO = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "bytes",
}
_AVRO_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}


def _field_avro_type(dt: T.DataType, nullable: bool):
    if isinstance(dt, T.ArrayType):
        items = _field_avro_type(dt.elementType, dt.containsNull)
        base = {"type": "array", "items": items}
    else:
        for klass, name in _SPARK_TO_AVRO.items():
            if isinstance(dt, klass):
                base = name
                break
        else:
            raise TypeError(f"unsupported Spark type for Avro: {dt}")
    return ["null", base] if nullable else base


def spark_to_avro_schema(schema: T.StructType, name: str = "row") -> dict:
    return {
        "type": "record",
        "name": name,
        "fields": [
            {
                "name": f.name,
                "type": _field_avro_type(f.dataType, f.nullable),
            }
            for f in schema.fields
        ],
    }


def _avro_spark_type(t) -> Tuple[T.DataType, bool]:
    if isinstance(t, list):  # union — only ["null", T] supported
        non_null = [x for x in t if x != "null"]
        if len(non_null) != 1:
            raise TypeError(f"unsupported Avro union: {t}")
        inner, _ = _avro_spark_type(non_null[0])
        return inner, True
    if isinstance(t, dict):
        if t.get("type") == "array":
            inner, inner_null = _avro_spark_type(t["items"])
            return T.ArrayType(inner, containsNull=inner_null), False
        t = t.get("type")
    if t in _AVRO_TO_SPARK:
        return _AVRO_TO_SPARK[t], False
    raise TypeError(f"unsupported Avro type: {t}")


def avro_to_spark_schema(avro_schema: dict) -> T.StructType:
    fields = []
    for f in avro_schema["fields"]:
        dt, nullable = _avro_spark_type(f["type"])
        fields.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(fields)


# -- record encode/decode ---------------------------------------------------

def _encode_value(v, t) -> bytes:
    if isinstance(t, list):
        if v is None:
            return encode_long(0)
        non_null = [x for x in t if x != "null"]
        return encode_long(t.index(non_null[0])) + _encode_value(
            v, non_null[0]
        )
    if isinstance(t, dict) and t.get("type") == "array":
        if len(v) == 0:
            return encode_long(0)
        body = b"".join(_encode_value(x, t["items"]) for x in v)
        return encode_long(len(v)) + body + encode_long(0)
    if t in ("long", "int"):
        return encode_long(int(v))
    if t == "string":
        return _encode_bytes(str(v).encode("utf-8"))
    if t == "bytes":
        return _encode_bytes(bytes(v))
    if t == "double":
        return struct.pack("<d", float(v))
    if t == "float":
        return struct.pack("<f", float(v))
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    raise TypeError(f"unsupported Avro type: {t}")


def _decode_value(buf: memoryview, pos: int, t):
    if isinstance(t, list):
        idx, pos = decode_long(buf, pos)
        branch = t[idx]
        if branch == "null":
            return None, pos
        return _decode_value(buf, pos, branch)
    if isinstance(t, dict) and t.get("type") == "array":
        out = []
        while True:
            n, pos = decode_long(buf, pos)
            if n == 0:
                return out, pos
            if n < 0:  # block with byte-size prefix (spec option)
                _, pos = decode_long(buf, pos)
                n = -n
            for _ in range(n):
                v, pos = _decode_value(buf, pos, t["items"])
                out.append(v)
    if t in ("long", "int"):
        return decode_long(buf, pos)
    if t == "string":
        b, pos = _decode_bytes(buf, pos)
        return b.decode("utf-8"), pos
    if t == "bytes":
        b, pos = _decode_bytes(buf, pos)
        return b, pos
    if t == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "boolean":
        return buf[pos] == 1, pos + 1
    raise TypeError(f"unsupported Avro type: {t}")


def _encode_record(row: dict, avro_schema: dict) -> bytes:
    return b"".join(
        _encode_value(row[f["name"]], f["type"])
        for f in avro_schema["fields"]
    )


# -- container -------------------------------------------------------------

def build_ocf(
    records: List[dict],
    avro_schema: dict,
    codec: str = "deflate",
    sync: Optional[bytes] = None,
    block_records: int = 4096,
) -> bytes:
    """Serialize dict records into one OCF byte string."""
    if codec not in ("null", "deflate"):
        raise ValueError("codec must be 'null' or 'deflate'")
    if sync is None:
        sync = hashlib.md5(
            json.dumps(avro_schema, sort_keys=True).encode()
        ).digest()
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    meta = {
        "avro.schema": json.dumps(avro_schema).encode(),
        "avro.codec": codec.encode(),
    }
    out = io.BytesIO()
    out.write(_MAGIC)
    out.write(encode_long(len(meta)))
    for k in sorted(meta):
        out.write(_encode_bytes(k.encode()))
        out.write(_encode_bytes(meta[k]))
    out.write(encode_long(0))
    out.write(sync)
    for i in range(0, len(records), block_records):
        chunk = records[i : i + block_records]
        body = b"".join(_encode_record(r, avro_schema) for r in chunk)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            body = co.compress(body) + co.flush()
        out.write(encode_long(len(chunk)))
        out.write(_encode_bytes(body))
        out.write(sync)
    return out.getvalue()


def parse_ocf(payload: bytes) -> Tuple[dict, List[dict]]:
    """Parse one OCF byte string → (avro schema, records)."""
    buf = memoryview(payload)
    if bytes(buf[:4]) != _MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = decode_long(buf, pos)
        if n == 0:
            break
        if n < 0:
            _, pos = decode_long(buf, pos)
            n = -n
        for _ in range(n):
            k, pos = _decode_bytes(buf, pos)
            v, pos = _decode_bytes(buf, pos)
            meta[k.decode()] = v
    avro_schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    sync = bytes(buf[pos : pos + 16])
    pos += 16
    records: List[dict] = []
    names = [f["name"] for f in avro_schema["fields"]]
    types = [f["type"] for f in avro_schema["fields"]]
    total = len(buf)
    while pos < total:
        count, pos = decode_long(buf, pos)
        body, pos = _decode_bytes(buf, pos)
        if codec == "deflate":
            body = zlib.decompress(body, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        bbuf = memoryview(body)
        bpos = 0
        for _ in range(count):
            row = {}
            for name, t in zip(names, types):
                row[name], bpos = _decode_value(bbuf, bpos, t)
            records.append(row)
        if bytes(buf[pos : pos + 16]) != sync:
            raise ValueError("sync marker mismatch — corrupt block")
        pos += 16
    return avro_schema, records


# -- Spark sink/source -----------------------------------------------------

def write_avro(
    df: DataFrame,
    path: str,
    key_column: str,
    num_shards: int = 16,
    codec: str = "deflate",
) -> list:
    """Write ``df`` as ``shard-%05d.avro`` OCF files under ``path``.

    One writer task per shard; rows sorted by key within a shard and
    a shard-id-derived sync marker, so re-exports are
    byte-identical."""
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    os.makedirs(path, exist_ok=True)
    avro_schema = spark_to_avro_schema(df.schema)
    columns = df.columns
    shard = F.pmod(F.xxhash64(F.col(key_column)), F.lit(num_shards))
    # _tie: full-row hash tiebreaker — duplicate keys would otherwise
    # sort in post-shuffle arrival order and re-exports of the same
    # data would not be byte-identical
    tagged = df.withColumn("_shard", shard.cast("int")).withColumn(
        "_tie", F.xxhash64(*df.columns)
    )
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
                {c: row[c] for c in columns} for row in samples
            ]
            sync = hashlib.md5(
                f"replay_spark-avro-{shard_id}".encode()
            ).digest()
            payload = build_ocf(
                records, avro_schema, codec=codec, sync=sync
            )
            fname = os.path.join(path, f"shard-{shard_id:05d}.avro")
            with open(fname, "wb") as fh:
                fh.write(payload)

    tagged.repartition(num_shards, "_shard").foreachPartition(
        write_partition
    )
    return sorted(f for f in os.listdir(path) if f.endswith(".avro"))


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Read an Avro OCF directory back to typed columns.

    The schema comes from one header read driver-side; shard
    payloads parse executor-side."""
    shards = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".avro")
    )
    if not shards:
        raise FileNotFoundError(f"no .avro shards under {path}")
    with open(shards[0], "rb") as fh:
        head = fh.read(65536)
        try:
            end = _header_end(head)
        except IndexError:  # oversized schema JSON — take the whole file
            head += fh.read()
            end = _header_end(head)
    avro_schema, _ = parse_ocf(head[:end])
    out_schema = avro_to_spark_schema(avro_schema)
    from replay_spark.utils.spark_utils import local_df, map_rows

    shard_df = local_df(spark, [(s,) for s in shards], "shard_path string")
    names = [f.name for f in out_schema.fields]

    def extract(shard_path):
        with open(shard_path, "rb") as fh:
            _, records = parse_ocf(fh.read())
        for r in records:
            yield tuple(r[n] for n in names)

    return map_rows(
        shard_df,
        ["shard_path"],
        extract,
        [(f.name, f.dataType) for f in out_schema.fields],
    )


def _header_end(payload: bytes) -> int:
    """Offset just past the header (magic + metadata + sync) — lets
    the driver parse ONLY the schema without decoding blocks."""
    buf = memoryview(payload)
    pos = 4
    while True:
        n, pos = decode_long(buf, pos)
        if n == 0:
            break
        if n < 0:
            _, pos = decode_long(buf, pos)
            n = -n
        for _ in range(n):
            _, pos = _decode_bytes(buf, pos)
            _, pos = _decode_bytes(buf, pos)
    return pos + 16
