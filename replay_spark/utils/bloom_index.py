"""Per-file Bloom skip indexes — the EQUALITY complement of the
min/max footer stats in :mod:`replay_spark.utils.layout`: interval
stats prune range predicates, Bloom bitsets prune point predicates
(``k = v``) that ranges can't touch when every file spans the full
key domain (hash-distributed keys, fingerprints, ids).

Shape mirrors ``collect_file_stats``: building is a ``mapInPandas``
over the file list — each task opens ITS file, reads only the
indexed columns, and emits a base64 bitset, so index construction is
one parallel metadata pass over exactly the new files (at append
time: only the files the commit adds). Probing is a driver-side
membership test per candidate file — O(candidate files) small
sidecar reads, the same scale every query planner's file index
already pays.

Contract: NO FALSE NEGATIVES. A file containing the probed value is
always kept (Bloom filters only err toward "possibly present");
files without an index entry are kept unconditionally. False
positives only ever over-read — the residual filter keeps the answer
exact.

Hashing is the portable md5 double-hash family (Kirsch–Mitzenmacher:
``pos_i = (h1 + i*h2) mod m``) over a normalized string key, so the
bitset is engine- and platform-independent. No reference counterpart
(sb-ai-lab/RePlay has no lakehouse tier); the design follows Delta
Lake's file-level Bloom index shape re-expressed Spark-first.
"""

from __future__ import annotations

import base64
import hashlib
from typing import Iterable, List

__all__ = ["build_file_blooms", "bloom_might_contain"]


def _norm(value) -> bytes:
    """Stable cross-type key: integral floats fold to ints so a
    probe with ``17.0`` finds a file that stored ``17`` (applied
    identically at build and probe time — consistency is what makes
    the no-false-negative contract hold)."""
    if isinstance(value, bool):
        value = int(value)
    elif isinstance(value, float) and value.is_integer():
        value = int(value)
    return str(value).encode("utf-8")


def _positions(value, m: int, k: int) -> List[int]:
    d = hashlib.md5(_norm(value)).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd -> full-period stride
    return [(h1 + i * h2) % m for i in range(k)]


def build_file_blooms(
    spark,
    files: Iterable[str],
    columns: Iterable[str],
    bits_per_key: int = 10,
    num_hashes: int = 7,
) -> List[dict]:
    """One Bloom bitset per (file, indexed column), built in
    parallel (one task per file batch, column-projected parquet
    read). ``m`` sizes to ``bits_per_key`` × the file's distinct key
    count (≥ 64, byte-aligned), giving ≈0.8 % false positives at the
    10-bit/7-hash default. Columns absent from a file are skipped
    (schema evolution); NULLs are not indexed (a NULL never equals a
    point probe). Returns plain dict rows ``{file, column, m, k,
    n_keys, bits}`` ready for sidecar serialization."""
    files = sorted(set(files))
    if not files:
        return []
    cols = list(columns)
    bpk, k = int(bits_per_key), int(num_hashes)
    if bpk < 1 or k < 1:
        raise ValueError("need bits_per_key >= 1 and num_hashes >= 1")
    from pyspark.sql.types import LongType, StringType

    from replay_spark.utils.spark_utils import local_df, map_rows

    file_df = local_df(spark, [(f,) for f in files], "file string")

    def blooms(fname):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(fname)
        avail = [c for c in cols if c in pf.schema_arrow.names]
        tbl = pf.read(columns=avail) if avail else None
        for c in avail:
            vals = {v for v in tbl.column(c).to_pylist() if v is not None}
            m = max(64, bpk * max(1, len(vals)))
            m = (m + 7) // 8 * 8
            bits = bytearray(m // 8)
            for v in vals:
                for p in _positions(v, m, k):
                    bits[p >> 3] |= 1 << (p & 7)
            yield (
                c,
                m,
                k,
                len(vals),
                base64.b64encode(bytes(bits)).decode("ascii"),
            )

    out = map_rows(
        file_df,
        ["file"],
        blooms,
        [
            "file",
            ("column", StringType()),
            ("m", LongType()),
            ("k", LongType()),
            ("n_keys", LongType()),
            ("bits", StringType()),
        ],
    )
    return [r.asDict() for r in out.collect()]


def bloom_might_contain(bloom: dict, value) -> bool:
    """Membership probe: True = possibly present (keep the file),
    False = DEFINITELY absent (safe to skip).

    The base64 bitset is decoded at most once per sidecar dict and
    memoised under ``_bits`` — callers that probe the same sidecar
    many times (IncrementalDeduplicator scans up to
    ``bloom_probe_limit`` hashes per store file) pay the decode cost
    once, not per probe.
    """
    m, k = int(bloom["m"]), int(bloom["k"])
    bits = bloom.get("_bits")
    if bits is None:
        bits = base64.b64decode(bloom["bits"])
        try:
            bloom["_bits"] = bits
        except TypeError:  # immutable mapping — probe still correct
            pass
    for p in _positions(value, m, k):
        if not (bits[p >> 3] >> (p & 7)) & 1:
            return False
    return True
