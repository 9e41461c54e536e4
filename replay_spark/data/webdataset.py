"""WebDataset-style tar-shard sink/source for training exports.

The interchange format vision/LLM training loaders consume
(webdataset/tarp): a dataset is a directory of ``shard-%05d.tar``
files; each sample is a group of files sharing a basename
(``<key>.<ext>``), laid out contiguously so loaders stream the tar
sequentially.

Spark-first shape: ``write_webdataset`` assigns each row a shard by
``pmod(hash(key), num_shards)`` (or an explicit shard column),
repartitions so ONE task owns each shard, and writes that task's tar
with stdlib ``tarfile`` inside ``foreachPartition`` — executors write
independently, nothing aggregates on the driver, and a 100 TB export
scales with the executor count. Deterministic: fixed mtime/uid/perm
headers and keys sorted within a shard, so a re-export of the same
data is byte-identical (pinned by the roundtrip test).

``read_webdataset`` is the source twin: one row per sample with a
map<ext, binary> of its files, exploded from the shard list via
``mapInPandas`` (archives never on the driver).

No reference counterpart (LLM-pipeline extension).
"""

from __future__ import annotations

import io
import os
import tarfile
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, MapType, StringType

__all__ = ["write_webdataset", "read_webdataset"]


def write_webdataset(
    df: DataFrame,
    path: str,
    key_column: str,
    num_shards: int = 16,
    shard_column: Optional[str] = None,
) -> list:
    """Write ``df`` as WebDataset tar shards under ``path``.

    Every non-key column becomes one file per sample, named
    ``<key>.<column>`` — binary columns byte-for-byte, strings
    UTF-8, everything else via ``str``. Returns the shard file
    names written.
    """
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    os.makedirs(path, exist_ok=True)
    shard = (
        F.col(shard_column)
        if shard_column
        else F.pmod(F.xxhash64(F.col(key_column)), F.lit(num_shards))
    )
    tagged = df.withColumn("_shard", shard.cast("int"))
    payload_cols = [
        c for c in df.columns if c != key_column and c != shard_column
    ]
    key_col = key_column

    def write_partition(rows):
        by_shard: dict = {}
        for row in rows:
            by_shard.setdefault(row["_shard"], []).append(row)
        for shard_id, samples in by_shard.items():
            samples.sort(key=lambda r: str(r[key_col]))
            fname = os.path.join(path, f"shard-{shard_id:05d}.tar")
            with tarfile.open(fname, "w") as tar:
                for row in samples:
                    for col in payload_cols:
                        value = row[col]
                        if value is None:
                            continue
                        if isinstance(value, (bytes, bytearray)):
                            blob = bytes(value)
                        elif isinstance(value, str):
                            blob = value.encode("utf-8")
                        else:
                            blob = str(value).encode("utf-8")
                        info = tarfile.TarInfo(
                            name=f"{row[key_col]}.{col}"
                        )
                        info.size = len(blob)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        info.mode = 0o644
                        tar.addfile(info, io.BytesIO(blob))

    # one task per shard: repartition on the shard id so each tar has
    # exactly one writer (tarfile appends are not concurrent-safe)
    tagged.repartition(num_shards, "_shard").foreachPartition(
        write_partition
    )
    return sorted(
        f for f in os.listdir(path) if f.startswith("shard-")
    )


def read_webdataset(
    spark: SparkSession, path: str, key_column: str = "key"
) -> DataFrame:
    """Read a WebDataset directory back: one row per sample —
    ``(shard, <key_column>, files: map<string, binary>)``."""
    shards = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("shard-") and f.endswith(".tar")
    )
    from replay_spark.utils.spark_utils import local_df, map_rows

    shard_df = local_df(spark, [(s,) for s in shards], "shard_path string")

    def extract(shard_path):
        samples: dict = {}
        with tarfile.open(shard_path, "r") as tar:
            for member in tar.getmembers():
                base, _, ext = member.name.rpartition(".")
                samples.setdefault(base, {})[ext] = tar.extractfile(
                    member
                ).read()
        shard = os.path.basename(shard_path)
        for key in sorted(samples):
            yield shard, key, samples[key]

    return map_rows(
        shard_df,
        ["shard_path"],
        extract,
        [
            ("shard", StringType()),
            (key_column, StringType()),
            ("files", MapType(StringType(), BinaryType())),
        ],
    )
