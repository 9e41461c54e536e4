"""CDF-maintained vector index over a lake table.

The composition that keeps a 100 TB vector corpus searchable without
per-refresh rebuilds: an :class:`~replay_spark.ann.IVFANN` index
persists under its own path (the ``ann.store`` parquet layout plus a
``_source.json`` cursor recording which source-table version the
index reflects), and ``refresh()`` reads the source
:class:`~replay_spark.lake.LakeTable`'s CHANGE FEED since that cursor
instead of rescanning the corpus:

* every id touched by any change (insert or delete, in any order —
  updates are delete+insert pairs) is dropped from the inverted file
  in one anti-join, then
* the CURRENT rows of those ids (one semi-join against the latest
  snapshot) are assigned to the FROZEN centroid set and appended.

Churn-proportional work, exact result: under frozen centroids the
refreshed index is EXACTLY the index a full rebuild over the current
snapshot would produce (the ``q_lake_vector_index`` hash gate proves
search equality against a DuckDB replay of the final snapshot).
Re-``build`` when drift makes the centroids stale — the same
re-train-on-drift contract as ``IVFANN.append``.

Reference parity note: the reference rebuilds its ANN index from
collected factors every fit (``models/extensions/ann/
index_builders/*``); the lake-fed incremental refresh is an
extension the reference's shared-disk index stores don't have.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from replay_spark.utils.spark_utils import release

__all__ = ["LakeVectorIndex"]


class LakeVectorIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        table,
        id_column: str = "vec_id",
        vector_column: str = "embedding",
        num_clusters: int = 16,
        nprobe: int = 2,
        seed: Optional[int] = 42,
    ):
        self.spark = spark
        self.path = path
        self.table = table
        self.id_column = id_column
        self.vector_column = vector_column
        self.num_clusters = num_clusters
        self.nprobe = nprobe
        self.seed = seed
        self._ann = None

    # -- cursor -------------------------------------------------------------

    def _cursor_path(self) -> str:
        return os.path.join(self.path, "_source.json")

    def indexed_version(self) -> Optional[int]:
        """Source-table version the index currently reflects."""
        try:
            with open(self._cursor_path()) as fh:
                return int(json.loads(fh.read())["version"])
        except OSError:
            return None

    def _write_cursor(self, version: int) -> None:
        tmp = self._cursor_path() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(
                json.dumps(
                    {"version": int(version), "table": self.table.path}
                )
            )
        os.replace(tmp, self._cursor_path())

    # -- lifecycle ----------------------------------------------------------

    def build(self, centroids=None) -> "LakeVectorIndex":
        """Full build over the source's LATEST snapshot (the one
        expensive pass); ``centroids`` freezes the quantizer the way
        ``IVFANN.fit`` documents."""
        from replay_spark.ann import IVFANN

        version = self.table.latest_version()
        if version < 0:
            raise FileNotFoundError(
                f"source table {self.table.path} has no commits"
            )
        ann = IVFANN(
            id_column=self.id_column,
            vector_column=self.vector_column,
            num_clusters=self.num_clusters,
            nprobe=self.nprobe,
            seed=self.seed,
        )
        ann.fit(self.table.read(version=version), centroids=centroids)
        ann.save(self.path)
        self._write_cursor(version)
        self._ann = ann
        return self

    def _index(self):
        from replay_spark.ann import IVFANN

        if self._ann is None:
            self._ann = IVFANN.load(self.path, self.spark)
        return self._ann

    def refresh(self) -> "LakeVectorIndex":
        """Fold the source's changes since the cursor into the index
        — churn-proportional, exact under the frozen centroid set."""
        cursor = self.indexed_version()
        if cursor is None:
            raise ValueError(
                f"no index at {self.path}; call build() first"
            )
        latest = self.table.latest_version()
        if latest <= cursor:
            return self
        ann = self._index()
        changed = (
            self.table.changes(cursor, latest)
            .select(F.col(self.id_column).alias("_cid"))
            .distinct()
        )
        # drop every touched id, then re-insert its CURRENT row (if
        # still live) — correct under any insert/delete interleaving
        # without replaying CDF ordering
        pruned = ann._indexed.join(
            changed,
            ann._indexed["neighbor_id"] == changed["_cid"],
            "left_anti",
        )
        current = self.table.read(version=latest).join(
            changed,
            F.col(self.id_column) == F.col("_cid"),
            "left_semi",
        )
        combined = (
            pruned.unionByName(ann._assigned(current))
            .repartition("cluster")
            .localCheckpoint(eager=True)
        )
        old = ann._indexed
        ann._indexed = combined
        release(old)
        ann.save(self.path)
        self._write_cursor(latest)
        return self

    def search(self, queries: DataFrame, k: int = 10) -> DataFrame:
        return self._index().search(queries, k=k)
