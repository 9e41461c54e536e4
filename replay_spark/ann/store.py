"""ANN index persistence — build once, reuse across sessions.

Closes the reference's index-store tier (``reference/replay/models/
extensions/ann/index_stores/shared_disk_index_store.py``,
``hdfs_index_store.py``, ``spark_files_index_store.py``: a built
hnswlib/nmslib index is dumped to shared disk / HDFS / SparkFiles so
later sessions and executors load it instead of rebuilding)
Spark-natively: every index artifact is PARQUET written through
``df.write`` — so a saved index lives wherever the cluster's
filesystem does and loads as a plain distributed scan — plus one
driver-side ``meta.json`` params sidecar (the same local-JSON
discipline as the lakehouse commit log).

At 100 TB the index build (k-means training, corpus encode, graph
construction) IS the expensive step; persisting the built artifacts
turns every later session's cost into one metadata read plus lazy
parquet scans. Layout under ``path``::

    meta.json        {"class": ..., "format_version": 1, "params": {...}}
    centroids/       parquet (cluster|cell, centroid)   IVF / PQ / IVF-PQ
    codebooks/       parquet (subspace, code, centroid) PQ / IVF-PQ
    indexed/         parquet (neighbor_id, cv, cluster) IVF
    codes/           parquet (vec_id, cell, codes)      PQ / IVF-PQ
    corpus/          parquet (id, vector)               PQ / IVF-PQ refine
    vectors/         parquet (node, ext_id, vec)        HNSW
    graph/           parquet (node, level, neighbors)   HNSW

``save_index(index, path)`` / ``load_index(path, spark)`` dispatch on
the class name; every index class also exposes ``save``/``load``
directly, and ``utils.model_handler`` routes through the same
``meta.json`` contract as the recommender models.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import SparkSession

__all__ = ["save_index", "load_index"]

_FORMAT_VERSION = 1
_META = "meta.json"


def write_meta(
    path: str, class_name: str, params: dict, state: Optional[dict] = None
) -> None:
    """``params`` reconstruct the instance (constructor kwargs);
    ``state`` is small fitted driver state (centroid lists, PCA
    components, scalar scales) for classes whose whole model fits in
    the sidecar — big artifacts go to parquet instead."""
    os.makedirs(path, exist_ok=True)
    payload = {
        "class": class_name,
        "format_version": _FORMAT_VERSION,
        "params": params,
    }
    if state is not None:
        payload["state"] = state
    tmp = os.path.join(path, _META + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(json.dumps(payload, indent=1))
    os.replace(tmp, os.path.join(path, _META))


def read_meta(path: str) -> dict:
    with open(os.path.join(path, _META)) as fh:
        meta = json.loads(fh.read())
    v = meta.get("format_version")
    if v != _FORMAT_VERSION:
        raise ValueError(
            f"index at {path} has format_version={v}; this build "
            f"reads version {_FORMAT_VERSION}"
        )
    return meta


def resolve_spark(spark: Optional[SparkSession]) -> SparkSession:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            "no active SparkSession; pass spark= explicitly"
        )
    return spark


def save_index(index, path: str) -> None:
    """Persist any fitted ANN index (dispatches to ``index.save``)."""
    index.save(path)


def load_index(path: str, spark: Optional[SparkSession] = None):
    """Restore whatever ANN-tier class was saved at ``path``."""
    from replay_spark.ann import (
        BruteForceANN,
        EmbeddingQuantizer,
        HNSWANN,
        IVFANN,
        IVFPQANN,
        KMeansClusterer,
        LSHANN,
        PCAProjector,
        PQANN,
    )

    classes = {
        c.__name__: c
        for c in (
            BruteForceANN,
            IVFANN,
            LSHANN,
            PQANN,
            IVFPQANN,
            HNSWANN,
            KMeansClusterer,
            PCAProjector,
            EmbeddingQuantizer,
        )
    }
    meta = read_meta(path)
    cls = classes.get(meta["class"])
    if cls is None:
        raise ValueError(f"unknown ANN index class {meta['class']!r}")
    return cls.load(path, spark)
