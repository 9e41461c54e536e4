"""``map_rows``, the one row-wise Python stage, and the tripwire that
keeps every other raw pandas stage on a reasoned allowlist."""

import ast
import pathlib

from pyspark.sql.types import BooleanType, LongType, StringType

from replay_spark.utils.spark_utils import map_rows

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "replay_spark"
RAW_CALLS = {
    "mapInPandas",
    "applyInPandas",
    "applyInPandasWithState",
    "mapInArrow",
    "applyInArrow",
}
# (module, enclosing function) -> why the stage needs more than one row
BATCH_KERNELS = {
    ("utils/spark_utils.py", "map_rows"): "the row-wise stage itself",
    ("utils/spark_utils.py", "_ordered_partition_scan"):
        "running number or sum across a whole partition",
    ("utils/spark_utils.py", "bucketed_apply_in_pandas"):
        "grouped stage over whole key buckets",
    ("preprocessing/text.py", "BinPacker.transform"):
        "packs a whole cell of documents at once",
    ("preprocessing/text.py", "HeavyHitters.transform"):
        "per-batch count combiner",
    ("preprocessing/bpe.py", "ByteLevelBPETokenizer._word_freqs"):
        "per-batch count combiner",
    ("preprocessing/unigram.py", "UnigramTokenizer._estep_distributed"):
        "per-batch expected-count combiner (E-step)",
    ("ann/search.py", "IVFPQANN._encode"):
        "vectorized encode of a whole batch of vectors",
    ("ann/search.py", "IVFPQANN.search"):
        "vectorized LUT scan of a whole query batch",
    ("ann/hnsw.py", "HNSWANN.search.topk"):
        "graph walk over a whole query batch",
    ("ann/pca.py", "PCAProjector.fit"):
        "per-batch Gram-matrix partial",
    ("data/arrow_ipc.py", "write_arrow_ipc"):
        "writes a whole partition as one Arrow IPC file",
    ("data/arrow_ipc.py", "read_arrow_ipc"):
        "reads whole Arrow IPC tables",
    ("streaming/ops.py", "StreamingStatefulSessionizer.transform"):
        "stateful streaming groups",
    ("streaming/ops.py", "StreamingSourceCapFilter.transform"):
        "stateful streaming groups",
}


def _raw_stage_sites():
    sites = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()

        def walk(node, scope):
            for child in ast.iter_child_nodes(node):
                if isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    walk(child, scope + [child.name])
                    continue
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in RAW_CALLS
                ):
                    sites.add((module, ".".join(scope)))
                walk(child, scope)

        walk(ast.parse(path.read_text()), [])
    return sites


def test_raw_pandas_stages_are_allowlisted():
    """A per-row stage goes through ``map_rows``; a raw
    ``mapInPandas``/``applyInPandas`` call anywhere else must be a
    batch kernel listed above with its reason."""
    sites = _raw_stage_sites()
    assert sites - set(BATCH_KERNELS) == set()
    assert set(BATCH_KERNELS) - sites == set()  # no stale entries


def test_map_rows_layout(spark):
    df = spark.createDataFrame(
        [(1, "a b", [1]), (2, "", [2]), (3, "c", [3])],
        "`doc id` long, text string, arr array<long>",
    ).repartition(2)

    def split(text):
        for i, tok in enumerate(text.split()):
            yield tok, i

    out = map_rows(
        df,
        ["text"],
        split,
        [("tok", StringType()), "doc id", ("pos", LongType()), "arr"],
    )
    assert out.columns == ["tok", "doc id", "pos", "arr"]
    assert out.schema["doc id"] == df.schema["doc id"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", 1, 0, [1]),
        ("b", 1, 1, [1]),
        ("c", 3, 0, [3]),
    ]


def test_empty_webdataset_shard_reads_as_no_rows(spark, tmp_path):
    """A batch that yields no rows still converts its map column: an
    empty pandas column defaults to float64, which Arrow cannot turn
    into a map or an array."""
    import tarfile

    from replay_spark.data.webdataset import read_webdataset

    tarfile.open(tmp_path / "shard-00000.tar", "w").close()
    assert read_webdataset(spark, str(tmp_path)).collect() == []


def test_map_rows_per_batch_state(spark):
    """``per_batch`` state starts fresh in every Arrow batch; closure
    state lives for the whole partition."""
    df = spark.createDataFrame([(i % 3,) for i in range(9)], "k long").coalesce(1)
    seen_in_partition = set()

    def first_seen(seen, k):
        yield k not in seen, k not in seen_in_partition
        seen.add(k)
        seen_in_partition.add(k)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        rows = map_rows(
            df,
            ["k"],
            first_seen,
            [("in_batch", BooleanType()), ("in_partition", BooleanType())],
            per_batch=set,
        ).collect()
    finally:
        spark.conf.set(key, old)
    assert sum(r["in_batch"] for r in rows) == 9
    assert sum(r["in_partition"] for r in rows) == 3


def test_appending_stages_take_any_column_name(spark):
    """The appended schema is a StructType, so a column name that DDL
    text would need quoted (a space) passes through unchanged."""
    from replay_spark.preprocessing.text import TextNormalizer
    from replay_spark.web import RobotsFilter

    df = spark.createDataFrame(
        [(1, "Café", "https://a.org/x", "User-agent: *\nDisallow: /x")],
        "`doc id` long, text string, url string, robots_txt string",
    )
    norm = TextNormalizer().transform(df)
    assert norm.columns == df.columns + ["text_norm"]
    assert norm.first()["text_norm"] == "Café"
    robots = RobotsFilter().transform(df)
    assert robots.columns == df.columns + ["robots_allowed"]
    assert robots.first()["robots_allowed"] is False
