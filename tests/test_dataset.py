import pytest
from pyspark.sql import functions as F

from replay_spark.data import (
    Dataset,
    FeatureHint,
    FeatureInfo,
    FeatureSchema,
    FeatureType,
    get_schema,
)


@pytest.fixture()
def schema():
    return FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("timestamp", FeatureType.NUMERICAL, FeatureHint.TIMESTAMP),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
        ]
    )


def test_schema_accessors(schema):
    assert schema.query_id_column == "query_id"
    assert schema.item_id_column == "item_id"
    assert schema.interactions_rating_column == "rating"
    assert schema.interactions_timestamp_column == "timestamp"
    assert len(schema.drop(feature_hint=FeatureHint.RATING)) == 3
    assert schema.filter(feature_hint=FeatureHint.QUERY_ID).columns == ["query_id"]


def test_schema_rejects_two_query_ids():
    with pytest.raises(ValueError):
        FeatureSchema(
            [
                FeatureInfo("a", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
                FeatureInfo("b", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            ]
        )


def test_dataset_counts(spark, interactions, schema):
    ds = Dataset(schema, interactions)
    assert ds.query_count == 3
    assert ds.item_count == 4
    assert ds.query_ids.count() == 3


def test_dataset_consistency_check(spark, interactions, schema):
    qf = spark.createDataFrame([(0, 1.0), (1, 2.0)], "query_id int, age double")
    with pytest.raises(ValueError):
        Dataset(schema, interactions, query_features=qf)


def test_dataset_save_load(tmp_path, spark, interactions, schema):
    ds = Dataset(schema, interactions, categorical_encoded=True)
    ds.save(str(tmp_path / "ds"))
    loaded = Dataset.load(str(tmp_path / "ds"), spark)
    assert loaded.interactions.count() == 7
    assert loaded.feature_schema.query_id_column == "query_id"
    assert loaded.is_categorical_encoded


def test_get_schema():
    st = get_schema()
    assert [f.name for f in st.fields] == ["query_id", "item_id", "timestamp", "rating"]


def test_dataset_label_encoder_roundtrip(spark):
    """DatasetLabelEncoder: ids fit on feature tables, interaction
    categoricals on interactions, sequence columns element-wise
    (reference dataset_label_encoder.py:20)."""
    import warnings

    from replay_spark.data import (
        Dataset,
        DatasetLabelEncoder,
        FeatureHint,
        FeatureInfo,
        FeatureSchema,
        FeatureSource,
        FeatureType,
        LabelEncoderTransformWarning,
    )

    inter = spark.createDataFrame(
        [("u2", "ix", "mobile", ["a", "b"]), ("u1", "iy", "web", [])],
        "query_id string, item_id string, channel string, tags array<string>",
    )
    qf = spark.createDataFrame(
        [("u1", "ru"), ("u2", "en"), ("u3", "en")],
        "query_id string, lang string",
    )
    itf = spark.createDataFrame(
        [("ix", "book"), ("iy", "film"), ("iz", "book")],
        "item_id string, genre string",
    )
    schema = FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo(
                "channel",
                FeatureType.CATEGORICAL,
                feature_source=FeatureSource.INTERACTIONS,
            ),
            FeatureInfo(
                "tags",
                FeatureType.CATEGORICAL_LIST,
                feature_source=FeatureSource.INTERACTIONS,
            ),
            FeatureInfo(
                "lang",
                FeatureType.CATEGORICAL,
                feature_source=FeatureSource.QUERY_FEATURES,
            ),
            FeatureInfo(
                "genre",
                FeatureType.CATEGORICAL,
                feature_source=FeatureSource.ITEM_FEATURES,
            ),
        ]
    )
    ds = Dataset(schema, inter, query_features=qf, item_features=itf)
    enc = DatasetLabelEncoder()
    out = enc.fit_transform(ds)

    assert out._categorical_encoded
    # ids fit on the FEATURE tables: u3/iz get codes even though they
    # never appear in interactions
    assert enc.query_id_encoder.rules[0].get_mapping() == {"u1": 0, "u2": 1, "u3": 2}
    assert enc.item_id_encoder.rules[0].get_mapping() == {"ix": 0, "iy": 1, "iz": 2}
    rows = {
        r["query_id"]: r
        for r in out.interactions.orderBy("query_id").collect()
    }
    assert set(rows) == {0, 1}
    assert rows[1]["item_id"] == 0 and rows[1]["channel"] == 0
    assert rows[1]["tags"] == [0, 1] and rows[0]["tags"] == []
    assert {r["lang"] for r in out.query_features.collect()} <= {0, 1}
    # decode round-trip through the bundled encoder
    decoded = enc.query_and_item_id_encoder.inverse_transform(out.interactions)
    assert {(r["query_id"], r["item_id"]) for r in decoded.collect()} == {
        ("u2", "ix"),
        ("u1", "iy"),
    }
    assert enc.get_encoder("nope") is None
    # a column added after fit warns and passes through untouched
    ds2 = Dataset(
        schema
        + FeatureSchema(
            [
                FeatureInfo(
                    "extra",
                    FeatureType.CATEGORICAL,
                    feature_source=FeatureSource.INTERACTIONS,
                )
            ]
        ),
        inter.withColumn("extra", F.lit("x")),
        query_features=qf,
        item_features=itf,
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out2 = enc.transform(ds2)
    assert any(issubclass(w.category, LabelEncoderTransformWarning) for w in caught)
    assert [r["extra"] for r in out2.interactions.collect()] == ["x", "x"]


def test_tensor_sequence_tokenizer(spark, tmp_path):
    """TensorSequenceTokenizer: per-source sequence assembly, encoder
    reuse, SparkSequentialDataset ops and save/load (reference
    sequence_tokenizer.py:29, sequential_dataset.py:18)."""
    import numpy as np

    from replay_spark.data import (
        Dataset,
        FeatureHint,
        FeatureInfo,
        FeatureSchema,
        FeatureSource,
        FeatureType,
        TensorFeatureInfo,
        TensorFeatureSource,
        TensorSchema,
    )
    from replay_spark.data.nn import SequenceTokenizer, SparkSequentialDataset

    inter = spark.createDataFrame(
        [
            ("u1", "b", 2, 1.0),
            ("u1", "a", 1, 2.0),
            ("u2", "c", 1, 3.0),
            ("u1", "c", 3, 4.0),
        ],
        "query_id string, item_id string, ts long, rating double",
    )
    qf = spark.createDataFrame(
        [("u1", "ru"), ("u2", "en")], "query_id string, lang string"
    )
    itf = spark.createDataFrame(
        [("a", 10.0), ("b", 20.0), ("c", 30.0)], "item_id string, price double"
    )
    fschema = FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            FeatureInfo("ts", FeatureType.NUMERICAL, FeatureHint.TIMESTAMP),
            FeatureInfo("rating", FeatureType.NUMERICAL, FeatureHint.RATING),
            FeatureInfo(
                "lang",
                FeatureType.CATEGORICAL,
                feature_source=FeatureSource.QUERY_FEATURES,
            ),
            FeatureInfo(
                "price",
                FeatureType.NUMERICAL,
                feature_source=FeatureSource.ITEM_FEATURES,
            ),
        ]
    )
    ds = Dataset(fschema, inter, query_features=qf, item_features=itf)
    tschema = TensorSchema(
        [
            TensorFeatureInfo(
                "item_id_seq",
                FeatureType.CATEGORICAL,
                is_seq=True,
                feature_hint=FeatureHint.ITEM_ID,
                feature_sources=[
                    TensorFeatureSource(FeatureSource.INTERACTIONS, "item_id")
                ],
            ),
            TensorFeatureInfo(
                "rating_seq",
                FeatureType.NUMERICAL,
                is_seq=True,
                feature_hint=FeatureHint.RATING,
                feature_sources=[
                    TensorFeatureSource(FeatureSource.INTERACTIONS, "rating")
                ],
            ),
            TensorFeatureInfo(
                "price_seq",
                FeatureType.NUMERICAL,
                is_seq=True,
                feature_sources=[
                    TensorFeatureSource(FeatureSource.ITEM_FEATURES, "price")
                ],
            ),
            TensorFeatureInfo(
                "lang_seq",
                FeatureType.CATEGORICAL,
                is_seq=True,
                feature_sources=[
                    TensorFeatureSource(FeatureSource.QUERY_FEATURES, "lang")
                ],
            ),
            TensorFeatureInfo(
                "lang_scalar",
                FeatureType.CATEGORICAL,
                feature_sources=[
                    TensorFeatureSource(FeatureSource.QUERY_FEATURES, "lang")
                ],
            ),
        ]
    )
    # reference-signature dispatch: SequenceTokenizer(tensor_schema, ...)
    tok = SequenceTokenizer(tschema, allow_collect_to_master=True)
    seq_ds = tok.fit_transform(ds)
    assert isinstance(seq_ds, SparkSequentialDataset)
    assert len(seq_ds) == 2
    # cardinality assigned from the fitted mapping (3 items)
    assert tschema["item_id_seq"].cardinality == 3

    rows = {r["query_id"]: r for r in seq_ds.sequences.collect()}
    u1 = rows[tok.query_id_encoder.rules[0].get_mapping()["u1"]]
    # time order: a(ts1) b(ts2) c(ts3) -> encoded [0,1,2]
    assert u1["item_id_seq"] == [0, 1, 2]
    assert u1["rating_seq"] == [2.0, 1.0, 4.0]
    assert u1["price_seq"] == [10.0, 20.0, 30.0]
    assert u1["lang_seq"] == [1, 1, 1] and u1["lang_scalar"] == [1]

    assert seq_ds.get_max_sequence_length() == 3
    np.testing.assert_array_equal(
        seq_ds.get_sequence_by_query_id(int(u1["query_id"]), "item_id_seq"),
        [0, 1, 2],
    )
    # driver-side index getters (gated)
    assert seq_ds.get_sequence_length(0) in (1, 3)
    # filter + keep_common
    only_u1 = seq_ds.filter_by_query_id([int(u1["query_id"])])
    assert len(only_u1) == 1
    a, b = SparkSequentialDataset.keep_common_query_ids(seq_ds, only_u1)
    assert len(a) == 1 and len(b) == 1
    # save / load round-trip
    path = str(tmp_path / "seqds")
    seq_ds.save(path)
    loaded = SparkSequentialDataset.load(path, spark)
    assert loaded.schema.names == tschema.names
    assert len(loaded) == 2
    # subset transform
    sub = tok.transform(ds, tensor_features_to_keep=["item_id_seq"])
    assert set(sub.sequences.columns) == {"query_id", "item_id_seq"}


def test_tfrecord_roundtrip_and_determinism(spark, tmp_path):
    """TFRecord sink/source: typed features round-trip through real
    shard files, CRCs verify, and a re-export of the same data is
    byte-identical."""
    from replay_spark.data.tfrecord import read_tfrecord, write_tfrecord

    df = spark.createDataFrame(
        [
            (1, "alpha", -5, [1, 2, 3], [0.5, -1.25]),
            (2, "béta", 7, [10], [2.0]),
            (3, "gamma", 0, [], None),
        ],
        "k long, txt string, neg long, lens array<long>, "
        "emb array<float>",
    )
    out1 = str(tmp_path / "tfr1")
    shards = write_tfrecord(df, out1, key_column="k", num_shards=4)
    assert shards and all(s.endswith(".tfrecord") for s in shards)
    back = read_tfrecord(
        spark,
        out1,
        {
            "k": "int64",
            "txt": "string",
            "neg": "int64",
            "lens": "int64_list",
            "emb": "float_list",
        },
    )
    rows = {r.k: r for r in back.collect()}
    assert len(rows) == 3
    assert rows[1].txt == "alpha" and rows[2].txt == "béta"
    assert rows[1].neg == -5 and rows[2].neg == 7
    assert list(rows[1].lens) == [1, 2, 3]
    assert list(rows[1].emb) == [0.5, -1.25]
    # empty list features are skipped (protobuf oneof is ambiguous),
    # so they decode as null; absent features also null
    assert rows[3].lens is None
    assert rows[3].emb is None

    out2 = str(tmp_path / "tfr2")
    write_tfrecord(df, out2, key_column="k", num_shards=4)
    import os

    for s in shards:
        p1, p2 = os.path.join(out1, s), os.path.join(out2, s)
        assert open(p1, "rb").read() == open(p2, "rb").read()


def test_tfrecord_wire_format_edges():
    """Protobuf wire-format edges: 10-byte negative varints, large
    int64s, float32 narrowing, unpacked-field tolerance on decode,
    and frame CRC verification."""
    import struct

    import numpy as np
    import pytest

    from replay_spark.data.tfrecord import (
        decode_example,
        encode_example,
        frame_tfrecords,
        masked_crc32c,
        split_tfrecords,
    )

    ex = encode_example(
        {"a": [-(1 << 62), (1 << 62)], "f": [1e39, -0.1]}
    )
    back = decode_example(ex)
    assert back["a"] == ("int64", [-(1 << 62), 1 << 62])
    fs = back["f"][1]
    assert fs[0] == float(np.float32("inf")) or fs[0] == float(
        np.float32(1e39)
    )  # overflow to inf, exactly as float32
    assert fs[1] == float(np.float32(-0.1))

    # hand-build an UNPACKED Int64List/FloatList — decoders accept it
    inner = b"\x08\x2a" + b"\x08\x07"  # two unpacked varints 42, 7
    feature = b"\x1a" + bytes([len(inner)]) + inner
    entry = (
        b"\x0a\x01n" + b"\x12" + bytes([len(feature)]) + feature
    )
    feats = b"\x0a" + bytes([len(entry)]) + entry
    msg = b"\x0a" + bytes([len(feats)]) + feats
    assert decode_example(msg)["n"] == ("int64", [42, 7])

    stream = frame_tfrecords([ex])
    # tamper with the length header -> resync error caught
    bad = bytearray(stream)
    bad[0] ^= 1
    with pytest.raises(ValueError, match="length CRC"):
        split_tfrecords(bytes(bad))
    # data crc skippable, length crc is not
    (ln,) = struct.unpack("<Q", stream[:8])
    tampered = (
        stream[: 12 + ln]
        + struct.pack("<I", (masked_crc32c(b"x")))
    )
    assert split_tfrecords(tampered, verify=False)


def test_avro_primitives():
    """Spec golden vectors (Avro 1.11 'Binary Encoding'): zigzag
    varints, plus exhaustive roundtrip of the supported value
    types through one container."""
    from replay_spark.data.avro import (
        build_ocf,
        decode_long,
        encode_long,
        parse_ocf,
    )

    assert encode_long(0) == b"\x00"
    assert encode_long(-1) == b"\x01"
    assert encode_long(1) == b"\x02"
    assert encode_long(-2) == b"\x03"
    assert encode_long(64) == b"\x80\x01"
    for n in (0, 1, -1, 63, -64, 64, 2**40, -(2**40), 2**62):
        assert decode_long(memoryview(encode_long(n)), 0)[0] == n
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "opt", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
        ],
    }
    recs = [
        {"k": 1, "s": "héllo", "opt": None, "arr": [1, -2, 3],
         "d": 3.5, "b": True, "raw": b"\x00\xff"},
        {"k": -(2**40), "s": "", "opt": 42, "arr": [],
         "d": -0.0, "b": False, "raw": b""},
    ]
    for codec in ("null", "deflate"):
        sch2, got = parse_ocf(build_ocf(recs, schema, codec=codec))
        assert sch2 == schema and got == recs
    # corrupt sync must be detected
    blob = bytearray(build_ocf(recs, schema, codec="null"))
    blob[-1] ^= 0xFF
    import pytest

    with pytest.raises(ValueError, match="sync"):
        parse_ocf(bytes(blob))


def test_avro_spark_roundtrip(spark, tmp_path):
    """write_avro -> read_avro preserves values, types, nulls, and
    arrays; re-export of the same data is byte-identical."""
    import os

    from pyspark.sql import functions as F

    from replay_spark.data.avro import read_avro, write_avro

    df = spark.range(0, 50).select(
        F.col("id").alias("k"),
        F.concat(F.lit("doc-"), F.col("id")).alias("s"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 7).alias("opt"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        (F.col("id") / 4.0).alias("d"),
        (F.col("id") % 2 == 0).alias("b"),
    )
    p1, p2 = str(tmp_path / "a1"), str(tmp_path / "a2")
    shards = write_avro(df, p1, key_column="k", num_shards=4)
    assert shards == [f"shard-{i:05d}.avro" for i in range(4)]
    back = read_avro(spark, p1)
    assert dict(back.dtypes) == dict(df.dtypes)
    got = {r.k: r for r in back.collect()}
    assert len(got) == 50
    assert got[6].opt == 42 and got[7].opt is None
    assert list(got[9].arr) == [9, 10] and got[9].d == 2.25
    assert got[9].s == "doc-9" and got[9].b is False
    write_avro(df, p2, key_column="k", num_shards=4)
    for s in shards:
        with open(os.path.join(p1, s), "rb") as f1, open(
            os.path.join(p2, s), "rb"
        ) as f2:
            assert f1.read() == f2.read(), s


def test_arrow_ipc_roundtrip_and_determinism(spark, tmp_path):
    """Arrow IPC sink/source: lossless roundtrip (longs, doubles,
    strings, binary, arrays), byte-identical re-export, one file per
    non-empty shard, and empty-dir read raises."""
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from replay_spark.data.arrow_ipc import read_arrow_ipc, write_arrow_ipc

    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") * 0.5).alias("x"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.encode(F.concat(F.lit("b"), F.col("id")), "utf-8").alias("raw"),
        F.array(F.col("id"), F.col("id") * 2).alias("arr"),
    )
    out = str(tmp_path / "ipc")
    files = write_arrow_ipc(df, out, key_column="k", num_shards=4)
    assert files == [f"shard-{i:05d}.arrow" for i in range(4)]
    back = read_arrow_ipc(spark, out)
    assert dict(back.dtypes) == dict(df.dtypes)
    a = sorted(
        (r.k, r.x, r.s, bytes(r.raw), tuple(r.arr)) for r in back.collect()
    )
    b = sorted(
        (r.k, r.x, r.s, bytes(r.raw), tuple(r.arr)) for r in df.collect()
    )
    assert a == b

    def digest(d):
        h = hashlib.sha256()
        for f in sorted(__import__("os").listdir(d)):
            h.update(open(f"{d}/{f}", "rb").read())
        return h.hexdigest()

    out2 = str(tmp_path / "ipc2")
    write_arrow_ipc(df.repartition(7), out2, key_column="k", num_shards=4)
    assert digest(out) == digest(out2)  # layout is deterministic

    with pytest.raises(FileNotFoundError):
        read_arrow_ipc(spark, str(tmp_path / "nope" / "x"))
    # an existing dir with no shards raises the module's own error
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no .arrow shards"):
        read_arrow_ipc(spark, str(empty))


def test_arrow_ipc_nullable_int_schema_faithful(spark, tmp_path):
    """A nullable long column (None -> NaN on the pandas hop) must
    round-trip as long, not silently widen to double: the writer
    derives the Arrow schema from df.schema instead of pandas
    inference."""
    from replay_spark.data.arrow_ipc import read_arrow_ipc, write_arrow_ipc

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v long"
    )
    out = str(tmp_path / "ipc_null")
    write_arrow_ipc(df, out, key_column="k", num_shards=2)
    import pyarrow as pa

    shard = sorted(
        f for f in __import__("os").listdir(out) if f.endswith(".arrow")
    )[0]
    with pa.memory_map(f"{out}/{shard}") as mm:
        sch = pa.ipc.open_file(mm).schema
    assert sch.field("v").type == pa.int64()
    back = read_arrow_ipc(spark, out)
    assert dict(back.dtypes)["v"] == "bigint"
    got = {r.k: r.v for r in back.collect()}
    assert got == {1: 10, 2: None, 3: 30}


def test_sinks_deterministic_with_duplicate_keys(spark, tmp_path):
    """Re-exports stay byte-identical when the sort key has
    duplicates: the writers break ties with a full-row hash, not
    post-shuffle arrival order."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from replay_spark.data.arrow_ipc import write_arrow_ipc
    from replay_spark.data.avro import write_avro
    from replay_spark.data.tfrecord import write_tfrecord

    # many rows per key, distinguishable only by payload
    df = spark.range(0, 300).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("payload")
    )

    def digest(d):
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            h.update(open(os.path.join(d, f), "rb").read())
        return h.hexdigest()

    for name, writer in (
        ("tfr", write_tfrecord),
        ("avro", write_avro),
        ("ipc", write_arrow_ipc),
    ):
        d1, d2 = str(tmp_path / f"{name}1"), str(tmp_path / f"{name}2")
        writer(df.repartition(3), d1, key_column="k", num_shards=2)
        writer(df.repartition(11), d2, key_column="k", num_shards=2)
        assert digest(d1) == digest(d2), name


def test_tfrecord_float32_narrowing_warns_nothing():
    """float64 -> float32 narrowing (incl. out-of-range values that
    become inf per IEEE-754) must not leak a numpy RuntimeWarning."""
    import warnings

    import numpy as np

    from replay_spark.data.tfrecord import decode_example, encode_example

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        ex = encode_example({"f": [1e39, -1e40, 0.25]})
    kind, vals = decode_example(ex)["f"]
    assert kind == "float"
    assert vals[0] == float(np.float32("inf"))
    assert vals[1] == float(np.float32("-inf"))
    assert vals[2] == 0.25


def _id_schema(*extra):
    return FeatureSchema(
        [
            FeatureInfo("query_id", FeatureType.CATEGORICAL, FeatureHint.QUERY_ID),
            FeatureInfo("item_id", FeatureType.CATEGORICAL, FeatureHint.ITEM_ID),
            *extra,
        ]
    )


@pytest.fixture()
def session_conf(spark):
    """Set session confs for one test; restored afterwards."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.mark.parametrize("aqe", [True, False])
def test_dataset_label_encoder_codes_are_dense_ranks(spark, session_conf, aqe):
    """String query ids, int item ids and array<string> elements get
    their column's ascending ``dense_rank() - 1``. With AQE off and 37
    shuffle partitions several columns share a range partition, which
    pins the subtraction of earlier columns' rows from each offset."""
    from pyspark.sql import Window

    from replay_spark.data import DatasetLabelEncoder, FeatureSource

    if not aqe:
        session_conf("spark.sql.adaptive.enabled", "false")
        session_conf("spark.sql.shuffle.partitions", "37")
    rows = [
        (f"u{(7 * i) % 53:02d}", (11 * i) % 41 - 5, [f"t{(3 * i) % 29}", f"t{i % 13}"])
        for i in range(300)
    ]
    inter = spark.createDataFrame(
        rows, "query_id string, item_id int, tags array<string>"
    )
    schema = _id_schema(
        FeatureInfo(
            "tags",
            FeatureType.CATEGORICAL_LIST,
            feature_source=FeatureSource.INTERACTIONS,
        )
    )
    enc = DatasetLabelEncoder()
    out = enc.fit_transform(Dataset(schema, inter, check_consistency=False))

    values = {
        "query_id": inter.select("query_id"),
        "item_id": inter.select("item_id"),
        "tags": inter.select(F.explode("tags").alias("tags")),
    }
    expected = {}
    for column, frame in values.items():
        ranks = frame.distinct().select(
            column, F.dense_rank().over(Window.orderBy(column)) - 1
        )
        expected[column] = dict(ranks.collect())
        assert enc.get_encoder(column).rules[0].get_mapping() == expected[column]
    got = sorted(
        (r.query_id, r.item_id, tuple(r.tags)) for r in out.interactions.collect()
    )
    assert got == sorted(
        (
            expected["query_id"][q],
            expected["item_id"][i],
            tuple(expected["tags"][t] for t in tags),
        )
        for q, i, tags in rows
    )


def test_dataset_label_encoder_null_id_raises(spark):
    """A null id has no code: fit_transform under 'error' still checks
    the column whose fit saw a null."""
    from replay_spark.data import DatasetLabelEncoder

    inter = spark.createDataFrame(
        [("u1", "a"), (None, "b")], "query_id string, item_id string"
    )
    with pytest.raises(ValueError, match="query_id"):
        DatasetLabelEncoder().fit_transform(
            Dataset(_id_schema(), inter, check_consistency=False)
        )


def test_dataset_label_encoder_unknown_item_named(spark):
    from replay_spark.data import DatasetLabelEncoder

    train = spark.createDataFrame(
        [("u1", "a"), ("u2", "b")], "query_id string, item_id string"
    )
    test = spark.createDataFrame(
        [("u1", "b"), ("u2", "zz")], "query_id string, item_id string"
    )
    enc = DatasetLabelEncoder().fit(
        Dataset(_id_schema(), train, check_consistency=False)
    )
    with pytest.raises(ValueError, match="item_id"):
        enc.transform(Dataset(_id_schema(), test, check_consistency=False))


def test_partial_fit_keeps_shared_code_table(spark):
    """A rule's partial_fit appends its own codes and leaves the
    encoder-owned code table, which its siblings read, persisted."""
    from pyspark import StorageLevel

    from replay_spark.data import DatasetLabelEncoder

    train = spark.createDataFrame(
        [("u1", "a"), ("u2", "b")], "query_id string, item_id string"
    )
    enc = DatasetLabelEncoder().fit(
        Dataset(_id_schema(), train, check_consistency=False)
    )
    [table] = enc._tables
    assert table.storageLevel == StorageLevel.MEMORY_AND_DISK
    query_rule = enc.get_encoder("query_id").rules[0]
    item_rule = enc.get_encoder("item_id").rules[0]
    query_rule.partial_fit(
        spark.createDataFrame([("u0",), ("u2",)], "query_id string")
    )
    assert table.is_cached
    assert query_rule.get_mapping() == {"u1": 0, "u2": 1, "u0": 2}
    assert item_rule.get_mapping() == {"a": 0, "b": 1}


# Measured 6-10 jobs in the test session (local[4], AQE on, 4 shuffle
# partitions), against 27-31 with two fit actions and one unknown scan
# per rule; the slack absorbs AQE re-submitting a stage job.
JOB_BOUND = 12


def test_dataset_label_encoder_job_count(spark, spark_work):
    """Tripwire: fitting and applying every rule of a two-id Dataset
    costs a fixed handful of Spark jobs. One action per rule, or an
    unknown scan per rule, pushes it over the bound."""
    from replay_spark.data import DatasetLabelEncoder

    inter = spark.createDataFrame(
        [(f"u{i % 5}", i % 7) for i in range(40)], "query_id string, item_id int"
    )
    ds = Dataset(_id_schema(), inter, check_consistency=False)
    rows, jobs, _ = spark_work(
        lambda: DatasetLabelEncoder().fit_transform(ds).interactions.count()
    )
    assert rows == 40
    assert jobs <= JOB_BOUND, jobs
