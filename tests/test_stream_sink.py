"""LakeTable as a Structured Streaming SINK (streaming/source.py,
LakeTableStreamWriter) + the Spark-compatible xxh64 twin it depends
on: bit-exact bucket parity (read_keys pruning would silently miss
mis-bucketed rows), merge-twin equivalence, exactly-once epoch
replay, constraint enforcement, write-defaults, and the v1 error
surface."""

from __future__ import annotations

import datetime
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from w3_data_etl_pipeline_spark.functions.xxh64 import bucket_of, spark_xxhash64
from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
from w3_data_etl_pipeline_spark.session import local_frame
from w3_data_etl_pipeline_spark.streaming.source import (
    LakeTableBatchSource,
    LakeTableStreamWriter,
    _SinkFiles,
)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
EV_DDL = "user_id long, event_type string, value double, lsn long, op string"


@pytest.fixture()
def reg(spark):
    spark.dataSource.register(LakeTableBatchSource)
    return spark


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _drain_files(spark, src_glob, schema_ddl, root, ckpt):
    q = (
        spark.readStream.schema(schema_ddl)
        .parquet(src_glob)
        .writeStream.format("laketable")
        .option("path", root)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


# every type the twin encodes differently (4-byte ints, 8-byte longs,
# float/double bits, short and long decimals, text and bytes), with the
# edge values Spark normalizes: -0.0, NaN, negative decimals, NULL
HASH_TYPES = {
    "bo": T.BooleanType(),
    "by": T.ByteType(),
    "sh": T.ShortType(),
    "i": T.IntegerType(),
    "l": T.LongType(),
    "f": T.FloatType(),
    "d": T.DoubleType(),
    "dt": T.DateType(),
    "ts": T.TimestampType(),
    "ntz": T.TimestampNTZType(),
    "dec": T.DecimalType(10, 2),
    "big": T.DecimalType(30, 3),
    "s": T.StringType(),
    "bin": T.BinaryType(),
}


def _hash_row(rng):
    base = datetime.datetime(2024, 1, 1)
    return (
        rng.random() < 0.5,
        rng.randint(-128, 127),
        rng.randint(-(2**15), 2**15 - 1),
        rng.randint(-(2**31), 2**31 - 1),
        rng.randint(-(2**62), 2**62),
        rng.choice([rng.uniform(-1e6, 1e6), -0.0, 0.0, float("nan")]),
        rng.choice([rng.uniform(-1e12, 1e12), -0.0, 0.0, float("nan")]),
        datetime.date(1960, 1, 1) + datetime.timedelta(days=rng.randint(0, 40000)),
        base + datetime.timedelta(microseconds=rng.randint(-(10**15), 10**15)),
        base + datetime.timedelta(seconds=rng.randint(-(10**9), 10**9)),
        Decimal(rng.randint(-(10**10) + 1, 10**10 - 1)).scaleb(-2),
        Decimal(rng.randint(-(10**30) + 1, 10**30 - 1)).scaleb(-3),
        "".join(rng.choice("abz/._é-0") for _ in range(rng.randint(0, 40))),
        bytes(rng.randrange(256) for _ in range(rng.randint(0, 40))),
    )


def test_xxhash64_parity_with_spark(spark):
    rng = random.Random(99)
    rows = [_hash_row(rng) for _ in range(100)] + [(None,) * len(HASH_TYPES)]
    schema = T.StructType([T.StructField(c, t) for c, t in HASH_TYPES.items()])
    cols = list(HASH_TYPES)
    df = local_frame(spark, rows, schema).select(
        *cols,
        *[F.xxhash64(c).alias(f"h_{c}") for c in cols],
        F.xxhash64(*cols).alias("h_all"),
        F.xxhash64("s", "l").alias("h_sl"),
        F.pmod(F.xxhash64("i", "dt", "dec"), F.lit(16)).cast("int").alias("bk"),
    )
    types = list(HASH_TYPES.values())
    t = HASH_TYPES
    for r in df.collect():
        for c in cols:
            assert spark_xxhash64([r[c]], [t[c]]) == r[f"h_{c}"], (c, r[c])
        assert spark_xxhash64([r[c] for c in cols], types) == r["h_all"]
        assert spark_xxhash64([r["s"], r["l"]], [t["s"], t["l"]]) == r["h_sl"]
        assert bucket_of(
            [r["i"], r["dt"], r["dec"]], [t["i"], t["dt"], t["dec"]], 16
        ) == r["bk"]


def test_sink_and_merge_agree_on_int_key_bucket(reg, spark, tmp_path):
    """An ``int`` key hashes as Spark's 4-byte ``hashInt``: a sink row
    bucketed as a long would land beside, not over, the merged row of
    the same key — a point read would miss it and compaction would
    keep both."""
    root = str(tmp_path / "t")
    ddl = "k int, v string, lsn long, op string"
    t = LakeTable.create(
        spark, root,
        T.StructType([T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]),
        ["k"], n_buckets=8,
    )
    t.merge(local_frame(spark, [(k, "merged", 1, "U") for k in range(20)], ddl), 0)
    w = LakeTableStreamWriter(root, T.StructType.fromDDL(ddl))
    w.commit([w.write(iter(local_frame(spark, [(3, "sink", 2, "U")], ddl).collect()))], 0)
    assert [r["v"] for r in t.read_keys([(3,)]).collect()] == ["sink"]
    t.compact(min_deltas=1, min_delta_rows=1)
    assert [r["v"] for r in t.read().filter("k = 3").collect()] == ["sink"]
    assert t.read().count() == 20


def test_sink_matches_merge_twin(reg, spark, tmp_path):
    root, twin_root = str(tmp_path / "t"), str(tmp_path / "w")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=8)
    twin = LakeTable.create(spark, twin_root, SCHEMA, ["user_id"], n_buckets=8)
    b0 = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.lit("a").alias("event_type"),
        (F.col("id") % 7).cast("double").alias("value"),
        F.col("id").alias("lsn"),
        F.lit("U").alias("op"),
    )
    b1 = spark.createDataFrame(
        [(5, "upd", 99.0, 1000, "U"), (6, None, None, 1001, "D"),
         (500, "new", 1.0, 1002, "U")],
        EV_DDL,
    )
    src = str(tmp_path / "in")
    b0.write.parquet(src + "/b0")
    _drain_files(spark, src + "/*", EV_DDL, root, str(tmp_path / "ck"))
    twin.merge(b0, 0)
    assert _rows(t.read()) == _rows(twin.read())
    b1.write.parquet(src + "/b1")
    _drain_files(spark, src + "/*", EV_DDL, root, str(tmp_path / "ck"))
    twin.merge(b1, 1)
    assert _rows(t.read()) == _rows(twin.read())
    # bucket parity the hard way: point lookups PRUNE by bucket, so a
    # mis-bucketed row would simply not be found
    assert t.read_keys([(5,), (500,)]).count() == 2
    # compaction folds the sink's deltas to the same state
    t.compact(min_deltas=1, min_delta_rows=1)
    assert _rows(t.read()) == _rows(twin.read())


def test_sink_string_keys(reg, spark, tmp_path):
    # the north-star key shape: (repo, path) string keys
    s = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, s, ["repo", "path"], n_buckets=16)
    ddl = "repo string, path string, content string, lsn long, op string"
    ev = spark.createDataFrame(
        [(f"r{i % 7}", f"src/f{i}.py", f"c{i}", i, "U") for i in range(100)],
        ddl,
    )
    src = str(tmp_path / "in")
    ev.write.parquet(src + "/b0")
    _drain_files(spark, src + "/*", ddl, root, str(tmp_path / "ck"))
    assert t.read().count() == 100
    assert t.read_keys([("r1", "src/f1.py"), ("r3", "src/f3.py")]).count() == 2


def test_sink_exactly_once_replay(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    ev = spark.createDataFrame([(1, "a", 1.0, 1, "U")], EV_DDL)
    src = str(tmp_path / "in")
    ev.write.parquet(src + "/b0")
    _drain_files(spark, src + "/*", EV_DDL, root, str(tmp_path / "ck"))
    v = t.current_version()
    # a replayed epoch (same batchId) must commit NOTHING
    w = LakeTableStreamWriter(root, T.StructType.fromDDL(EV_DDL))
    msg = w.write(iter(spark.createDataFrame([(9, "x", 2.0, 9, "U")], EV_DDL).collect()))
    w.commit([msg], 0)  # batch 0 already applied by the drain
    assert t.current_version() == v
    assert t.read().filter("user_id = 9").count() == 0
    # and a fresh epoch commits normally
    msg = w.write(iter(spark.createDataFrame([(9, "x", 2.0, 9, "U")], EV_DDL).collect()))
    w.commit([msg], 1)
    assert t.current_version() == v + 1
    assert t.read().filter("user_id = 9").count() == 1


def test_sink_constraint_enforced(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    t.add_constraint("v_nonneg", "value >= 0")
    w = LakeTableStreamWriter(root, T.StructType.fromDDL(EV_DDL))
    with pytest.raises(ValueError, match="v_nonneg"):
        w.write(iter(spark.createDataFrame([(1, "a", -5.0, 1, "U")], EV_DDL).collect()))
    # tombstones are exempt (value columns legitimately NULL/anything)
    msg = w.write(
        iter(spark.createDataFrame([(1, None, None, 2, "D")], EV_DDL).collect())
    )
    assert msg.files


def test_sink_write_default_fills_missing_column(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    t.add_column("lang", "string", write_default="und")
    ddl = EV_DDL  # input lacks 'lang'
    w = LakeTableStreamWriter(root, T.StructType.fromDDL(ddl))
    msg = w.write(iter(spark.createDataFrame([(1, "a", 1.0, 1, "U")], ddl).collect()))
    w.commit([msg], 0)
    got = t.read().collect()[0]
    assert got["lang"] == "und"


def test_sink_error_surface(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    with pytest.raises(ValueError, match="missing key column"):
        LakeTableStreamWriter(root, T.StructType.fromDDL("lsn long, op string"))
    with pytest.raises(ValueError, match="missing the 'lsn'"):
        LakeTableStreamWriter(root, T.StructType.fromDDL("user_id long, op string"))
    with pytest.raises(ValueError, match="columns the table lacks"):
        LakeTableStreamWriter(
            root, T.StructType.fromDDL("user_id long, lsn long, extra int")
        )
    lroot = str(tmp_path / "l")
    LakeTable.create(spark, lroot, SCHEMA, ["user_id"], n_buckets=4,
                     row_lineage=True)
    with pytest.raises(ValueError, match="row-lineage"):
        LakeTableStreamWriter(lroot, T.StructType.fromDDL(EV_DDL))
