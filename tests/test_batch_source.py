"""Batch Python DataSource over LakeTable (streaming/source.py,
LakeTableBatchSource): resolved-read parity with LakeTable.read()
across MOR/DV/evolution lifecycles, filter pushdown reaching the
manifest layer (admitted-file counts via the trace hook), retained
row-level filter exactness, and versionAsOf/timestampAsOf time
travel."""

from __future__ import annotations

import os
import tempfile

# set at IMPORT (pytest collection) time, before any test module
# creates the shared SparkSession: the python source-runner processes
# inherit the JVM's environment, so this must predate the JVM
TRACE = os.environ.setdefault(
    "LAKETABLE_CDF_TRACE", os.path.join(tempfile.gettempdir(), f"cdf_trace_{os.getpid()}")
)

import pytest  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from w3_data_etl_pipeline_spark.plans.laketable import LakeTable  # noqa: E402
from w3_data_etl_pipeline_spark.streaming.source import (  # noqa: E402
    LakeTableBatchSource,
)

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def reg(spark):
    spark.dataSource.register(LakeTableBatchSource)
    return spark


def _ev(spark, lo, hi, et, lsn):
    return spark.range(lo, hi).select(
        F.col("id").alias("user_id"),
        F.lit(et).alias("event_type"),
        (F.col("id") % 97).cast("double").alias("value"),
        F.lit(lsn).alias("lsn"),
        F.lit("U").alias("op"),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _read(spark, root, **opts):
    r = spark.read.format("laketable").option("path", root)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_resolved_read_parity(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    t.merge(_ev(spark, 0, 300, "a", 1), 0)
    t.merge(_ev(spark, 100, 350, "b", 2), 1, mode="mor")
    t.delete_where("user_id >= 340", mode="dv")
    t.update_where("user_id < 5", {"value": "value + 1000"}, mode="mor")
    assert _rows(_read(spark, root)) == _rows(t.read())


def test_filter_pushdown_prunes_files(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    t.alter_write_order(["value"], target_rows=30)
    t.merge(_ev(spark, 0, 400, "a", 1), 0)
    df = _read(spark, root)
    open(TRACE, "w").close()
    got = _rows(df.filter("value < 5.0"))
    assert got == _rows(t.read().filter("value < 5.0"))
    trace = open(TRACE).read()
    lines = [ln for ln in trace.splitlines() if ln.startswith("batch partitions")]
    assert lines, "pushdown trace missing — env did not reach the runner"
    admitted, total = lines[-1].split("admitted ")[1].split(" files")[0].split("/")
    assert int(admitted) < int(total), trace
    assert "'value', '<'" in lines[-1]


def test_unpushable_filter_still_exact(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    t.merge(_ev(spark, 0, 200, "a", 1), 0)
    df = _read(spark, root)
    got = _rows(df.filter("user_id % 7 = 0 AND upper(event_type) = 'A'"))
    want = _rows(t.read().filter("user_id % 7 = 0 AND upper(event_type) = 'A'"))
    assert got == want and got


def test_timestamp_ntz_column_reads(reg, spark, tmp_path):
    """A timestamp_ntz column reads through the DataSource as its
    wall-clock value, as ``read()`` does, across a MOR delta and a DV
    delete, and a pushed filter on it stays exact."""
    import datetime as dt

    from w3_data_etl_pipeline_spark.session import local_frame

    ddl = "user_id BIGINT, ntz TIMESTAMP_NTZ, ts TIMESTAMP, lsn BIGINT, op STRING"
    day = dt.datetime(2024, 3, 1)
    rows = lambda ks, lsn: [  # noqa: E731
        (k, None if k % 7 == 0 else day + dt.timedelta(hours=k, microseconds=k),
         day + dt.timedelta(minutes=k), lsn, "U")
        for k in ks
    ]
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, T.StructType.fromDDL(ddl.rsplit(", lsn", 1)[0]),
                         ["user_id"], n_buckets=4)
    t.merge(local_frame(spark, rows(range(60), 1), ddl), 0)
    t.merge(local_frame(spark, rows(range(50, 80), 2), ddl), 1, mode="mor")
    t.delete_where("user_id < 5", mode="dv")
    assert _rows(_read(spark, root)) == _rows(t.read())
    cut = "ntz >= TIMESTAMP_NTZ '2024-03-02 12:00:00'"
    assert _rows(_read(spark, root).where(cut)) == _rows(t.read().where(cut))


def test_time_travel_options(reg, spark, tmp_path):
    import time as _time

    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    t.merge(_ev(spark, 0, 100, "a", 1), 0)
    ts_mid = _time.time()
    _time.sleep(0.05)
    t.merge(_ev(spark, 50, 150, "b", 2), 1)
    assert _rows(_read(spark, root, versionAsOf=1)) == _rows(t.read(1))
    assert _rows(_read(spark, root, timestampAsOf=ts_mid)) == _rows(
        t.read_as_of(ts_mid)
    )
    assert _rows(_read(spark, root)) == _rows(t.read())


def test_schema_evolution_read(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    t.merge(_ev(spark, 0, 50, "a", 1), 0)
    t.add_column("lang", "string", initial_default="und")
    t.rename_column("event_type", "etype")
    t.merge(
        spark.range(40, 60).select(
            F.col("id").alias("user_id"),
            F.lit("b").alias("etype"),
            F.lit(1.0).alias("value"),
            F.lit("en").alias("lang"),
            F.lit(2).alias("lsn"),
            F.lit("U").alias("op"),
        ),
        1,
    )
    df = _read(spark, root)
    assert [f.name for f in df.schema.fields] == [
        f.name for f in t.read().schema.fields
    ]
    assert _rows(df) == _rows(t.read())
    got = {r["user_id"]: r for r in df.collect()}
    assert got[0]["lang"] == "und" and got[0]["etype"] == "a"
    assert got[45]["lang"] == "en" and got[45]["etype"] == "b"


def test_in_filter_pushdown(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, ["user_id"], n_buckets=4)
    t.alter_write_order(["value"], target_rows=30)
    t.merge(_ev(spark, 0, 400, "a", 1), 0)
    df = _read(spark, root)
    open(TRACE, "w").close()
    got = _rows(df.filter(F.col("value").isin(1.0, 2.0, 96.0)))
    assert got == _rows(t.read().filter("value in (1.0, 2.0, 96.0)"))
    assert got
    lines = [
        ln for ln in open(TRACE).read().splitlines()
        if ln.startswith("batch partitions")
    ]
    assert lines
    admitted, total = lines[-1].split("admitted ")[1].split(" files")[0].split("/")
    # value-clustered files: an IN over two value regions must still
    # skip the files whose bounds exclude every listed value
    assert int(admitted) < int(total), lines[-1]


def test_partition_tuple_pruning_through_pushed_timestamp_filters(spark, tmp_path):
    """A time-window filter pushed through the batch Python DataSource
    reaches the manifest layer and prunes by PARTITION TUPLE: only the
    in-window day's files are admitted — including the exact-boundary
    day, which requires the tz-aware pushed literal and the naive
    tuple range to compare in one typed domain (pruning coerces the
    literal to naive UTC)."""
    import datetime as dt

    from pyspark.sql import types as T

    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "ptb"), schema, ["event_id"], n_buckets=2)
    t.alter_partition_spec(["days(ts)"])
    rows = [
        (i, dt.datetime(2024, 3, 1) + dt.timedelta(days=i % 3), float(i), i + 1, "U")
        for i in range(30)
    ]
    t.merge(spark.createDataFrame(rows, ["event_id", "ts", "value", "lsn", "op"]), 0)
    # strip manifest stats so ONLY the partition tuple can prune, then
    # delete the out-of-window files: the pushed-filter read can only
    # answer if tuple pruning admitted exactly the in-window day
    snap = t.snapshot()
    stripped = [
        {k: v for k, v in f.items() if k not in ("cmin", "cmax", "cnull")}
        for f in snap["files"]
    ]
    ns = dict(snap, version=snap["version"] + 1, parent=snap["version"],
              files=stripped, operation="strip-stats-test")
    t._write_snapshot(ns)
    keep_day = 19784  # 2024-03-02
    for f in t.snapshot()["files"]:
        if f["pt"][0] != keep_day:
            os.remove(os.path.join(t.root, f["path"]))
    df = (
        spark.read.format("laketable")
        .option("path", t.root)
        .load()
        .filter(
            "ts >= TIMESTAMP '2024-03-02 00:00:00' AND ts < TIMESTAMP '2024-03-03 00:00:00'"
        )
    )
    assert {r["event_id"] for r in df.collect()} == {i for i in range(30) if i % 3 == 1}
