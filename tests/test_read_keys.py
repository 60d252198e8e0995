"""``LakeTable.read_keys`` — point and small-set lookups: keys hash to
buckets on the driver (functions/xxh64.py) and an exact Catalyst key
filter selects them, so the result must equal the full ``read()``
filtered on the driver for every key type the bucket hash encodes
differently, on COW and MOR state, and a compound-key lookup must not
leak the cross product of its per-column value lists. The parity
cases run with the driver's local time zone off UTC (the session zone
stays UTC), where a timestamp literal that crosses py4j as an instant
would shift."""

from __future__ import annotations

import datetime as dt
import time
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
from w3_data_etl_pipeline_spark.session import local_frame

N = 40

KEY_TYPES = {
    "int": (T.IntegerType(), lambda i: i * 7919 - 100_000),
    "bigint": (T.LongType(), lambda i: i * 10**12 + 3),
    "string": (T.StringType(), lambda i: f"k{i}-é"),
    "date": (T.DateType(), lambda i: dt.date(2020, 1, 1) + dt.timedelta(days=37 * i)),
    "timestamp": (
        T.TimestampType(),
        lambda i: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=3607 * i, microseconds=11 * i),
    ),
    "timestamp_ntz": (
        T.TimestampNTZType(),
        lambda i: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=3607 * i, microseconds=11 * i),
    ),
    "decimal(10,2)": (T.DecimalType(10, 2), lambda i: Decimal(i * 1234 - 20_000) / 100),
}


@pytest.fixture
def driver_tz_off_utc(monkeypatch):
    """The driver process's local zone at a fixed UTC-5 (a POSIX rule,
    no zone database needed) for the test, restored after it."""
    monkeypatch.setenv("TZ", "XST+05")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _events(spark, key_fields, rows):
    schema = T.StructType(
        key_fields
        + [
            T.StructField("v", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    return local_frame(spark, rows, schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _matches(t, key_cols, keys):
    """The full read filtered on the driver: values come back through
    ``fromInternal``, so no literal crosses into Spark."""
    want = set(keys)
    return sorted(
        tuple(r) for r in t.read().collect() if tuple(r[c] for c in key_cols) in want
    )


@pytest.mark.parametrize("name", list(KEY_TYPES))
def test_read_keys_matches_filtered_read(spark, tmp_path, driver_tz_off_utc, name):
    typ, gen = KEY_TYPES[name]
    key = [T.StructField("k", typ)]
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType(key + [T.StructField("v", T.StringType())]),
        ["k"], n_buckets=8,
    )
    t.merge(_events(spark, key, [(gen(i), f"v{i}", i, "I") for i in range(N)]), 0)
    wanted = [(gen(i),) for i in (0, 3, 17, N - 1)] + [(gen(N + 5),)]  # + a missing key
    got = _rows(t.read_keys(wanted))
    assert len(got) == 4 and got == _matches(t, ["k"], wanted)
    # MOR: updates and deletes land as deltas beside the COW base
    t.merge(
        _events(
            spark, key,
            [(gen(i), f"u{i}", 100 + i, "D" if i % 2 else "U") for i in (3, 17)]
            + [(gen(0), "u0", 200, "U")],
        ),
        1, mode="mor",
    )
    got = _rows(t.read_keys(wanted))
    assert got == _matches(t, ["k"], wanted)
    assert {r[1] for r in got} == {"u0", "v39"}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_read_keys_compound_key_is_exact(spark, tmp_path, mode):
    key = [T.StructField("a", T.StringType()), T.StructField("b", T.LongType())]
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType(key + [T.StructField("v", T.StringType())]),
        ["a", "b"], n_buckets=4,
    )
    combos = [(a, b) for a in ("a1", "a2") for b in (1, 2)]
    t.merge(_events(spark, key, [(a, b, f"{a}{b}", 1, "I") for a, b in combos]), 0)
    if mode == "mor":
        t.merge(_events(spark, key, [(a, b, f"{a}{b}'", 2, "U") for a, b in combos]), 1, mode="mor")
    wanted = [("a1", 2), ("a2", 1)]
    got = t.read_keys(wanted).collect()
    assert sorted((r["a"], r["b"]) for r in got) == wanted
    assert _rows(t.read_keys(wanted)) == _matches(t, ["a", "b"], wanted)


def test_read_keys_point_read_is_one_job(spark, tmp_path):
    """A COW one-key lookup runs exactly one Spark job — the caller's
    own action: no bucket-hash job and no lookup-frame job."""
    key = [T.StructField("k", T.LongType())]
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType(key + [T.StructField("v", T.StringType())]),
        ["k"], n_buckets=8,
    )
    t.merge(_events(spark, key, [(i, f"v{i}", i, "I") for i in range(N)]), 0)
    sc = spark.sparkContext
    sc.setJobGroup("read_keys_one_job", "point read")
    try:
        rows = t.read_keys([(7,)]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [tuple(r) for r in rows] == [(7, "v7")]
    assert len(sc.statusTracker().getJobIdsForGroup("read_keys_one_job")) == 1
