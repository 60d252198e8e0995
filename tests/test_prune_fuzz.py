"""Differential fuzz of file pruning: for random typed tables and
random predicates, ``read_where(p)`` returns exactly
``read().filter(p)``; over a wider sweep, every file holding a live
row that Spark's filter passes is kept by ``prune_files``; and the
batch DataSource's pushed filters keep every row its unfiltered read
would pass.

Each seed builds one table with every skipping surface live: value
bounds over files clustered by a write order, a partition spec, an equality index
(exact sets, and blooms in files of more than 64 distinct values),
null counts, a MOR delta with a tombstone in one of two buckets, and
a deletion-vector mask.
Columns cover int/bigint, strings with ``''`` and NULL, dates, and
timestamps at second and microsecond precision plus timestamp_ntz.
Predicates cover every operator, AND/OR, IN and BETWEEN, ``TIMESTAMP``
and ``DATE`` literals with space and ``T`` separators against both
date and timestamp columns, and ``(col, op, value)`` tuples with
Python dates and naive or tz-aware datetimes.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
from w3_data_etl_pipeline_spark.session import local_frame
from w3_data_etl_pipeline_spark.streaming.source import LakeTableBatchSource

DDL = (
    "id BIGINT, h BIGINT, i INT, s STRING, d DATE, ts TIMESTAMP, "
    "ts2 TIMESTAMP, ntz TIMESTAMP_NTZ"
)
DAY0 = dt.datetime(2024, 3, 1)
INTS = [-6, -5, -1, 0, 1, 4, 5, 9, 10, 11]
STRS = ["", "a", "ab", "abc", "b", "ba", "z"]
# per seed: partition spec, write-order column, rows, rows per file.
# Seed 0's files hold more than 64 distinct ``h`` values: blooms.
LAYOUTS = {
    0: (["months(d)"], "ts", 200, 70),
    1: (["identity(s)", "days(ts)"], "i", 100, 6),
    2: (["truncate(i, 5)", "hours(ts2)"], "d", 100, 4),
}


def _ts(rng):
    return DAY0 + dt.timedelta(
        days=rng.randrange(3),
        seconds=rng.choice([0, 0, 1, 3599, 3600, 43200, 86399]),
        microseconds=rng.choice([0, 0, 1, 500000, 999999]),
    )


def _row(rng, k, lsn, op="U"):
    maybe = lambda v: None if rng.random() < 0.15 else v  # noqa: E731
    return (
        k,
        k * 7919,
        maybe(rng.choice(INTS)),
        rng.choice(STRS + [None]),
        maybe(DAY0.date() + dt.timedelta(days=rng.randrange(4))),
        maybe(_ts(rng)),
        maybe(DAY0 + dt.timedelta(hours=rng.randrange(0, 72, 12))),
        maybe(_ts(rng)),
        lsn,
        op,
    )


def _table(spark, root, seed):
    spec, order, n, per_file = LAYOUTS[seed]
    rng = random.Random(seed)
    t = LakeTable.create(spark, root, T.StructType.fromDDL(DDL), ["id"], n_buckets=2)
    t.alter_skip_columns(["h", "i", "s"])
    t.alter_partition_spec(spec)
    t.alter_write_order([order], target_rows=per_file)
    ddl = DDL + ", lsn BIGINT, op STRING"
    rows = lambda ks, lsn, op="U": [_row(rng, k, lsn, op) for k in ks]  # noqa: E731
    t.merge(local_frame(spark, rows(range(n), 1), ddl), 0)
    # one MOR delta, confined to bucket 0 so bucket 1 still prunes per
    # file (a bucket holding a delta is kept whole)
    k1, k2, k3 = [
        k
        for f in t.snapshot()["files"] if f["bucket"] == 0
        for k in pq.read_table(os.path.join(t.root, f["path"]), columns=["id"])[0].to_pylist()
    ][:3]
    delta = rows([k1, k2], 2) + rows([k3], 3, op="D")
    t.merge(local_frame(spark, delta, ddl), 1, mode="mor")
    t.delete_where("i = 9", mode="dv")
    return t


def _lit(rng, col):
    """(SQL text, Python value) of a literal for ``col``."""
    if col in ("i", "h"):
        v = rng.choice(INTS) if col == "i" else rng.randrange(160) * 7919
        return str(v), v
    if col == "s":
        v = rng.choice(STRS)
        return "'" + v + "'", v
    if col == "d" or rng.random() < 0.25:
        day = DAY0.date() + dt.timedelta(days=rng.randrange(-1, 5))
        if col == "d" and rng.random() < 0.4:
            v = dt.datetime.combine(day, dt.time(rng.choice([0, 0, 12])))
            return f"TIMESTAMP '{v}'", v
        return f"DATE '{day}'", day
    v = _ts(rng) if col != "ts2" else DAY0 + dt.timedelta(hours=rng.randrange(-2, 74))
    if rng.random() < 0.5:
        v = v.replace(microsecond=0)
    text = v.isoformat(sep=rng.choice(" T"))
    return f"TIMESTAMP '{text}'", v


def _leaf(rng, cols):
    col = rng.choice(cols)
    kind = rng.choice(["cmp"] * 5 + ["null", "in", "between"])
    if kind == "null":
        return f"{col} IS {rng.choice(['', 'NOT '])}NULL"
    if kind == "in":
        return f"{col} IN ({', '.join(_lit(rng, col)[0] for _ in range(rng.randint(1, 3)))})"
    if kind == "between":
        return f"{col} BETWEEN {_lit(rng, col)[0]} AND {_lit(rng, col)[0]}"
    return f"{col} {rng.choice(['=', '==', '<', '<=', '>', '>='])} {_lit(rng, col)[0]}"


def _sql(rng, cols, depth=0):
    if depth == 2 or rng.random() < 0.4:
        return _leaf(rng, cols)
    parts = [_sql(rng, cols, depth + 1) for _ in range(rng.randint(2, 3))]
    return "(" + f" {rng.choice(['AND', 'OR'])} ".join(parts) + ")"


def _tuples(rng):
    out = []
    for _ in range(rng.randint(1, 2)):
        col = rng.choice(["i", "s", "d", "ts", "ts2"])
        op = rng.choice(["=", "==", "<", "<=", ">", ">=", "is_null", "is_not_null"])
        v = None if op.startswith("is_") else _lit(rng, col)[1]
        if isinstance(v, dt.datetime) and rng.random() < 0.3:
            v = v.replace(tzinfo=dt.timezone.utc)
        out.append((col, op, v))
    return out


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    made: dict = {}

    def get(seed):
        if seed not in made:
            made[seed] = _table(spark, str(tmp_path_factory.mktemp("fuzz")), seed)
        return made[seed]

    return get


def _by_pred(frames):
    """Rows of each frame, collected in one Spark job: {index: rows}."""
    union = functools.reduce(
        DataFrame.unionByName, [df.withColumn("_q", F.lit(i)) for i, df in enumerate(frames)]
    )
    out: dict = {i: [] for i in range(len(frames))}
    for r in union.collect():
        out[r["_q"]].append(tuple(r)[:-1])
    return {i: sorted(rows, key=repr) for i, rows in out.items()}


def _preds(t, rng, n):
    cols = ["h", "i", "s", "d", "ts", "ts2", "ntz"]
    return [_sql(rng, cols) for _ in range(n)] + [_tuples(rng) for _ in range(n // 3)]


@pytest.mark.parametrize("seed", sorted(LAYOUTS))
def test_read_where_equals_filtered_read(spark, tables, seed):
    t = tables(seed)
    preds = _preds(t, random.Random(1000 + seed), 6)
    full = t.read().cache()
    got = _by_pred([t.read_where(p) for p in preds])
    want = _by_pred([full.filter(t._pred_cond(p)) for p in preds])
    full.unpersist()
    for i, p in enumerate(preds):
        assert got[i] == want[i], p


@pytest.mark.parametrize("seed", sorted(LAYOUTS))
def test_every_file_holding_a_match_is_kept(spark, tables, seed):
    """The wider sweep, one Spark scan for all predicates: each live
    row of a base-only bucket sits in exactly one base file, and every
    such row matching ``p`` must sit in a file ``prune_files(p)``
    keeps (buckets holding a delta are kept whole by design)."""
    t = tables(seed)
    snap = t.snapshot()
    preds = _preds(t, random.Random(2000 + seed), 120)
    deltas = {f["bucket"] for f in snap["files"] if f.get("kind") == "delta"}
    base = [f for f in snap["files"] if f.get("kind", "base") == "base"]
    root = os.path.abspath(t.root) + "/"
    live = (
        spark.read.parquet(*[root + f["path"] for f in base if f["bucket"] not in deltas])
        .withColumn("_file", F.col("_metadata.file_path"))
        .join(t.read().select("id"), "id", "left_semi")
        .select("_file", *[t._pred_cond(p).alias(f"q{i}") for i, p in enumerate(preds)])
        .collect()
    )
    pruned = 0
    for i, p in enumerate(preds):
        kept = {f["path"] for f in t.prune_files(snap, p)}
        pruned += len(kept) < len(base)
        missed = {r["_file"].split(root, 1)[1] for r in live if r[f"q{i}"]} - kept
        assert not missed, (p, sorted(missed))
    # the sweep must reach the skipping code, not only keep-everything
    assert pruned >= len(preds) // 4
    if seed == 0:
        assert any(f.get("cbloom") for f in base)


def test_pushed_filters_equal_filtered_read(spark, tables):
    """The DataSource's filtered read (its pushed filters prune files)
    equals the same filter over its own unfiltered read."""
    spark.dataSource.register(LakeTableBatchSource)
    t = tables(1)
    rng = random.Random(7)
    src = spark.read.format("laketable").option("path", t.root).load()
    full = local_frame(spark, src.collect(), src.schema)
    for p in ["ts >= DATE '2024-03-02'", "d = TIMESTAMP '2024-03-02 00:00:00'",
              "s = ''", "ntz < TIMESTAMP_NTZ '2024-03-02 00:00:00'",
              _leaf(rng, "hsd") + " AND " + _leaf(rng, "is")]:
        assert _rows(src.filter(p)) == _rows(full.filter(p)), p
