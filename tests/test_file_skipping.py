"""Value-column manifest bounds + predicate-driven file skipping
(VERDICT r3 top-next item): after a clustered rewrite, a selective
predicate must open EXACTLY the files whose manifest bounds intersect
it — pinned via DataFrame.inputFiles() — while always returning the
same rows as a full scan + filter. MOR buckets are exempt from
pruning (resolution needs every version of a key)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from w3_data_etl_pipeline_spark.plans import pruning
from w3_data_etl_pipeline_spark.plans.laketable import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _events(spark, n=2400, keys=320):
    return spark.range(1, n + 1).select(
        (F.col("id") % keys).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
        (F.pmod(F.xxhash64("id"), F.lit(10000)) / F.lit(10.0)).alias("value"),
        F.col("id").alias("lsn"),
        F.when(F.col("id") % 17 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )


@pytest.fixture()
def clustered(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["user_id"], n_buckets=8)
    t.merge(_events(spark), 0)
    t.compact(cluster_by=["value"], max_records_per_file=8)
    return t


def _norm(paths):
    return {os.path.basename(p) for p in paths}


def test_manifest_entries_carry_value_bounds(clustered):
    snap = clustered.snapshot()
    assert snap["files"], "compaction produced files"
    for f in snap["files"]:
        assert f.get("cmin") and f.get("cmax")
        assert f["cmin"]["value"] <= f["cmax"]["value"]
        assert set(f["cmin"]) >= {"user_id", "event_type", "value"}


def test_files_opened_equals_bounds_match(clustered):
    """The VERDICT-prescribed pin: files opened == files whose bounds
    match, counted via the manifest on one side and Spark's actual
    scan inputs on the other."""
    snap = clustered.snapshot()
    for thr in (300.0, 600.0, 900.0):
        pred = [("value", ">=", thr)]
        kept = clustered.prune_files(snap, pred)
        manual = [
            f
            for f in snap["files"]
            if f["cmax"]["value"] >= thr  # hand-evaluated bounds check
        ]
        assert {f["path"] for f in kept} == {f["path"] for f in manual}
        df = clustered.read_where(pred)
        assert _norm(df.inputFiles()) == _norm(f["path"] for f in kept)
        assert len(kept) < len(snap["files"]), f"thr={thr} pruned nothing"


def test_read_where_equals_full_scan_filter(clustered):
    for pred, col in (
        ([("value", ">=", 300.0)], None),
        ([("value", ">", 100.0), ("value", "<=", 700.0)], None),
        ([("event_type", "=", "t3")], None),
        ([("value", "<", 50.0)], None),
    ):
        got = sorted(map(tuple, clustered.read_where(pred).collect()))
        cond = None
        for c, op, v in pred:
            e = {
                "=": F.col(c) == v,
                "<": F.col(c) < v,
                "<=": F.col(c) <= v,
                ">": F.col(c) > v,
                ">=": F.col(c) >= v,
            }[op]
            cond = e if cond is None else cond & e
        exp = sorted(map(tuple, clustered.read().filter(cond).collect()))
        assert got == exp and len(exp) > 0


def test_mor_buckets_exempt_from_pruning(spark, tmp_path):
    """A delta carrying a key's latest (non-matching) row must not be
    skipped — otherwise the stale matching row would win resolution."""
    t = LakeTable.create(spark, str(tmp_path / "tm"), SCHEMA, ["user_id"], n_buckets=4)
    t.merge(_events(spark, 200, 40), 0)
    t.compact(cluster_by=["value"], max_records_per_file=8)
    # delta batch: every key's value drops to 1.0 (below any threshold)
    upd = spark.range(0, 40).select(
        F.col("id").alias("user_id"),
        F.lit("t0").alias("event_type"),
        F.lit(1.0).alias("value"),
        (F.col("id") + 10_000).alias("lsn"),
        F.lit("U").alias("op"),
    )
    t.merge(upd, 1, mode="mor")
    snap = t.snapshot()
    pred = [("value", ">=", 100.0)]
    kept = t.prune_files(snap, pred)
    # every bucket holds a delta now -> nothing pruned
    assert len(kept) == len(snap["files"])
    assert t.read_where(pred).count() == 0  # all keys updated below 100


def _no_bloom(ref, val):
    return True  # an unresolvable bloom proves nothing


def test_pre_stats_entries_never_pruned():
    legacy = {"path": "data/x.parquet", "bucket": 0, "kind": "base"}
    assert not pruning.bound_excludes(legacy, "value", "double", ">=", 100.0, _no_bloom)
    snap = {"files": [legacy]}
    assert LakeTable("spark-unused", "/nonexistent").prune_files(
        snap, [("value", ">=", 100.0)]
    ) == [legacy]


def test_incomparable_predicate_keeps_file():
    entry = {"cmin": {"value": 1.0}, "cmax": {"value": 2.0}}
    assert not pruning.bound_excludes(
        entry, "value", "double", ">=", "not-a-number", _no_bloom
    )


def _null_events(spark, n=2400, keys=320):
    """value is NULL on a deterministic third of rows, so a clustered
    rewrite (nulls sort together) yields all-null files AND no-null
    files — both null-skipping directions get something to prune."""
    return spark.range(1, n + 1).select(
        (F.col("id") % keys).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
        F.when(
            F.col("id") % 3 == 0,
            (F.pmod(F.xxhash64("id"), F.lit(10000)) / F.lit(10.0)),
        ).alias("value"),
        F.col("id").alias("lsn"),
        F.lit("U").alias("op"),
    )


@pytest.fixture()
def nullable_clustered(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "tn"), SCHEMA, ["user_id"], n_buckets=8)
    t.merge(_null_events(spark), 0)
    t.compact(cluster_by=["value"], max_records_per_file=8)
    return t


def test_manifest_entries_carry_null_counts(nullable_clustered):
    snap = nullable_clustered.snapshot()
    assert snap["files"]
    total_nulls = 0
    for f in snap["files"]:
        assert f.get("cnull") is not None
        assert 0 <= f["cnull"]["value"] <= f["rows"]
        assert f["cnull"]["user_id"] == 0  # key column never null
        total_nulls += f["cnull"]["value"]
    assert total_nulls == nullable_clustered.read().filter("value IS NULL").count()


def test_is_not_null_skips_all_null_files(nullable_clustered):
    t = nullable_clustered
    snap = t.snapshot()
    kept = t.prune_files(snap, [("value", "is_not_null", None)])
    manual = [f for f in snap["files"] if f["cnull"]["value"] < f["rows"]]
    assert {f["path"] for f in kept} == {f["path"] for f in manual}
    assert len(kept) < len(snap["files"]), "no all-null file was skipped"
    df = t.read_where([("value", "is_not_null", None)])
    assert _norm(df.inputFiles()) == _norm(f["path"] for f in kept)
    assert df.count() == t.read().filter(F.col("value").isNotNull()).count()


def test_is_null_skips_null_free_files(nullable_clustered):
    t = nullable_clustered
    snap = t.snapshot()
    kept = t.prune_files(snap, [("value", "is_null", None)])
    manual = [f for f in snap["files"] if f["cnull"]["value"] > 0]
    assert {f["path"] for f in kept} == {f["path"] for f in manual}
    assert len(kept) < len(snap["files"]), "no null-free file was skipped"
    got = sorted(
        map(tuple, t.read_where([("value", "is_null", None)]).collect())
    )
    want = sorted(
        map(tuple, t.read().filter(F.col("value").isNull()).collect())
    )
    assert got == want


def test_null_ops_combine_with_range_predicates(nullable_clustered):
    t = nullable_clustered
    pred = [("value", "is_not_null", None), ("value", ">=", 600.0)]
    got = sorted(map(tuple, t.read_where(pred).collect()))
    want = sorted(
        map(
            tuple,
            t.read()
            .filter(F.col("value").isNotNull() & (F.col("value") >= 600.0))
            .collect(),
        )
    )
    assert got == want
    snap = t.snapshot()
    kept = t.prune_files(snap, pred)
    assert len(kept) < len(t.prune_files(snap, [("value", ">=", 600.0)]))


def test_missing_null_counts_never_prune():
    entry = {"path": "x", "rows": 10, "cmin": {"v": 1}, "cmax": {"v": 5}}
    assert not pruning.bound_excludes(entry, "v", "long", "is_null", None, _no_bloom)
    assert not pruning.bound_excludes(entry, "v", "long", "is_not_null", None, _no_bloom)
    with_counts = dict(entry, cnull={"v": 0})
    assert pruning.bound_excludes(with_counts, "v", "long", "is_null", None, _no_bloom)
    all_null = dict(entry, cnull={"v": 10})
    assert pruning.bound_excludes(all_null, "v", "long", "is_not_null", None, _no_bloom)
    no_rows = dict(entry, cnull={"v": 10}, rows=None)
    assert not pruning.bound_excludes(no_rows, "v", "long", "is_not_null", None, _no_bloom)
