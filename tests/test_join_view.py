"""Incrementally-maintained join views (streaming/joinview.py):
initial full sync equals the batch join, later syncs recompute ONLY
changed bucket groups, deletes/updates on either side propagate,
cursors commit atomically with data (crash/replay idempotent, no side
checkpoint), left-join views keep unmatched rows, and maintenance on
the view doesn't disturb the resume point. Also pins merge snapshot
props (the Iceberg snapshot-summary analogue) the cursors ride on.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from w3_data_etl_pipeline_spark.plans.laketable import LakeTable  # noqa: E402
from w3_data_etl_pipeline_spark.session import local_frame  # noqa: E402
from w3_data_etl_pipeline_spark.streaming.joinview import (  # noqa: E402
    create_join_view,
    sync_join_view,
    view_state,
)

LS = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
RS = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


def _lev(spark, ids, et="a", lsn=1, op="U"):
    return local_frame(
        spark,
        [(i, et, float(i % 97), i + lsn * 10**6, op) for i in ids],
        "user_id long, event_type string, value double, lsn long, op string",
    )


def _rev(spark, ids, seg="s1", lsn=1, op="U"):
    return local_frame(
        spark,
        [(i, seg, i + lsn * 10**6, op) for i in ids],
        "c_custkey long, c_mktsegment string, lsn long, op string",
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _setup(spark, tmp_path, how="inner"):
    lt = LakeTable.create(spark, str(tmp_path / "l"), LS, ["user_id"], n_buckets=16)
    rt = LakeTable.create(spark, str(tmp_path / "r"), RS, ["c_custkey"], n_buckets=8)
    lt.merge(_lev(spark, range(0, 200)), 0)
    rt.merge(_rev(spark, range(100, 300)), 0)
    view = create_join_view(
        lt, rt, str(tmp_path / "v"), how=how, on=[("user_id", "c_custkey")]
    )
    return lt, rt, view


def _twin(lt, rt, how="inner"):
    lr, rr = lt.read(), rt.read()
    j = lr.join(rr, lr.user_id == rr.c_custkey, how)
    return j.select("user_id", "event_type", "value", "c_mktsegment")


def test_initial_sync_equals_batch_join(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path)
    res = sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    assert res["applied"] and res["groups"] == 8
    assert _rows(view.read()) == _rows(_twin(lt, rt))


def test_incremental_sync_recomputes_changed_groups_only(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    # touch ONE left key: at most a couple of bucket groups change
    lt.merge(_lev(spark, [150], et="upd", lsn=9), 1)
    res = sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    assert res["applied"] and 0 < res["groups"] < 8, res
    assert _rows(view.read()) == _rows(_twin(lt, rt))


def test_left_delete_removes_view_row(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    lt.merge(_lev(spark, [150, 151], lsn=9, op="D"), 1)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    got = {r["user_id"] for r in view.read().collect()}
    assert 150 not in got and 151 not in got
    assert _rows(view.read()) == _rows(_twin(lt, rt))


def test_right_side_changes_propagate(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    rt.merge(_rev(spark, [120], seg="s2", lsn=9), 1)   # value update
    rt.merge(_rev(spark, [130], lsn=10, op="D"), 2)     # inner: row leaves
    res = sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    assert res["applied"]
    got = {r["user_id"]: r["c_mktsegment"] for r in view.read().collect()}
    assert got[120] == "s2" and 130 not in got
    assert _rows(view.read()) == _rows(_twin(lt, rt))


def test_left_join_view_keeps_unmatched(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path, how="left")
    sync_join_view(lt, rt, view, how="left", on=[("user_id", "c_custkey")])
    assert _rows(view.read()) == _rows(_twin(lt, rt, "left"))
    rt.merge(_rev(spark, [120], lsn=9, op="D"), 1)  # left join: NULLs, not gone
    sync_join_view(lt, rt, view, how="left", on=[("user_id", "c_custkey")])
    got = {r["user_id"]: r["c_mktsegment"] for r in view.read().collect()}
    assert 120 in got and got[120] is None
    assert _rows(view.read()) == _rows(_twin(lt, rt, "left"))


def test_sync_is_idempotent_and_noops_when_current(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    v = view.current_version()
    res = sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    assert not res["applied"] and view.current_version() == v


def test_cursors_survive_view_maintenance(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    st = view_state(view)
    view.compact()
    assert view_state(view) == st  # props ride the parent dict copy
    lt.merge(_lev(spark, [10], et="post", lsn=9), 1)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    assert _rows(view.read()) == _rows(_twin(lt, rt))


def test_metadata_only_source_commit_advances_cursor(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    rt.create_tag("pin")  # version-less metadata op: no bucket changes
    lt.add_column("note", "string")  # metadata-only commit
    res = sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    # cursor advanced without recomputing any group
    assert res["groups"] == 0
    assert view_state(view)["left"] == lt.current_version()


def test_merge_props_atomic_and_guarded(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "p"), LS, ["user_id"], n_buckets=4)
    t.merge(_lev(spark, range(10)), 0, props={"my_prop": {"a": 1}})
    assert t.snapshot()["my_prop"] == {"a": 1}
    t.merge(_lev(spark, range(10, 20), lsn=2), 1)  # carries forward
    assert t.snapshot()["my_prop"] == {"a": 1}
    # replayed batch: ledger no-op must NOT move props
    t.merge(_lev(spark, range(5), lsn=3), 1, props={"my_prop": {"a": 2}})
    assert t.snapshot()["my_prop"] == {"a": 1}
    with pytest.raises(ValueError, match="collide with engine"):
        t.merge(_lev(spark, [99], lsn=4), 2, props={"ledger": {}})


def test_follow_join_view_drain(spark, tmp_path):
    from w3_data_etl_pipeline_spark.streaming.joinview import follow_join_view

    lt, rt, view = _setup(spark, tmp_path)
    out = follow_join_view(
        lt, rt, view, on=[("user_id", "c_custkey")], stop_when_caught_up=True
    )
    assert out["syncs"] == 1 and out["left"] == lt.current_version()
    lt.merge(_lev(spark, [42], et="late", lsn=9), 1)
    out = follow_join_view(
        lt, rt, view, on=[("user_id", "c_custkey")], stop_when_caught_up=True
    )
    assert out["syncs"] == 1
    assert _rows(view.read()) == _rows(_twin(lt, rt))


def test_follow_join_cli_drain(spark, tmp_path):
    import jobs.follow_join as fj

    lt, rt, _ = _setup(spark, tmp_path)
    # CLI path: creates the view itself, drains, prints state
    rc = fj.main([
        "--left", str(tmp_path / "l"),
        "--right", str(tmp_path / "r"),
        "--view", str(tmp_path / "vcli"),
        "--on", "user_id:c_custkey",
        "--drain",
    ])
    assert rc == 0
    v = LakeTable(spark, str(tmp_path / "vcli"))
    assert _rows(v.read()) == _rows(_twin(lt, rt))


def test_view_composes_as_change_feed_source(spark, tmp_path):
    # the view is a full LakeTable: a one-table follower can derive
    # from it, stacking incremental pipelines (ingest -> join view ->
    # filtered mirror) with exactly-once at every hop
    from w3_data_etl_pipeline_spark.streaming.follow import sync_changes

    lt, rt, view = _setup(spark, tmp_path)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    mirror = LakeTable.create(
        spark, str(tmp_path / "m"), view.schema(view.snapshot()),
        ["user_id"], n_buckets=8,
    )
    sync_changes(view, mirror)
    assert _rows(mirror.read()) == _rows(view.read())
    # propagate a source change through BOTH hops
    lt.merge(_lev(spark, [150], et="hop", lsn=9), 1)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    sync_changes(view, mirror)
    assert _rows(mirror.read()) == _rows(_twin(lt, rt))


def test_view_joins_a_third_table_via_spj(spark, tmp_path):
    # three-way join by composition: materialize A⋈B, then SPJ the
    # view against C — the view shares the bucket contract, so the
    # second join is also exchange-free
    lt, rt, view = _setup(spark, tmp_path)
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    third = LakeTable.create(
        spark, str(tmp_path / "t3"),
        T.StructType([
            T.StructField("uid", T.LongType()),
            T.StructField("flag", T.StringType()),
        ]),
        ["uid"], n_buckets=8,
    )
    third.merge(
        local_frame(
            spark,
            [(i, "odd" if i % 2 else "even", i, "U") for i in range(0, 300, 3)],
            "uid long, flag string, lsn long, op string",
        ),
        0,
    )
    got = view.join_bucketed(third, on=[("user_id", "uid")], how="inner")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    want = view.read().join(
        third.read(), F.col("user_id") == F.col("uid")
    ).select("user_id", "event_type", "value", "c_mktsegment", "flag")
    assert _rows(got) == _rows(want) and got.count() > 0


@pytest.mark.parametrize("seed", [20260821, 7, 99991])
def test_join_view_random_lifecycle(spark, tmp_path, seed):
    """Property net: random upserts/deletes on BOTH sources, random
    COW/MOR storage, random sync points, and maintenance (compaction
    on sources and view) interleaved — after a final sync the view
    must equal the from-scratch join, every time."""
    import random

    rng = random.Random(seed)
    lt = LakeTable.create(spark, str(tmp_path / "l"), LS, ["user_id"], n_buckets=8)
    rt = LakeTable.create(spark, str(tmp_path / "r"), RS, ["c_custkey"], n_buckets=4)
    lt.merge(_lev(spark, range(0, 80)), 0)
    rt.merge(_rev(spark, range(40, 160)), 0)
    view = create_join_view(lt, rt, str(tmp_path / "v"), on=[("user_id", "c_custkey")])
    lb, rb = 1, 1
    for step in range(12):
        side = rng.choice(["l", "r"])
        keys = rng.sample(range(0, 200), rng.randint(1, 25))
        op = "D" if rng.random() < 0.3 else "U"
        mode = rng.choice(["cow", "mor"])
        if side == "l":
            lt.merge(_lev(spark, keys, et=f"s{step}", lsn=100 + step, op=op), lb, mode=mode)
            lb += 1
        else:
            rt.merge(_rev(spark, keys, seg=f"g{step}", lsn=100 + step, op=op), rb, mode=mode)
            rb += 1
        r = rng.random()
        if r < 0.2:
            rng.choice([lt, rt, view]).compact()
        if r < 0.5:
            sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    assert _rows(view.read()) == _rows(_twin(lt, rt))


def test_rebucket_interplay(spark, tmp_path):
    lt, rt, view = _setup(spark, tmp_path)  # 16 x 8 -> view 8 groups
    sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    # compatible rebucket (multiple of the view's 8): the rebucket
    # commit touches every bucket -> conservative full resync, correct
    lt.rebucket(32)
    res = sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
    assert res["applied"] and res["groups"] == 8
    assert _rows(view.read()) == _rows(_twin(lt, rt))
    # incompatible rebucket is refused, never silently wrong
    rt.rebucket(12)
    with pytest.raises(ValueError, match="not a multiple"):
        sync_join_view(lt, rt, view, on=[("user_id", "c_custkey")])
