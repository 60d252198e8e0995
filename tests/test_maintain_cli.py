"""The maintenance CLI (jobs/maintain.py) end-to-end: ``stats`` is a
read-only O(metadata) report, ``compact --min-delta-rows`` is the
row-mass fold — both launched exactly as an operator would
(``python jobs/maintain.py`` == the spark-submit entry shape)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args):
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", "maintain.py"), *args],
        capture_output=True, text=True, cwd=ROOT, timeout=420,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    assert lines, r.stdout[-3000:]
    return json.loads(lines[-1])


def test_stats_and_row_mass_compact_verbs(spark, tmp_path):
    from w3_data_etl_pipeline_spark import datagen
    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
    from w3_data_etl_pipeline_spark.schemas import SOURCE_FILES

    t = LakeTable.create(
        spark, str(tmp_path / "lake"), SOURCE_FILES, ["repo", "path"], n_buckets=4
    )
    snap = datagen.source_snapshot(spark, 80, content_max=256)
    t.overwrite(snap, lsn=datagen.GENESIS_LSN)
    ev = datagen.change_events(spark, 300, 80, content_max=256)
    t.merge(ev, 0, mode="mor")
    live = t.read().count()

    s = _run("--table", t.root, "stats")
    assert s["verb"] == "stats"
    assert s["delta_files"] > 0 and s["delta_rows"] > 0
    assert s["rows_exact"] is False and s["rows"] >= live
    assert s["version"] == s["previous_version"] == t.current_version()

    c = _run("--table", t.root, "compact", "--min-delta-rows", "1")
    assert c["version"] == c["previous_version"] + 1

    s2 = _run("--table", t.root, "stats")
    assert s2["delta_files"] == 0
    assert s2["rows_exact"] is True and s2["rows"] == live
    assert t.read().count() == live

    h = _run("--table", t.root, "history")
    ops = [e["operation"] for e in h["entries"]]
    assert ops == ["create", "overwrite", "merge-mor", "compact"]


def test_tag_and_wap_verbs(spark, tmp_path):
    from w3_data_etl_pipeline_spark import datagen
    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
    from w3_data_etl_pipeline_spark.schemas import SOURCE_FILES

    t = LakeTable.create(
        spark, str(tmp_path / "lake2"), SOURCE_FILES, ["repo", "path"], n_buckets=4
    )
    t.overwrite(datagen.source_snapshot(spark, 60, content_max=128),
                lsn=datagen.GENESIS_LSN)
    genesis_rows = t.read().count()
    ev = datagen.change_events(spark, 200, 60, content_max=128)

    tg = _run("--table", t.root, "tag", "genesis")
    assert tg["pinned_version"] == t.current_version()

    # stage a batch (WAP), then drive the audit decision via the CLI
    t.merge(ev, 0, mode="mor", stage_id="audit-0")
    st = _run("--table", t.root, "staged")
    assert st["stage_ids"] == ["audit-0"]
    pu = _run("--table", t.root, "publish", "audit-0")
    assert pu["applied"] and pu["version"] == t.current_version()
    assert t.staged_ids() == []

    # rollback by tag name, then unpin
    rb = _run("--table", t.root, "rollback", "--to-tag", "genesis")
    assert rb["rollback_of"] == tg["pinned_version"]
    assert t.read().count() == genesis_rows
    ts = _run("--table", t.root, "tags")
    assert ts["tags"] == {"genesis": tg["pinned_version"]}
    dt = _run("--table", t.root, "drop-tag", "genesis")
    assert dt["dropped"] is True and t.tags() == {}


def test_branch_and_partitions_verbs(spark, tmp_path):
    from w3_data_etl_pipeline_spark import datagen
    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
    from w3_data_etl_pipeline_spark.schemas import SOURCE_FILES

    t = LakeTable.create(
        spark, str(tmp_path / "lake_br"), SOURCE_FILES, ["repo", "path"], n_buckets=4
    )
    snap = datagen.source_snapshot(spark, 80, content_max=256)
    t.overwrite(snap, lsn=datagen.GENESIS_LSN)
    ev = datagen.change_events(spark, 300, 80, content_max=256)

    b = _run("--table", t.root, "branch", "repair")
    assert b["forked_from"] == t.current_version()
    ls = _run("--table", t.root, "branches")
    assert ls["branches"]["repair"]["head"] == b["forked_from"]

    # write on the branch in-process (the CLI manages refs, the engine
    # writes), then publish + drop via the CLI
    t.branch("repair").merge(ev, 1, mode="mor")
    ff = _run("--table", t.root, "fast-forward", "repair")
    assert ff["applied"] is True and ff["version"] == b["forked_from"] + 1
    assert t.current_version() == ff["version"]
    d = _run("--table", t.root, "drop-branch", "repair")
    assert d["dropped"] is True
    assert _run("--table", t.root, "branches")["branches"] == {}

    p = _run("--table", t.root, "partitions")
    assert p["verb"] == "partitions" and len(p["buckets"]) > 0
    s = _run("--table", t.root, "stats")
    assert sum(r["rows"] for r in p["buckets"]) == s["rows"]

    ex = _run("--table", t.root, "explain-skip",
              "--predicate", "repo = 'no-such-repo' AND path IS NOT NULL")
    assert ex["files_total"] == s["base_files"] + s["delta_files"]
    assert ex["bytes_total"] == ex["bytes_kept"] + ex["bytes_skipped"]
    assert ex["files_kept"] >= ex["kept_for_delta_resolution"]

    # row-level DML verbs on the same table (delete the python files,
    # stamp the rest — predicate + SET parsed exactly like the API)
    n_py = t.read().filter("lang = 'Python'").count()
    de = _run("--table", t.root, "delete", "--predicate", "lang = 'Python'")
    assert de["applied"] is True and de["rows_changed"] == n_py > 0
    assert t.read().filter("lang = 'Python'").count() == 0
    up = _run("--table", t.root, "update",
              "--predicate", "lang IS NOT NULL",
              "--set", "lang=concat(lang, '-x')")
    assert up["applied"] is True and up["rows_changed"] > 0
    assert t.read().filter("lang NOT LIKE '%-x'").count() == 0


def test_ddl_verbs(spark, tmp_path):
    from pyspark.sql import types as T

    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "lake"), schema, ["k"], n_buckets=4)
    t.merge(
        spark.createDataFrame(
            [(1, "a", 7, 1, "I")], "k long, v string, n int, lsn long, op string"
        ),
        1,
    )

    a = _run("--table", t.root, "add-column", "tier", "string",
             "--initial-default", "legacy", "--write-default", "standard")
    assert a["verb"] == "add-column" and a["version"] == a["previous_version"] + 1
    r = _run("--table", t.root, "rename-column", "tier", "level")
    assert r["version"] == r["previous_version"] + 1
    s = _run("--table", t.root, "set-default", "level",
             "--write-default", "v2")
    assert s["version"] == s["previous_version"] + 1
    w = _run("--table", t.root, "widen", "n", "long")
    assert w["version"] == w["previous_version"] + 1
    d = _run("--table", t.root, "drop-column", "level")
    assert d["version"] == d["previous_version"] + 1

    # the DDL chain's net effect, read back in-process
    row = t.read().collect()[0]
    assert row.n == 7 and "level" not in t.read().columns
    assert dict(t.read().dtypes)["n"] == "bigint"


def test_set_partition_spec_verb(spark, tmp_path):
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
    t = LakeTable.create(spark, str(tmp_path / "pspec"), schema, ["event_id"], n_buckets=2)
    out = _run("--table", t.root, "set-partition-spec", "days(ts)")
    assert out["default_spec"] == 1 and out["fields"][0]["transform"] == "days"
    rows = [
        (i, dt.datetime(2024, 3, 1) + dt.timedelta(days=i % 2), float(i), i + 1, "U")
        for i in range(8)
    ]
    t.merge(spark.createDataFrame(rows, ["event_id", "ts", "value", "lsn", "op"]), 0)
    assert all(f.get("pt") for f in t.snapshot()["files"])
    out = _run("--table", t.root, "set-partition-spec", "--clear")
    assert out["default_spec"] == 0


def test_metadata_verbs_start_no_jvm(spark, tmp_path):
    """Metadata-only verbs answer without launching a JVM: with no
    usable Spark install they still succeed, while a verb that runs
    Spark jobs fails to start."""
    from pyspark.sql import types as T

    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable

    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])
    t = LakeTable.create(spark, str(tmp_path / "nojvm"), schema, ["k"], n_buckets=2)
    t.merge(spark.createDataFrame([(1, "a", 1, "I")], "k long, v string, lsn long, op string"), 1)
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_HOME": str(tmp_path / "no-spark")}

    def run(*args):
        return subprocess.run(
            [sys.executable, os.path.join(ROOT, "jobs", "maintain.py"), "--table", t.root, *args],
            capture_output=True, text=True, cwd=ROOT, timeout=120, env=env,
        )

    tg = run("tag", "pinned")
    assert tg.returncode == 0, tg.stderr[-2000:]
    assert json.loads(tg.stdout.splitlines()[-1])["pinned_version"] == t.current_version()
    st = run("stats")
    assert st.returncode == 0, st.stderr[-2000:]
    assert json.loads(st.stdout.splitlines()[-1])["rows"] == 1
    assert t.tags() == {"pinned": t.current_version()}
    assert run("partitions").returncode != 0
