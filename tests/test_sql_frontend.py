"""SQL front-end (LakeCatalog.sql): every statement kind parsed and
dispatched onto the LakeTable API, checked against direct-API twins —
MERGE INTO with all five clause families, UPDATE/DELETE (COW and MOR),
SELECT incl. time travel, ALTER TABLE verbs, OPTIMIZE/VACUUM/ANALYZE/
RESTORE, and the parse-error surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
from w3_data_etl_pipeline_spark.plans.sql import LakeCatalog

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _base(spark, n=300):
    return spark.range(0, n).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
        (F.col("id") % 97).cast("double").alias("value"),
        F.lit(1).alias("lsn"),
        F.lit("U").alias("op"),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def cat(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["user_id"], n_buckets=8)
    t.merge(_base(spark), 0)
    return LakeCatalog(spark).register("events_lake", t)


def test_select_and_time_travel(cat, spark):
    n = cat.sql("SELECT count(*) AS n FROM events_lake").collect()[0]["n"]
    assert n == 300
    cat.sql("DELETE FROM events_lake WHERE user_id >= 200")
    assert cat.sql("SELECT count(*) AS n FROM events_lake").collect()[0]["n"] == 200
    old = cat.sql(
        "SELECT count(*) AS n FROM events_lake VERSION AS OF 1"
    ).collect()[0]["n"]
    assert old == 300
    # aggregation over the live view
    agg = cat.sql(
        "SELECT event_type, count(*) AS n FROM events_lake "
        "GROUP BY event_type ORDER BY event_type"
    ).collect()
    assert len(agg) == 5 and sum(r["n"] for r in agg) == 200


def test_update_twin(cat, spark, tmp_path):
    twin = LakeTable.create(
        spark, str(tmp_path / "u"), SCHEMA, ["user_id"], n_buckets=8
    )
    twin.merge(_base(spark), 0)
    res = cat.sql(
        "UPDATE events_lake SET event_type = upper(event_type), "
        "value = value * 2 WHERE user_id % 3 = 0"
    ).collect()[0]
    twin.update_where(
        "user_id % 3 = 0",
        {"event_type": "upper(event_type)", "value": "value * 2"},
    )
    assert _rows(cat.tables["events_lake"].read()) == _rows(twin.read())
    assert res["rows_changed"] == 100


def test_delete_mor_mode(cat):
    t = cat.tables["events_lake"]
    res = cat.sql(
        "DELETE FROM events_lake WHERE event_type = 't0'", mode="mor"
    ).collect()[0]
    assert res["rows_changed"] == 60
    assert any(f["kind"] in ("delta", "dv") for f in t.snapshot()["files"])
    assert t.read().filter("event_type = 't0'").count() == 0


def test_merge_all_clause_families(cat, spark, tmp_path):
    twin = LakeTable.create(
        spark, str(tmp_path / "m"), SCHEMA, ["user_id"], n_buckets=8
    )
    twin.merge(_base(spark), 0)
    src = spark.range(200, 400).select(
        F.col("id").alias("user_id"),
        F.lit("src").alias("event_type"),
        (F.col("id") % 89).cast("double").alias("value"),
    )
    src.createOrReplaceTempView("merge_src")
    res = cat.sql(
        """
        MERGE INTO events_lake AS tgt
        USING (SELECT * FROM merge_src) AS src
        ON tgt.user_id = src.user_id
        WHEN MATCHED AND src.value > tgt.value THEN
          UPDATE SET event_type = src.event_type, value = src.value
        WHEN MATCHED AND tgt.event_type = 't0' THEN DELETE
        WHEN NOT MATCHED AND src.value >= 5.0 THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND tgt.user_id < 50 THEN
          UPDATE SET event_type = 'stale'
        WHEN NOT MATCHED BY SOURCE AND tgt.user_id >= 190 THEN DELETE
        """
    ).collect()[0]
    twin.merge_into(
        src,
        [
            ("update", "s.value > t.value",
             {"event_type": "s.event_type", "value": "s.value"}),
            ("delete", "t.event_type = 't0'", None),
            ("insert", "s.value >= 5.0", None),
            ("nmbs_update", "t.user_id < 50", {"event_type": "'stale'"}),
            ("nmbs_delete", "t.user_id >= 190", None),
        ],
    )
    assert _rows(cat.tables["events_lake"].read()) == _rows(twin.read())
    assert res["rows_updated"] > 0 and res["rows_deleted"] > 0
    assert res["rows_inserted"] > 0


def test_merge_insert_values_form(cat, spark):
    src = spark.range(500, 520).select(
        F.col("id").alias("user_id"),
        F.lit("new").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    src.createOrReplaceTempView("vals_src")
    cat.sql(
        """
        MERGE INTO events_lake t2 USING vals_src s2
        ON t2.user_id = s2.user_id
        WHEN NOT MATCHED THEN
          INSERT (event_type, value) VALUES (concat(s2.event_type, '!'), s2.value + 1)
        """
    )
    got = {
        r["user_id"]: r
        for r in cat.tables["events_lake"].read().filter("user_id >= 500").collect()
    }
    assert len(got) == 20
    assert got[500]["event_type"] == "new!" and got[500]["value"] == 2.0


def test_alter_verbs(cat):
    t = cat.tables["events_lake"]
    cat.sql("ALTER TABLE events_lake ADD COLUMN lang STRING DEFAULT 'und'")
    assert "lang" in [f.name for f in t.schema().fields]
    assert t.read().filter("lang = 'und'").count() == 300
    cat.sql("ALTER TABLE events_lake RENAME COLUMN lang TO language")
    assert "language" in [f.name for f in t.schema().fields]
    cat.sql("ALTER TABLE events_lake ALTER COLUMN language SET DEFAULT 'en'")
    cat.sql("ALTER TABLE events_lake ALTER COLUMN language DROP DEFAULT")
    cat.sql("ALTER TABLE events_lake DROP COLUMN language")
    assert "language" not in [f.name for f in t.schema().fields]
    cat.sql("ALTER TABLE events_lake ALTER COLUMN value TYPE DOUBLE")
    cat.sql(
        "ALTER TABLE events_lake ADD CONSTRAINT v_nonneg CHECK (value >= 0)"
    )
    assert "v_nonneg" in t.constraints()
    cat.sql("ALTER TABLE events_lake DROP CONSTRAINT v_nonneg")
    assert "v_nonneg" not in t.constraints()
    cat.sql("ALTER TABLE events_lake WRITE ORDERED BY value TARGET 100 ROWS")
    wo = t.write_order()
    assert wo and wo["cols"] == ["value"] and wo["target_rows"] == 100
    cat.sql("ALTER TABLE events_lake WRITE UNORDERED")
    assert not t.write_order()


def test_maintenance_verbs(cat):
    t = cat.tables["events_lake"]
    cat.sql("DELETE FROM events_lake WHERE user_id = 7", mode="mor")
    cat.sql("OPTIMIZE events_lake")
    assert not any(f["kind"] == "delta" for f in t.snapshot()["files"])
    rep = cat.sql(
        "ANALYZE TABLE events_lake FOR COLUMNS user_id, value"
    ).collect()[0]
    assert rep["rows"] == 299
    vac = cat.sql("VACUUM events_lake RETAIN 2 VERSIONS DRY RUN").collect()[0]
    assert "expired" in vac.asDict() or vac is not None
    v_now = t.current_version()
    cat.sql("DELETE FROM events_lake WHERE user_id < 100")
    cat.sql(f"RESTORE TABLE events_lake TO VERSION AS OF {v_now}")
    assert t.read().count() == 299


def test_parse_errors(cat):
    with pytest.raises(ValueError, match="unsupported statement"):
        cat.sql("TRUNCATE TABLE events_lake")
    with pytest.raises(ValueError, match="unknown table"):
        cat.sql("DELETE FROM nope WHERE 1=1")
    with pytest.raises(ValueError, match="key columns"):
        cat.sql(
            "MERGE INTO events_lake USING events_lake s2 "
            "ON t.value = s2.value WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="only INSERT"):
        cat.sql(
            "MERGE INTO events_lake USING events_lake s2 "
            "ON t.user_id = s2.user_id WHEN NOT MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="ambiguous aliases"):
        cat.sql(
            "MERGE INTO events_lake AS s USING events_lake AS x "
            "ON s.user_id = x.user_id WHEN MATCHED THEN DELETE"
        )


def test_where_keyword_inside_string_and_subquery(cat):
    # WHERE inside a string literal must not split the SET list
    cat.sql(
        "UPDATE events_lake SET event_type = 'WHERE, SET' WHERE user_id = 3"
    )
    got = cat.tables["events_lake"].read().filter("user_id = 3").collect()[0]
    assert got["event_type"] == "WHERE, SET"
    # scalar subquery with its own WHERE in an assignment
    cat.sql(
        "UPDATE events_lake SET value = (SELECT 41.0 WHERE 1 = 1) + 1 "
        "WHERE user_id = 4"
    )
    got = cat.tables["events_lake"].read().filter("user_id = 4").collect()[0]
    assert got["value"] == 42.0


def test_create_insert_describe_tvf(spark, tmp_path):
    cat = LakeCatalog(spark)
    loc = str(tmp_path / "sqlmade")
    res = cat.sql(
        f"""
        CREATE TABLE sqlmade (user_id BIGINT, event_type STRING,
                              value DOUBLE)
        USING laketable LOCATION '{loc}' KEY (user_id) BUCKETS 8
        """
    ).collect()[0]
    assert res["operation"] == "create" and "sqlmade" in cat.tables
    t = cat.tables["sqlmade"]
    assert t.snapshot()["n_buckets"] == 8

    ins = cat.sql(
        "INSERT INTO sqlmade VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)"
    ).collect()[0]
    assert ins["operation"] == "insert" and ins["rows"] == 3
    assert _rows(t.read()) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]
    # INSERT of an existing key is an upsert on these PK'd CDC tables
    cat.sql("INSERT INTO sqlmade VALUES (3, 'c2', 30.0), (4, 'd', 4.0)")
    got = {r[0]: r for r in _rows(t.read())}
    assert got[3] == (3, "c2", 30.0) and got[4] == (4, "d", 4.0)
    # SELECT-sourced insert
    cat.sql(
        "INSERT INTO sqlmade SELECT user_id + 100 AS user_id, event_type, "
        "value FROM sqlmade WHERE user_id <= 2"
    )
    assert t.read().count() == 6

    hist = cat.sql("DESCRIBE HISTORY sqlmade").collect()
    assert [r["version"] for r in hist] == list(range(len(hist)))
    assert hist[0]["operation"] == "create"

    # table_changes TVF: the CDF between two versions through SQL
    cdf = cat.sql(
        "SELECT user_id, _change_type FROM table_changes('sqlmade', 1, 2) "
        "ORDER BY user_id"
    ).collect()
    assert [(r["user_id"], r["_change_type"]) for r in cdf] == [
        (3, "update"),
        (4, "insert"),
    ]


def test_insert_coexists_with_stream_ledger(spark, tmp_path):
    # a table that already applied stream batches 0..2: INSERT INTO
    # must pick a fresh ledger id, not mask a replayed stream batch
    t = LakeTable.create(
        spark, str(tmp_path / "s"), SCHEMA, ["user_id"], n_buckets=4
    )
    for b in range(3):
        t.merge(_base(spark, n=10 * (b + 1)), b)
    cat = LakeCatalog(spark).register("st", t)
    cat.sql("INSERT INTO st VALUES (999, 'x', 9.0)")
    assert t.read().filter("user_id = 999").count() == 1
    # a replay of stream batch 2 is still a ledger no-op
    stats = t.merge(_base(spark, n=30), 2)
    assert not stats.applied


def test_branch_tag_sql(cat, spark):
    t = cat.tables["events_lake"]
    cat.sql("ALTER TABLE events_lake CREATE TAG v_base")
    cat.sql("DELETE FROM events_lake WHERE user_id >= 200")
    # tag time travel through a quoted VERSION AS OF
    n_tag = cat.sql(
        "SELECT count(*) AS n FROM events_lake VERSION AS OF 'v_base'"
    ).collect()[0]["n"]
    assert n_tag == 300
    assert cat.sql("SELECT count(*) AS n FROM events_lake").collect()[0]["n"] == 200

    cat.sql("ALTER TABLE events_lake CREATE BRANCH fixup")
    b = t.branch("fixup")
    b.update_where("user_id < 10", {"event_type": "'patched'"})
    n_b = cat.sql(
        "SELECT count(*) AS n FROM events_lake VERSION AS OF 'fixup' "
        "WHERE event_type = 'patched'"
    ).collect()[0]["n"]
    assert n_b == 10
    # main unchanged until fast forward
    assert t.read().filter("event_type = 'patched'").count() == 0
    cat.sql("ALTER TABLE events_lake FAST FORWARD fixup")
    assert t.read().filter("event_type = 'patched'").count() == 10
    cat.sql("ALTER TABLE events_lake DROP BRANCH fixup")
    cat.sql("ALTER TABLE events_lake DROP TAG v_base")
    assert not t.tags() and not t.branches()
    with pytest.raises(ValueError, match="no such tag"):
        cat.sql("ALTER TABLE events_lake DROP TAG nope")


def test_create_table_clone_sql(spark, tmp_path):
    cat = LakeCatalog(spark)
    loc = str(tmp_path / "src")
    cat.sql(
        f"""
        CREATE TABLE src (user_id BIGINT, event_type STRING, value DOUBLE)
        USING laketable LOCATION '{loc}' KEY (user_id) BUCKETS 4
        """
    )
    cat.sql("INSERT INTO src VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    v_pin = cat.tables["src"].current_version()
    cat.sql("INSERT INTO src VALUES (3, 'c', 3.0)")

    res = cat.sql(
        f"CREATE TABLE c1 SHALLOW CLONE src VERSION AS OF {v_pin} "
        f"LOCATION '{tmp_path / 'c1'}'"
    ).collect()[0]
    assert res["operation"] == "clone" and res["source_version"] == v_pin
    assert _rows(cat.tables["c1"].read()) == [(1, "a", 1.0), (2, "b", 2.0)]
    # clone is writable and isolated
    cat.sql("INSERT INTO c1 VALUES (9, 'z', 9.0)")
    assert cat.tables["src"].read().count() == 3
    assert cat.tables["c1"].read().count() == 3

    res2 = cat.sql(
        f"CREATE TABLE c2 DEEP CLONE src LOCATION '{tmp_path / 'c2'}'"
    ).collect()[0]
    assert res2["operation"] == "clone-deep"
    assert cat.tables["c2"].read().count() == 3

    with pytest.raises(ValueError, match="already registered"):
        cat.sql(f"CREATE TABLE c1 CLONE src LOCATION '{tmp_path / 'c3'}'")


def test_catalog_store_persistence_and_show(spark, tmp_path):
    store = str(tmp_path / "meta")
    cat = LakeCatalog(spark, store=store)
    loc = str(tmp_path / "t1")
    cat.sql(
        f"CREATE TABLE t1 (user_id BIGINT, value DOUBLE) USING laketable "
        f"LOCATION '{loc}' KEY (user_id) BUCKETS 4"
    )
    cat.sql("INSERT INTO t1 VALUES (1, 1.0), (2, 2.0)")
    # a NEW session object pointed at the same store reattaches by path
    cat2 = LakeCatalog(spark, store=store)
    assert cat2.sql("SELECT count(*) AS n FROM t1").collect()[0]["n"] == 2
    rows = {r["table"]: r for r in cat2.sql("SHOW TABLES").collect()}
    assert rows["t1"]["location"] == loc and rows["t1"]["key_cols"] == "user_id"
    # DROP unregisters (and persists) but leaves data on disk
    cat2.sql("DROP TABLE t1")
    assert "t1" not in cat2.tables
    cat3 = LakeCatalog(spark, store=store)
    assert "t1" not in cat3.tables
    import os as _os
    assert _os.path.isdir(loc)
    with pytest.raises(ValueError, match="unknown table"):
        cat2.sql("DROP TABLE t1")


def test_describe_table(spark, tmp_path):
    cat = LakeCatalog(spark)
    cat.sql(
        f"CREATE TABLE dt (user_id BIGINT, value DOUBLE) USING laketable "
        f"LOCATION '{tmp_path / 'dt'}' KEY (user_id) BUCKETS 4"
    )
    rows = {r["col_name"]: r for r in cat.sql("DESCRIBE dt").collect()}
    assert rows["user_id"]["is_key"] and rows["user_id"]["partitioning"] == "bucket(4)"
    assert rows["value"]["data_type"] == "double" and not rows["value"]["is_key"]
    assert "_lsn" not in rows


def test_bucket_join_tvf(spark, tmp_path):
    from pyspark.sql import types as T
    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable

    cat = LakeCatalog(spark)
    lt = LakeTable.create(
        spark, str(tmp_path / "bl"),
        T.StructType([T.StructField("user_id", T.LongType()),
                      T.StructField("value", T.DoubleType())]),
        ["user_id"], n_buckets=8,
    )
    rt = LakeTable.create(
        spark, str(tmp_path / "br"),
        T.StructType([T.StructField("user_id", T.LongType()),
                      T.StructField("seg", T.StringType())]),
        ["user_id"], n_buckets=4,
    )
    lt.merge(spark.createDataFrame(
        [(i, float(i), i, "U") for i in range(50)],
        ["user_id", "value", "lsn", "op"]), 0)
    rt.merge(spark.createDataFrame(
        [(i, f"s{i % 3}", i, "U") for i in range(20, 70)],
        ["user_id", "seg", "lsn", "op"]), 0)
    cat.register("bl", lt).register("br", rt)
    got = cat.sql(
        "SELECT seg, count(*) AS n FROM bucket_join('bl', 'br') "
        "GROUP BY seg ORDER BY seg"
    ).collect()
    want = (
        lt.read().join(rt.read(), "user_id")
        .groupBy("seg").count().orderBy("seg").collect()
    )
    assert [(r["seg"], r["n"]) for r in got] == [(r["seg"], r["count"]) for r in want]
    # left form keeps unmatched rows
    n_left = cat.sql(
        "SELECT count(*) AS n FROM bucket_join('bl', 'br', 'left')"
    ).collect()[0]["n"]
    assert n_left == 50


def test_show_create_table_roundtrip(spark, tmp_path):
    cat = LakeCatalog(spark)
    cat.sql(
        f"CREATE TABLE rtrip (user_id BIGINT, event_type STRING, value DOUBLE) "
        f"USING laketable LOCATION '{tmp_path / 'rt'}' KEY (user_id) BUCKETS 4"
    )
    cat.sql("ALTER TABLE rtrip ADD COLUMN loud STRING GENERATED ALWAYS AS (upper(event_type))")
    cat.sql("ALTER TABLE rtrip ADD CONSTRAINT pos CHECK (value >= 0)")
    script = cat.sql("SHOW CREATE TABLE rtrip").collect()[0]["stmt"]
    # replay the emitted script on a fresh location/name
    replay = script.replace("rtrip", "rtrip2").replace(
        str(tmp_path / "rt"), str(tmp_path / "rt2")
    )
    for s in replay.split(";\n"):
        cat.sql(s)
    t2 = cat.tables["rtrip2"]
    snap = t2.snapshot()
    assert snap["n_buckets"] == 4 and snap["key_cols"] == ["user_id"]
    assert "loud" in t2.schema(snap).fieldNames()
    assert "pos" in (snap.get("constraints") or {})
    cat.sql("INSERT INTO rtrip2 (user_id, event_type, value) VALUES (1, 'hi', 2.0)")
    assert t2.read().collect()[0]["loud"] == "HI"


def test_create_view_reflects_current_state(cat, spark, tmp_path):
    cat.sql(
        "CREATE VIEW big_events AS "
        "SELECT user_id, value FROM events_lake WHERE value >= 90"
    )
    n0 = cat.sql("SELECT count(*) AS n FROM big_events").collect()[0]["n"]
    # a later write is visible through the view with no re-create
    cat.sql("INSERT INTO events_lake (user_id, event_type, value) VALUES (9001, 'x', 95.0)")
    n1 = cat.sql("SELECT count(*) AS n FROM big_events").collect()[0]["n"]
    assert n1 == n0 + 1
    # view-over-view composes
    cat.sql("CREATE VIEW big_twice AS SELECT user_id, value * 2 AS v2 FROM big_events")
    assert (
        cat.sql("SELECT count(*) AS n FROM big_twice").collect()[0]["n"] == n1
    )
    # name collisions both ways
    with pytest.raises(ValueError, match="registered table"):
        cat.sql("CREATE VIEW events_lake AS SELECT 1")
    with pytest.raises(ValueError, match="exists"):
        cat.sql("CREATE VIEW big_events AS SELECT 1 AS one")
    cat.sql("CREATE OR REPLACE VIEW big_events AS SELECT user_id FROM events_lake")
    cat.sql("DROP VIEW big_twice")
    with pytest.raises(ValueError, match="unknown view"):
        cat.sql("DROP VIEW big_twice")


def test_view_over_join_sql_only(spark, tmp_path):
    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable

    l = LakeTable.create(spark, str(tmp_path / "vl"), SCHEMA, ["user_id"], n_buckets=4)
    l.merge(_base(spark, 100), 0)
    dim_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("label", T.StringType()),
        ]
    )
    d = LakeTable.create(spark, str(tmp_path / "vd"), dim_schema, ["event_type"], n_buckets=2)
    d.merge(
        spark.createDataFrame(
            [(f"t{i}", f"Type {i}", i, "U") for i in range(5)],
            ["event_type", "label", "lsn", "op"],
        ),
        0,
    )
    cat = LakeCatalog(spark).register("ve", l).register("vd", d)
    cat.sql(
        "CREATE VIEW labeled AS SELECT e.user_id, d.label, e.value "
        "FROM ve e JOIN vd d ON e.event_type = d.event_type"
    )
    got = cat.sql(
        "SELECT label, count(*) AS n FROM labeled GROUP BY label ORDER BY label"
    ).collect()
    assert len(got) == 5 and sum(r["n"] for r in got) == 100


def test_view_cycle_raises(cat):
    cat.sql("CREATE VIEW v_a AS SELECT 1 AS one")
    cat.sql("CREATE OR REPLACE VIEW v_a AS SELECT * FROM v_a")  # self-cycle def
    with pytest.raises(ValueError, match="cycle"):
        cat.sql("SELECT * FROM v_a")


def test_view_persistence_and_temp(spark, tmp_path):
    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "pv"), SCHEMA, ["user_id"], n_buckets=2)
    t.merge(_base(spark, 10), 0)
    store = str(tmp_path / "store")
    cat = LakeCatalog(spark, store=store).register("pt", t)
    cat.sql("CREATE VIEW keep_me AS SELECT user_id FROM pt")
    cat.sql("CREATE TEMP VIEW lose_me AS SELECT value FROM pt")
    cat2 = LakeCatalog(spark, store=store)
    assert "keep_me" in cat2.views and "lose_me" not in cat2.views
    assert cat2.sql("SELECT count(*) AS n FROM keep_me").collect()[0]["n"] == 10


def test_insert_overwrite(cat, spark):
    v0 = cat.tables["events_lake"].current_version()
    n_before = cat.sql("SELECT count(*) AS n FROM events_lake").collect()[0]["n"]
    cat.sql(
        "INSERT OVERWRITE events_lake "
        "SELECT user_id, event_type, value FROM events_lake WHERE value >= 50"
    )
    t = cat.tables["events_lake"]
    n_after = t.read().count()
    assert 0 < n_after < n_before
    assert t.read().filter("value < 50").count() == 0
    # time travel to the pre-overwrite snapshot still full
    assert t.read(version=v0).count() == n_before
    # overwrite rows outrank a stale stream write (lsn stamped at next id)
    stale = spark.createDataFrame(
        [(0, "stale", -1.0, 0, "U")], ["user_id", "event_type", "value", "lsn", "op"]
    )
    t.merge(stale, batch_id=0)  # ledger already covers 0 -> no-op or loses
    assert t.read().filter("event_type = 'stale'").count() == 0
