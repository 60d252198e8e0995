"""One commit contract on every commit path: a commit that loses its
version race to a concurrent writer retries against the winner and
lands on top of it (the winner's change survives); a commit that loses
every attempt raises CommitConflictError, never a raw FileExistsError.

Also pins the merge-vs-rename race (a merge that loses its version to
``rename_column`` must not commit a state matching neither serial
order) and a table opened by a relative root surviving a ``chdir``."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from w3_data_etl_pipeline_spark.plans.laketable import CommitConflictError, LakeTable
from w3_data_etl_pipeline_spark.session import local_frame
from w3_data_etl_pipeline_spark.streaming.cdc import apply_batch
from w3_data_etl_pipeline_spark.streaming.source import LakeTableStreamWriter

RACER_BATCH = 777  # the ledger id every injected competitor commit adds

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("n", T.IntegerType()),
    ]
)
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


@pytest.fixture
def racer(monkeypatch):
    """``racer(losses=1, compete=None)``: the next ``losses`` commit
    attempts (on any table; ``None`` = every attempt) lose their
    version to a competitor committed just before them. The default
    competitor copies the current snapshot and ledgers batch 777;
    ``compete(table)`` replaces it with a real operation. Returns the
    list of versions the competitors took."""

    def install(losses=1, compete=None):
        orig = LakeTable._write_snapshot
        won: list[int] = []
        busy = [False]

        def racy(self, s):
            if busy[0] or (losses is not None and len(won) >= losses):
                return orig(self, s)
            busy[0] = True
            try:
                if compete is not None:
                    compete(self)
                else:
                    comp = dict(self.snapshot())
                    comp.update(
                        version=s["version"],
                        parent=s["version"] - 1,
                        operation="racer",
                        ledger=self._ledger_add(comp["ledger"], RACER_BATCH),
                    )
                    orig(self, comp)
            finally:
                busy[0] = False
            won.append(s["version"])
            return orig(self, s)  # loses: the competitor holds the version

        monkeypatch.setattr(LakeTable, "_write_snapshot", racy)
        return won

    return install


@pytest.fixture(scope="module")
def base_table(spark, tmp_path_factory):
    """One small COW table (40 rows, 4 buckets, one CHECK constraint)
    every case shallow-clones: a clone is a metadata-only commit."""
    root = str(tmp_path_factory.mktemp("race") / "base")
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    rows = [Row(id=i, lang=("py", "go", None)[i % 3], content=f"c{i}", n=i) for i in range(40)]
    t.overwrite(local_frame(spark, rows, SCHEMA), lsn=1)
    t.add_constraint("n_nonneg", "n >= 0")
    return t


def _source(spark):
    return local_frame(
        spark,
        [Row(id=1, lang="rs", content="m1", n=100), Row(id=99, lang="rs", content="m99", n=99)],
        SCHEMA,
    )


def _sink_commit(t):
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("lsn", T.LongType())])
    LakeTableStreamWriter(t.root, schema).commit([], 5)


# name -> (op(table, spark) -> result, check(table) -> bool); each check
# confirms the op's own effect is present in the final snapshot
META_OPS = {
    "enable_row_lineage": (
        lambda t, s: t.enable_row_lineage(),
        lambda t: t.snapshot()["row_lineage"],
    ),
    "rename_column": (
        lambda t, s: t.rename_column("lang", "language"),
        lambda t: "language" in t.schema().fieldNames(),
    ),
    "drop_column": (
        lambda t, s: t.drop_column("content"),
        lambda t: "content" not in t.schema().fieldNames(),
    ),
    "add_column": (
        lambda t, s: t.add_column("score", "double", initial_default=1.5),
        lambda t: "score" in t.schema().fieldNames(),
    ),
    "alter_column_default": (
        lambda t, s: t.alter_column_default("lang", "en"),
        lambda t: LakeTable._default_value(t.snapshot(), "lang", "write") == "en",
    ),
    "alter_column_type": (
        lambda t, s: t.alter_column_type("n", "bigint"),
        lambda t: t.schema()["n"].dataType == T.LongType(),
    ),
    "alter_skip_columns": (
        lambda t, s: t.alter_skip_columns(["lang"]),
        lambda t: t.snapshot()["skip_fids"] == [t.snapshot()["field_ids"]["lang"]],
    ),
    "analyze": (
        lambda t, s: t.analyze(["n"])["version"],
        lambda t: t.col_stats()["columns"]["n"]["ndv"] > 0,
    ),
    "alter_write_order": (
        lambda t, s: t.alter_write_order(["n"]),
        lambda t: t.write_order()["cols"] == ["n"],
    ),
    "add_constraint": (
        lambda t, s: t.add_constraint("n_small", "n < 1000", validate=False),
        lambda t: "n_small" in t.constraints(),
    ),
    "drop_constraint": (
        lambda t, s: t.drop_constraint("n_nonneg"),
        lambda t: "n_nonneg" not in t.constraints(),
    ),
    "alter_partition_spec": (
        lambda t, s: t.alter_partition_spec(["identity(lang)"]),
        lambda t: t.snapshot()["default_spec"] == 1,
    ),
}
RECOMPUTE_OPS = {
    "overwrite": (
        lambda t, s: t.overwrite(_source(s), lsn=2),
        lambda t: t.read().count() == 2,
    ),
    "compact": (
        lambda t, s: t.compact(),
        lambda t: t.snapshot()["operation"] == "compact",
    ),
    "delete_where": (
        lambda t, s: t.delete_where("n < 10")["version"],
        lambda t: t.read().count() == 30,
    ),
    "merge_into": (
        lambda t, s: t.merge_into(
            _source(s), [("update", None, {"n": "s.n"}), ("insert", None, None)]
        )["version"],
        lambda t: t.read().count() == 41,
    ),
    "rebucket": (
        lambda t, s: t.rebucket(8),
        lambda t: t.snapshot()["n_buckets"] == 8,
    ),
    "stream_sink": (
        lambda t, s: _sink_commit(t),
        lambda t: t.snapshot()["sink_hwm"] == 5,
    ),
}

ALL_OPS = {
    **META_OPS,
    **RECOMPUTE_OPS,
    "rollback": (
        lambda t, s: t.rollback(0),
        lambda t: "skip_fids" not in t.snapshot(),
    ),
}
# commits made before the racer arms
SETUP = {"rollback": lambda t: t.alter_skip_columns(["lang"])}


@pytest.mark.parametrize("name", sorted(ALL_OPS))
def test_lost_race_lands_on_the_winner(spark, tmp_path, base_table, racer, name):
    op, check = ALL_OPS[name]
    t = base_table.clone(str(tmp_path / name))
    SETUP.get(name, lambda t: None)(t)
    won = racer()
    got = op(t, spark)
    assert len(won) == 1
    cur = t.snapshot()
    assert cur["version"] == won[0] + 1
    assert cur["parent"] == won[0]
    if got is not None:
        assert got == cur["version"]
    if name == "rollback":
        # a rollback restores the target's ledger by design; what it
        # keeps of the winner is its place in history
        assert cur["rollback_of"] == 0
    else:
        assert t._ledger_contains(cur["ledger"], RACER_BATCH)
    assert check(t)


@pytest.mark.parametrize("name", sorted(ALL_OPS))
def test_every_attempt_lost_raises_conflict(spark, tmp_path, base_table, racer, name):
    op, _ = ALL_OPS[name]
    t = base_table.clone(str(tmp_path / name))
    SETUP.get(name, lambda t: None)(t)
    won = racer(losses=None)
    with pytest.raises(CommitConflictError, match="lost the commit race"):
        op(t, spark)
    attempts = LakeTable._REBASE_ATTEMPTS if name == "stream_sink" else LakeTable._COMMIT_ATTEMPTS
    assert len(won) == attempts


# ---------------- merge vs rename_column ----------------


def _rename_setup(spark, root):
    t = LakeTable.create(spark, root, SCHEMA, ["id"], n_buckets=4)
    rows = [Row(id=i, lang=("py", "go")[i % 2], content=f"c{i}", n=i) for i in range(200)]
    t.overwrite(local_frame(spark, rows, SCHEMA), lsn=1)
    # 300 events over keys 100..249: updates to live keys, inserts past
    # 199, deletes of every 7th key; lang is NULL on every third event
    events = [
        Row(
            id=100 + i % 150,
            lsn=10 + i,
            op="D" if (100 + i % 150) % 7 == 0 else ("U" if 100 + i % 150 < 200 else "I"),
            lang=None if i % 3 == 0 else ("rs", "js")[i % 2],
            content=f"e{i}",
        )
        for i in range(300)
    ]
    return t, local_frame(spark, events, EVENT_SCHEMA)


def _state(t):
    df = t.read()
    return df.columns, {tuple(r) for r in df.collect()}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_losing_to_rename_matches_serial_order(spark, tmp_path, racer, mode):
    """Serial rename -> merge: the batch's ``lang`` is a new column
    beside ``language``. Serial merge -> rename: no ``lang`` column.
    A merge whose version a rename takes must end as one of the two —
    it raises CommitConflictError, and apply_batch's re-run yields the
    rename -> merge state."""
    t1, ev = _rename_setup(spark, str(tmp_path / "rename_first"))
    t1.rename_column("lang", "language")
    apply_batch(t1, ev, 0, enrich=False, mode=mode)
    rename_first = _state(t1)

    t2, ev = _rename_setup(spark, str(tmp_path / "merge_first"))
    apply_batch(t2, ev, 0, enrich=False, mode=mode)
    t2.rename_column("lang", "language")
    merge_first = _state(t2)

    assert rename_first[0] == ["id", "language", "content", "n", "lang"]
    assert merge_first[0] == ["id", "language", "content", "n"]
    live = rename_first[1]
    assert len(live) == 200 + 50 - len([k for k in range(100, 250) if k % 7 == 0])
    # the batch supplied lang, not language: its keys read a NULL language
    touched = [r for r in live if 100 <= r[0] < 250]
    assert all(r[1] is None for r in touched)
    assert all(r[1] is not None and r[4] is None for r in live if r[0] < 100)

    def rename(tb):
        tb.rename_column("lang", "language")

    t, ev = _rename_setup(spark, str(tmp_path / "raced_merge"))
    won = racer(compete=rename)
    with pytest.raises(CommitConflictError, match="schema identity"):
        t.merge(ev, 0, mode=mode)
    assert len(won) == 1
    assert not t._ledger_contains(t.snapshot()["ledger"], 0)

    t, ev = _rename_setup(spark, str(tmp_path / "raced_apply"))
    won = racer(compete=rename)
    apply_batch(t, ev, 0, enrich=False, mode=mode)  # conflict, then its one re-run
    assert len(won) == 1
    assert _state(t) == rename_first


# ---------------- relative root ----------------


def test_relative_root_survives_chdir(spark, tmp_path, monkeypatch):
    """A table opened by a relative root keeps committing under that
    root after the process changes directory."""
    monkeypatch.chdir(tmp_path)
    t = LakeTable.create(spark, "rel", SCHEMA, ["id"], n_buckets=2)
    (tmp_path / "elsewhere").mkdir()
    monkeypatch.chdir(tmp_path / "elsewhere")
    v = t.overwrite(_source(spark), lsn=1)
    assert t.current_version() == v == 1
    reopened = LakeTable(spark, str(tmp_path / "rel"))
    assert reopened.current_version() == v
    assert reopened.read().count() == 2
    assert not (tmp_path / "elsewhere" / "rel").exists()
