"""Randomized lifecycle property test: a seeded random interleaving of
merge (COW + MOR), row-level DML, schema DDL (add with defaults /
rename / drop), compact, and rebucket runs against BOTH the engine and
a ~100-line single-threaded Python model; after EVERY operation the
full resolved table state — values, row identity (``_row_id``
stability, not raw values), and ``_last_seq`` — must match the model.

This is the interaction net under the targeted suites: each feature is
pinned by its own tests, but bugs live where features compose (a
write-default materialized by a compact, a rename crossing a MOR
delta, an identity carried through a bucket rewrite of a defaulted
column). Determinism: fixed seeds, strictly increasing LSNs, and
identity compared as *stability* because raw ids are file-order
dependent.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import types as T

from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
from w3_data_etl_pipeline_spark.session import local_frame
from w3_data_etl_pipeline_spark.streaming.source import LakeTableBatchSource

KEYS = list(range(14))
N_OPS = 24


class Model:
    """Single-threaded oracle mirroring LakeTable's documented
    semantics (LWW by strictly-increasing LSN, full-image upserts,
    write-defaults for omitted columns, initial-defaults for history,
    fresh identity on MOR images and re-inserts)."""

    def __init__(self):
        self.cols: dict[str, dict] = {"v": {"write": None}}  # name -> defaults
        self.rows: dict[int, dict] = {}       # key -> {col: value}
        self.ident: dict[int, int] = {}       # key -> logical identity token
        self.last: dict[int, int] = {}        # key -> last-changing commit
        self._next_tok = 0

    def _tok(self):
        self._next_tok += 1
        return self._next_tok

    def upsert(self, k, values: dict, v: int, fresh_identity: bool):
        row = {}
        for c, d in self.cols.items():
            row[c] = values[c] if c in values else d.get("write")
        self.rows[k] = row
        if fresh_identity or k not in self.ident:
            self.ident[k] = self._tok()
        self.last[k] = v

    def delete(self, k):
        self.rows.pop(k, None)
        self.ident.pop(k, None)
        self.last.pop(k, None)

    def dml_update(self, k, col, val, v: int):
        if k in self.rows and col in self.cols:
            self.rows[k][col] = val
            self.last[k] = v

    def add_column(self, name, initial, write):
        self.cols[name] = {"write": write}
        for row in self.rows.values():
            row[name] = initial

    def rename(self, old, new):
        self.cols[new] = self.cols.pop(old)
        for row in self.rows.values():
            row[new] = row.pop(old)

    def drop(self, name):
        del self.cols[name]
        for row in self.rows.values():
            row.pop(name, None)


def _check(t, model, prev_ids, step):
    got = {
        r.k: r.asDict()
        for r in t.read(include_lineage=True).collect()
    }
    assert set(got) == set(model.rows), f"step {step}: keyset diverged"
    for k, row in model.rows.items():
        g = got[k]
        for c, want in row.items():
            assert g[c] == want, (
                f"step {step}: key {k} col {c}: engine {g[c]!r} != model {want!r}"
            )
        assert g["_last_seq"] == model.last[k], (
            f"step {step}: key {k} _last_seq {g['_last_seq']} != {model.last[k]}"
        )
    # identity STABILITY: engine id changed since the last check iff
    # the model's logical token changed (raw ids are file-order noise)
    for k in got:
        if k in prev_ids:
            prev_eid, prev_tok = prev_ids[k]
            if model.ident[k] == prev_tok:
                assert got[k]["_row_id"] == prev_eid, (
                    f"step {step}: key {k} identity drifted on a carry"
                )
            else:
                assert got[k]["_row_id"] != prev_eid, (
                    f"step {step}: key {k} kept its id across a re-identify"
                )
    # and ids are globally unique
    ids = [g["_row_id"] for g in got.values()]
    assert len(ids) == len(set(ids)), f"step {step}: duplicate row ids"
    # pruned-read equivalence (every 4th step): read_semi / read_in
    # must see exactly the model state through any interleaving of
    # MOR deltas, DDL, compaction and rebucketing
    if step % 4 == 0:
        probe = [k for k in KEYS if k % 3 == 0] + [999]
        sem = {
            r["k"]: r.asDict()
            for r in t.read_semi(
                local_frame(t.spark, [(k,) for k in probe], "k long")
            ).collect()
        }
        want_sem = {k for k in probe if k in model.rows}
        assert set(sem) == want_sem, f"step {step}: read_semi keyset diverged"
        for k in want_sem:
            for c, wantv in model.rows[k].items():
                assert sem[k][c] == wantv, (
                    f"step {step}: read_semi key {k} col {c} diverged"
                )
        vs = sorted(
            {r["v"] for r in model.rows.values() if r["v"] is not None}
        )[:2] + ["@absent"]
        got_in = {
            r["k"]
            for r in t.read_in(
                "v", local_frame(t.spark, [(x,) for x in vs], "v string")
            ).collect()
        }
        want_in = {k for k, r in model.rows.items() if r["v"] in vs}
        assert got_in == want_in, f"step {step}: read_in keyset diverged"
    # batch-DataSource equivalence (every 4th step, offset 2): the
    # executor-side DuckDB resolve — epoch maps, defaults, DV masks,
    # MOR fold — must see exactly the model state through ANY
    # interleaving of merges, DML, DDL, compaction and rebucketing
    if step % 4 == 2:
        try:
            t.spark.dataSource.register(LakeTableBatchSource)
        except Exception:
            pass
        ds = {
            r["k"]: r.asDict()
            for r in t.spark.read.format("laketable")
            .option("path", t.root)
            .load()
            .collect()
        }
        assert set(ds) == set(model.rows), f"step {step}: datasource keyset"
        for k, row in model.rows.items():
            for c, wantv in row.items():
                assert ds[k][c] == wantv, (
                    f"step {step}: datasource key {k} col {c}: "
                    f"{ds[k][c]!r} != {wantv!r}"
                )
    return {k: (got[k]["_row_id"], model.ident[k]) for k in got}


@pytest.mark.parametrize("seed", [7, 23])
def test_random_lifecycle_matches_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = LakeTable.create(
        spark, str(tmp_path / f"t{seed}"), schema, ["k"], n_buckets=4,
        row_lineage=True,
    )
    model = Model()
    lsn = 0
    n_added = 0
    prev_ids: dict = {}

    def merge_batch(mode):
        nonlocal lsn
        ks = rng.sample(KEYS, rng.randint(1, 5))
        cols = list(model.cols)
        supplied = rng.sample(cols, rng.randint(0, len(cols)))
        rows, acts = [], []
        for k in ks:
            lsn += 1
            if rng.random() < 0.2 and k in model.rows:
                rows.append((k, *[None] * len(supplied), lsn, "D"))
                acts.append(("D", k, {}))
            else:
                vals = {c: f"{c}={k}@{lsn}" for c in supplied}
                rows.append((k, *[vals[c] for c in supplied], lsn, "I"))
                acts.append(("U", k, vals))
        ddl = "k long, " + "".join(f"`{c}` string, " for c in supplied) + \
              "lsn long, op string"
        t.merge(local_frame(spark, rows, ddl), batch_id=1000 + lsn, mode=mode)
        v = t.current_version()
        for op, k, vals in acts:
            if op == "D":
                model.delete(k)
            else:
                model.upsert(k, vals, v, fresh_identity=(mode == "mor"))

    merge_batch("cow")  # non-empty start
    for step in range(N_OPS):
        op = rng.choice(
            ["cow", "cow", "mor", "dml", "dvdel", "compact", "add", "rename",
             "drop", "rebucket"]
        )
        if op in ("cow", "mor"):
            merge_batch(op)
        elif op == "dml" and model.rows:
            k = rng.choice(sorted(model.rows))
            col = rng.choice(list(model.cols))
            t.update_where(f"k = {k}", {col: f"'dml@{step}'"},
                           mode=rng.choice(["cow", "mor"]))
            model.dml_update(k, col, f"dml@{step}", t.current_version())
        elif op == "dvdel" and model.rows:
            # positional deletion-vector delete interleaved with every
            # other lifecycle op — masks must survive (or fold through)
            # whatever came before and whatever comes after
            k = rng.choice(sorted(model.rows))
            t.delete_where(f"k = {k}", mode="dv")
            model.delete(k)
        elif op == "compact":
            # sometimes a clustered/z-ordered rewrite: materialized
            # lineage must survive arbitrary row reordering
            cluster = rng.choice([None, ["v"]])
            t.compact(min_deltas=1, min_delta_rows=1, cluster_by=cluster,
                      zorder=bool(cluster) and rng.random() < 0.5)
        elif op == "add":
            n_added += 1
            name = f"c{n_added}"
            initial = rng.choice([None, f"init{n_added}"])
            write = rng.choice([None, f"wd{n_added}"])
            t.add_column(name, "string", initial_default=initial,
                         write_default=write)
            model.add_column(name, initial, write)
        elif op == "rename":
            cands = [c for c in model.cols if c != "v"]
            if cands:
                old = rng.choice(cands)
                n_added += 1
                t.rename_column(old, f"c{n_added}")
                model.rename(old, f"c{n_added}")
        elif op == "drop":
            cands = [c for c in model.cols if c != "v"]
            if cands:
                c = rng.choice(cands)
                t.drop_column(c)
                model.drop(c)
        elif op == "rebucket":
            t.rebucket(rng.choice([3, 5, 8]))
        prev_ids = _check(t, model, prev_ids, step)
