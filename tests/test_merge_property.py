"""Randomized batch-partition property: for ANY way of slicing a
change stream into microbatches — random assignment (out-of-order
interleaving), shuffled rows, cross-batch duplicate redelivery, whole
replayed batches — both COW and MOR apply (with a mid-stream partial
compaction) must converge to the serial oracle's state byte-for-byte.
Seeded random like the patch-fold property test: deterministic runs,
three trials per mode."""

from __future__ import annotations

import random

from pyspark.sql import types as T

from w3_data_etl_pipeline_spark import oracle
from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
from w3_data_etl_pipeline_spark.schemas import SOURCE_FILES
from w3_data_etl_pipeline_spark.session import local_frame

N_KEYS = 40
N_EVENTS = 200

BOOT_SCHEMA = T.StructType(SOURCE_FILES.fields + [T.StructField("lsn", T.LongType())])
EVENT_SCHEMA = T.StructType(
    SOURCE_FILES.fields
    + [T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType())]
)


def _gen(rng):
    keys = [(f"org{i % 7}/r{i % 13}", f"src/f{i}.py") for i in range(N_KEYS)]
    snap_rows = [
        {
            "repo": r,
            "path": p,
            "commit": f"boot{i}",
            "lang": "Python",
            "content": f"base-{i}",
            "lsn": 0,
        }
        for i, (r, p) in enumerate(keys)
    ]
    event_rows = []
    for lsn in range(1, N_EVENTS + 1):
        r, p = rng.choice(keys)
        op = rng.choices(["I", "U", "D"], weights=[2, 5, 1])[0]
        event_rows.append(
            {
                "repo": r,
                "path": p,
                "commit": f"c{lsn:04d}",
                "lang": "Python",
                "content": f"v{lsn}-{rng.randint(0, 999)}",
                "lsn": lsn,
                "op": op,
            }
        )
    return snap_rows, event_rows


def _random_batches(rng, event_rows):
    """Random batch assignment (arbitrary cross-batch reordering of
    updates — the max-LSN guard must absorb it), repaired to the
    engine's DOCUMENTED stale-delete contract: reordering must not
    span a delete, because tombstone retention ends at the write (COW)
    or the compaction fold (MOR), after which a stale lower-LSN update
    would legally resurrect the key (same boundary as Iceberg/Delta
    COW deletes; see LakeTable.merge / hydrate_patches docstrings)."""
    n_batches = rng.randint(4, 7)
    batches = [[] for _ in range(n_batches)]
    for e in event_rows:
        batches[rng.randrange(n_batches)].append(e)  # out-of-order slicing
    # cross-batch duplicate redelivery: stale copies land in LATER batches
    for _ in range(10):
        src = rng.randrange(n_batches - 1)
        if batches[src]:
            dup = dict(rng.choice(batches[src]))
            batches[src + rng.randint(1, n_batches - 1 - src)].append(dup)
    # repair: any event older than a key's final delete may not arrive
    # in a LATER batch than that delete — pull it into the delete's own
    # batch (per-key order within a batch is irrelevant: fused dedup)
    last_d = {}
    for bi, b in enumerate(batches):
        for e in b:
            if e["op"] == "D":
                k = (e["repo"], e["path"])
                if k not in last_d or e["lsn"] > last_d[k][0]:
                    last_d[k] = (e["lsn"], bi)
    for bi, b in enumerate(batches):
        for e in list(b):
            k = (e["repo"], e["path"])
            if k in last_d and e["lsn"] < last_d[k][0] and bi > last_d[k][1]:
                b.remove(e)
                batches[last_d[k][1]].append(e)
    for b in batches:
        rng.shuffle(b)
    return batches


def test_any_batching_converges_to_oracle(spark, tmp_path):
    for trial, mode in [(1, "cow"), (2, "mor"), (3, "cow"), (4, "mor"), (5, "mor")]:
        rng = random.Random(1000 + trial)
        snap_rows, event_rows = _gen(rng)
        batches = _random_batches(rng, event_rows)
        t = LakeTable.create(
            spark,
            str(tmp_path / f"t_prop{trial}"),
            SOURCE_FILES,
            ["repo", "path"],
            n_buckets=8,
        )
        t.overwrite(local_frame(spark, snap_rows, BOOT_SCHEMA), lsn=0)
        replay_at = rng.randrange(len(batches))
        for i, b in enumerate(batches):
            df = local_frame(spark, b, EVENT_SCHEMA)
            st = t.merge(df, i, mode=mode)
            assert st.applied
            if i == replay_at:
                # whole-batch redelivery with the same id: ledger no-op
                assert not t.merge(df, i, mode=mode).applied
            if mode == "mor" and i == len(batches) // 2:
                t.compact(min_deltas=2)  # mid-stream partial fold
        exp = oracle.expected_fingerprint(
            oracle.reduce_events(snap_rows, event_rows)
        )
        got = {
            (r["repo"], r["path"]): r["content_sha"]
            for r in t.state_fingerprint().collect()
        }
        assert got == exp, f"trial {trial} ({mode}) diverged from oracle"


def test_random_schema_evolution_converges_full_row(spark, tmp_path):
    """Batches randomly carry extra columns (additive evolution) or an
    int-typed variant of a long column (widening promotion); the final
    table must match the serial oracle FULL-ROW per key: a winner that
    lacked a column leaves NULL there (full-row replace semantics),
    evolved columns backfill NULL for untouched keys, and content shas
    stay byte-identical. Three seeded trials across cow/mor."""
    extra_pool = [
        ("stars", T.IntegerType(), lambda lsn: lsn % 50),
        ("forks", T.LongType(), lambda lsn: lsn * 3),
        ("description", T.StringType(), lambda lsn: f"d{lsn % 7}"),
    ]
    for trial, mode in [(11, "cow"), (12, "mor"), (13, "cow")]:
        rng = random.Random(2000 + trial)
        snap_rows, event_rows = _gen(rng)
        n_batches = 5
        per = len(event_rows) // n_batches
        t = LakeTable.create(
            spark,
            str(tmp_path / f"t_evo{trial}"),
            SOURCE_FILES,
            ["repo", "path"],
            n_buckets=8,
        )
        t.overwrite(local_frame(spark, snap_rows, BOOT_SCHEMA), lsn=0)
        enriched_rows = []  # what the oracle sees: rows AS SENT per batch
        for i in range(n_batches):
            lo, hi = i * per, (i + 1) * per if i < n_batches - 1 else len(event_rows)
            batch_rows = [dict(e) for e in event_rows[lo:hi]]
            cols = [c for c in extra_pool if rng.random() < 0.5]
            fields = list(EVENT_SCHEMA.fields)
            for name, typ, fn in cols:
                # half the time send forks as int: widening promotion
                if name == "forks" and rng.random() < 0.5:
                    typ = T.IntegerType()
                fields.append(T.StructField(name, typ))
                for r in batch_rows:
                    r[name] = fn(r["lsn"])
            enriched_rows.extend(dict(r) for r in batch_rows)
            df = local_frame(spark, batch_rows, T.StructType(fields))
            assert t.merge(df, i, mode=mode).applied
        # serial oracle over the enriched rows (full-row replace)
        state = {}
        for r in snap_rows:
            state[(r["repo"], r["path"])] = dict(r)
        for e in sorted(enriched_rows, key=lambda x: (x["lsn"], x["commit"])):
            k = (e["repo"], e["path"])
            if e["op"] == "D":
                state.pop(k, None)
            else:
                state[k] = {c: v for c, v in e.items() if c != "op"}
        got = {(r["repo"], r["path"]): r.asDict() for r in t.read().collect()}
        assert set(got) == set(state), f"trial {trial} key set diverged"
        for name, _t, _f in extra_pool:
            assert name in next(iter(got.values())), f"{name} not evolved in"
        for k, exp in state.items():
            row = got[k]
            assert row["content"] == exp.get("content"), (trial, k)
            for name, _t, _f in extra_pool:
                assert row[name] == exp.get(name), (trial, k, name, row[name])
