"""Input generation and expected results, in a child process.

    python3 perfbench/prep.py <workload> <seed> <seconds> <work dir>

(``run.py`` calls ``main`` in a forked child.)
Writes the workload's inputs into the work directory and, next to
them, ``expected.json``: what every check of the run must see,
computed in DuckDB apart from the program. It runs before the measured
process starts Spark, so the generator's and the oracle's memory and
CPU never count towards the program's.
"""

from __future__ import annotations

import datetime as dt
import json
import operator
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import plan  # noqa: E402


def prep(name: str, seed: int, seconds: int, work: str) -> dict:
    from perfbench import gen, oracle

    shape = plan.SHAPES[name](seconds)
    con = gen.duck(4)
    selfcheck = oracle.self_check(con, work)
    snap = os.path.join(work, "snapshot.parquet")
    gen.write_snapshot(con, snap, seed, shape.n_keys, plan.CONTENT_MAX)
    segs, lsn = [], 1
    sizes = shape.batch_sizes()
    for i, n in enumerate(sizes):
        seg = os.path.join(work, f"wal-{i:04d}.parquet")
        gen.write_events(
            con, seg, seed, int(shape.n_keys * 1.2), lsn, n, plan.CONTENT_MAX,
            modified_at=shape.modified_at, last_not_delete=(i == len(sizes) - 1),
        )
        segs.append(seg)
        lsn += n

    states: dict[int, list] = {}

    def state(upto: int) -> list:
        if upto not in states:
            states[upto] = oracle.expected_state(con, snap, segs[: upto + 1], shape.modified_at)
        return states[upto]

    reads = {}
    for upto in sorted(set(shape.read_points())):
        rows = oracle.rows(state(upto))
        latest = max(rows, key=lambda r: r[2])  # a live key, fixed by the seed
        reads[str(upto)] = {
            "key": list(latest[:2]),
            "point": plan.digest(r for r in rows if r[:2] == latest[:2]),
            "filter": plan.digest(r for r in rows if r[3] == "Rust" and r[2] < "4"),
            "scan": plan.digest(rows),
        }
    final = state(shape.n_batches - 1)
    out = {
        "selfcheck": selfcheck,
        "snapshot": snap,
        "segments": segs,
        "seg_events": [con.sql(f"SELECT count(*) FROM '{s}'").fetchone()[0] for s in segs],
        "reads": reads,
        "fingerprint": plan.digest((r[0], r[1], r[4]) for r in final),
        "time_window": _time_window(final, lsn - 1) if shape.modified_at else [],
        **_queries(con, shape.queries, seed, work),
    }
    con.close()
    return out


def _time_window(state: list, last_lsn: int) -> list[dict]:
    """"Changed since T" reads with a ``TIMESTAMP`` literal written with
    a ``T`` and with a space. T is the instant of the stream's last
    event, which is always live. The ``T``-separated literal is compared
    as text against bounds encoded as ``YYYY-MM-DD HH:MM:SS.ffffff``, so
    every file is skipped and those reads return nothing: they count as
    failed while that fault stands."""
    from perfbench.gen import EPOCH_S

    t = dt.datetime.fromtimestamp(EPOCH_S + last_lsn, dt.timezone.utc)
    out = []
    for at, sep, op, known_fault in (
        (t, "T", ">=", True), (t, "T", "=", True),
        (t, " ", ">=", False), (t - dt.timedelta(hours=1), " ", ">=", False),
    ):
        cmp = {">=": operator.ge, "=": operator.eq}[op]
        want = [r[:5] for r in state if r[5] is not None and cmp(r[5], at)]
        out.append({
            "pred": f"modified_at {op} TIMESTAMP '{at.strftime(f'%Y-%m-%d{sep}%H:%M:%S')}'",
            "want": plan.digest(want),
            "known_fault": known_fault,
        })
    return out


def _queries(con, names, seed: int, work: str) -> dict:
    """The query tables, and each query's expected result by its DuckDB
    ``oracle_sql``: sorted column names, row count and value hash."""
    import __spark_entry__ as entry

    from perfbench import gen

    data = os.path.join(work, "sf")
    counts = gen.write_query_tables(data, seed, plan.QUERY_SF)
    value_hash = plan.value_hash_fn()
    oracles = entry.oracle_sql()
    for t in counts:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    want = {}
    for name in names:
        rel = con.sql(oracles[name])
        rows = rel.fetchall()
        want[name] = {"columns": sorted(rel.columns), "rows": len(rows),
                      "hash": value_hash(rows, rel.columns)}
    return {"query_data": data, "queries": want}


def main(argv: list[str]) -> int:
    name, seed, seconds, work = argv[0], int(argv[1]), int(argv[2]), argv[3]
    out = prep(name, seed, seconds, work)
    with open(os.path.join(work, "expected.json"), "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
