"""Expected CDC table state, computed in DuckDB apart from the program.

The state after WAL segments ``0..k`` is the initial snapshot plus
every event, reduced to the max-LSN row per ``(repo, path)`` key
(ties broken on ``commit``), with deletes dropped. An event's NULL
``lang`` is filled from the path extension by the map the enrichment
layer documents (``functions/enrich.py`` ``_EXT_LANG``); snapshot rows
are loaded without enrichment and keep theirs.

Rows compare as ``(repo, path, commit, lang, sha256(content))``.
"""

from __future__ import annotations

from .gen import EXT_LANG

_FILL = "CASE regexp_extract(path, '\\.([A-Za-z0-9]+)$', 1) " + " ".join(
    f"WHEN '{e}' THEN '{lang}'" for e, lang in EXT_LANG.items()
) + " END"

Row = tuple  # (repo, path, commit, lang, content_sha)


def _list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def state_sql(
    snapshot: str, segments: list[str], columns: str = "*", modified_at: bool = False
) -> str:
    mod = "modified_at" if modified_at else "NULL::TIMESTAMPTZ"
    events = (
        f"""UNION ALL
            SELECT repo, path, commit, coalesce(lang, {_FILL}) AS lang, content, lsn, op,
                   {mod} AS modified_at
            FROM read_parquet({_list(segments)}, union_by_name = true)"""
        if segments
        else ""
    )
    return f"""
        WITH rows AS (
            SELECT repo, path, commit, lang, content, lsn, 'S' AS op,
                   NULL::TIMESTAMPTZ AS modified_at
            FROM read_parquet('{snapshot}')
            {events}
        ),
        latest AS (
            SELECT * FROM rows
            QUALIFY row_number() OVER (
                PARTITION BY repo, path ORDER BY lsn DESC, commit DESC) = 1
        )
        SELECT {columns} FROM latest WHERE op <> 'D'
    """


def expected_state(con, snapshot: str, segments: list[str], modified_at: bool = False) -> list:
    """Live rows as ``(repo, path, commit, lang, content_sha, modified_at)``."""
    sql = state_sql(
        snapshot,
        segments,
        "repo, path, commit, lang, sha256(content) AS sha, modified_at",
        modified_at,
    )
    return con.sql(sql).fetchall()


def rows(state) -> set[Row]:
    return {r[:5] for r in state}


def expected_fingerprint(state) -> set[tuple]:
    return {(r[0], r[1], r[4]) for r in state}


def self_check(con, work: str) -> bool:
    """The DuckDB reduction against the program's own single-threaded
    reference reducer (``oracle.reduce_events``) on a small input."""
    import os

    from w3_data_etl_pipeline_spark.oracle import expected_fingerprint as py_fp
    from w3_data_etl_pipeline_spark.oracle import reduce_events

    from . import gen

    snap = os.path.join(work, "selfcheck_snap.parquet")
    segs = [os.path.join(work, f"selfcheck_wal{i}.parquet") for i in range(2)]
    gen.write_snapshot(con, snap, seed=5, n_keys=300, content_max=200)
    gen.write_events(con, segs[0], 5, 360, 1, 700, 200, modified_at=True)
    gen.write_events(con, segs[1], 5, 360, 701, 700, 200, modified_at=True)
    snap_rows = con.sql(f"SELECT * FROM '{snap}'").fetchall()
    cols = ["repo", "path", "commit", "lang", "content", "lsn"]
    ev = con.sql(f"SELECT * FROM read_parquet({_list(segs)})")
    ev_rows = [dict(zip(ev.columns, r)) for r in ev.fetchall()]
    want = py_fp(reduce_events([dict(zip(cols, r)) for r in snap_rows], ev_rows))
    got = {(r[0], r[1]): r[4] for r in expected_state(con, snap, segs, modified_at=True)}
    return got == want
