"""Seeded input generation, made apart from the program.

CDC inputs are written by DuckDB: the initial table snapshot and one
parquet WAL segment per microbatch, in the shape the program's own
``datagen`` documents (FIXTURES.md F1/F2): ``(repo, path)`` keys,
Zipf-like key skew ``key = floor(n * u^3)``, 8% deletes, exact
duplicate rows every 97th LSN, ``event_ts = 1_700_000_000 + lsn``
seconds. The tables of the query pass are numpy-generated
TPC-H-shaped tables with the column names and value domains the
``queries*`` modules read.

The same seed gives byte-identical inputs; the program sees only the
files.

The CDC inputs follow ``datagen``'s definitions but are not made by
it: ``datagen`` runs on the Spark session under test, so it would load
the measured JVM and driver with the benchmark's own work, and a
change to it would change the inputs a version of the program is
measured on. This generator runs in a child process before Spark
starts (``prep.py``).
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EXTS = ["py", "rs", "ts", "md", "toml"]
EXT_LANG = {"py": "Python", "rs": "Rust", "ts": "TypeScript", "md": "Markdown", "toml": "TOML"}
EPOCH_S = 1_700_000_000
PATHS_PER_REPO = 50
DUP_EVERY = 97


def duck(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET preserve_insertion_order=false")
    return con


def _u(tag: str, seed: int, col: str) -> str:
    """Deterministic uniform [0,1) from a hash of (col, tag, seed)."""
    return f"((hash({col}, '{tag}', {seed}) % 1000000)::DOUBLE / 1000000.0)"


def _key_sql(key: str) -> dict[str, str]:
    repo_id = f"({key} // {PATHS_PER_REPO})"
    path_id = f"({key} % {PATHS_PER_REPO})"
    ext = f"(['py','rs','ts','md','toml'])[{path_id} % 5 + 1]"
    return {
        "repo": f"'org' || ({repo_id} % 17)::VARCHAR || '/repo' || {repo_id}::VARCHAR",
        "path": f"'src/m' || ({path_id} % 13)::VARCHAR || '/file' || {path_id}::VARCHAR || '.' || {ext}",
        "ext": ext,
    }


def _lang_of(ext: str) -> str:
    cases = " ".join(f"WHEN '{e}' THEN '{lang}'" for e, lang in EXT_LANG.items())
    return f"(CASE {ext} {cases} END)"


def _content(commit: str, seed: int, content_max: int) -> str:
    """Pseudo-code text of 64..content_max characters derived from the
    commit hash."""
    span = max(content_max - 63, 1)
    reps = content_max // 81 + 1
    unit = f"'fn ' || {commit} || '() {{ /* ' || reverse({commit}) || ' */ }}' || chr(10)"
    length = f"(64 + hash({commit}, 'len', {seed}) % {span})"
    return f"left(repeat({unit}, {reps}), {length}::BIGINT)"


def write_snapshot(con, path: str, seed: int, n_keys: int, content_max: int) -> None:
    k = _key_sql("key_id")
    con.execute(
        f"""
        COPY (
          WITH keys AS (SELECT range AS key_id FROM range({n_keys})),
          base AS (
            SELECT key_id, {k['repo']} AS repo, {k['path']} AS path, {k['ext']} AS ext FROM keys),
          c AS (SELECT *, md5(repo || path || 'genesis') AS commit FROM base)
          SELECT repo, path, commit,
                 CASE WHEN {_u('langnull', seed, 'key_id')} < 0.15 THEN NULL
                      ELSE {_lang_of('ext')} END AS lang,
                 {_content('commit', seed, content_max)} AS content,
                 0::BIGINT AS lsn
          FROM c
        ) TO '{path}' (FORMAT parquet, COMPRESSION zstd, ROW_GROUP_SIZE 16384)
        """
    )


def write_events(
    con,
    path: str,
    seed: int,
    n_keys: int,
    first_lsn: int,
    n_events: int,
    content_max: int,
    modified_at: bool = False,
    last_not_delete: bool = False,
) -> None:
    """One WAL segment: LSNs first_lsn .. first_lsn + n_events - 1 plus
    the exact duplicate of every DUP_EVERY-th event. With
    ``last_not_delete`` the segment's last LSN is an update, so the
    stream's final instant always belongs to a live row."""
    k = _key_sql("key_id")
    last = first_lsn + n_events - 1
    u_op = _u("op", seed, "lsn")
    op = f"CASE WHEN {u_op} < 0.08 THEN 'D' WHEN {u_op} < 0.40 THEN 'I' ELSE 'U' END"
    if last_not_delete:
        op = f"CASE WHEN lsn = {last} THEN 'U' ELSE {op} END"
    extra = ", event_ts AS modified_at" if modified_at else ""
    con.execute(
        f"""
        COPY (
          WITH l AS (SELECT range AS lsn FROM range({first_lsn}, {last + 1})),
          keyed AS (
            SELECT lsn, {op} AS op,
                   least(floor(pow({_u('key', seed, 'lsn')}, 3) * {n_keys})::BIGINT, {n_keys - 1}) AS key_id
            FROM l),
          base AS (
            SELECT lsn, op, {k['repo']} AS repo, {k['path']} AS path, {k['ext']} AS ext FROM keyed),
          ev AS (
            SELECT lsn, op, repo, path, md5(repo || path || lsn::VARCHAR) AS commit,
                   CASE WHEN op = 'D' OR {_u('elangnull', seed, 'lsn')} < 0.2 THEN NULL
                        ELSE {_lang_of('ext')} END AS lang,
                   ext
            FROM base),
          full_ev AS (
            SELECT lsn, op, repo, path, commit, lang,
                   CASE WHEN op = 'D' THEN NULL ELSE {_content('commit', seed, content_max)} END AS content,
                   to_timestamp({EPOCH_S} + lsn) AS event_ts
            FROM ev)
          SELECT *{extra} FROM full_ev
          UNION ALL
          SELECT *{extra} FROM full_ev WHERE lsn % {DUP_EVERY} = 0
        ) TO '{path}' (FORMAT parquet, COMPRESSION zstd, ROW_GROUP_SIZE 16384)
        """
    )


# ---------------------------------------------------------------- query tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _days(rng, n: int, start: dt.date, span_days: int) -> np.ndarray:
    d0 = np.datetime64(start, "us")
    return d0 + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write_query_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The ten tables the query modules read, at scale factor ``sf``
    (sf 0.01: 1.5k customers, 15k orders, ~60k lineitems, 10k events,
    500 documents). Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2404),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    li_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    perm = rng.permutation(n_li)  # the source files are not order-clustered
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": li_order[perm],
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": li_num[perm],
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), 2498),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": money(0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 100))])
        for _ in range(n_doc)
    ]
    for i in range(0, n_doc, 50):  # exact duplicates for the dedup queries
        if i + 7 < n_doc:
            texts[i + 7] = texts[i]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(DOC_LANGS)[rng.integers(0, len(DOC_LANGS), n_doc)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = (rng.standard_normal((n_doc, 64)) * 0.12).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_doc).astype(np.int32),
        }
    )
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tb.num_rows for name, tb in tables.items()}
