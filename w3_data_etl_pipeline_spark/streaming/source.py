"""LakeTable as a TRUE Structured Streaming source (the Delta
streaming-source / Iceberg incremental-streaming-read analogue),
built on Spark 4's Python DataSource API:

    spark.dataSource.register(LakeTableChangeSource)
    df = (spark.readStream.format("laketable_cdf")
          .option("path", table_root)
          .option("startingVersion", 0)          # optional, default 0
          .option("maxVersionsPerTrigger", 10)   # optional backpressure
          .load())

Each microbatch emits the table's change feed between two snapshot
versions — identical row semantics to ``LakeTable.changes(a, b)``
(one row per key whose stored state differs; ``_change_type`` in
insert/update/delete, deletes carrying pre-image values) — with
offsets checkpointed by Spark itself, so the stream is exactly-once
resumable with zero engine-side ledger.

Scale architecture (what the Python DataSource API makes possible):

* ``partitions(start, end)`` runs on the DRIVER and is O(metadata):
  it diffs the two snapshots' per-bucket manifest POINTERS
  (content-addressed — equal pointer <=> identical file set) and
  emits one InputPartition per CHANGED bucket, carrying only file
  lists + the field-id column mapping. No data is read on the driver.
* ``read(partition)`` runs on EXECUTORS with no JVM round-trip: the
  per-bucket resolve-and-diff (max-LSN/commit-sequence winner per
  key, 'D' tombstone drop, deletion-vector masks, epoch-aware column
  mapping with initial-defaults) executes as ONE generated DuckDB SQL
  statement over the bucket's parquet files, vectorized end-to-end,
  and streams back to Spark as Arrow RecordBatches cast to the exact
  declared schema. A key lives in exactly one bucket, so per-bucket
  diffs compose with no cross-partition exchange at all.

Semantics parity with the DataFrame path is pinned by tests that run
randomized COW/MOR/DV lifecycles through BOTH ``LakeTable.changes``
and this source and compare row sets (tests/test_stream_source_cdf.py).

Retention contract: the checkpointed offset names a snapshot version,
so ``expire_snapshots`` must retain at least the stream's lag (same
rule as Delta/Iceberg streaming reads from expired snapshots).
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

from ..plans.laketable import LSN_COL, OP_COL, LakeTable

_CHANGE_COL = "_change_type"


def _trace(msg: str) -> None:
    """Offset-protocol trace, gated on LAKETABLE_CDF_TRACE=<file>:
    the offset methods run inside Spark's python source-runner
    process, so ordinary debugging (breakpoints, monkeypatching from
    the driver script) cannot observe them — this can."""
    p = os.environ.get("LAKETABLE_CDF_TRACE")
    if p:
        with open(p, "a") as f:
            f.write(msg + "\n")


def _duck_type(dt: T.DataType) -> str:
    m = {
        T.LongType: "BIGINT",
        T.IntegerType: "INTEGER",
        T.ShortType: "SMALLINT",
        T.ByteType: "TINYINT",
        T.DoubleType: "DOUBLE",
        T.FloatType: "FLOAT",
        T.StringType: "VARCHAR",
        T.BooleanType: "BOOLEAN",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        T.TimestampNTZType: "TIMESTAMP",
        T.BinaryType: "BLOB",
    }
    for k, v in m.items():
        if isinstance(dt, k):
            return v
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    raise ValueError(f"unsupported column type for the stream source: {dt}")


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    m = {
        T.LongType: pa.int64(),
        T.IntegerType: pa.int32(),
        T.ShortType: pa.int16(),
        T.ByteType: pa.int8(),
        T.DoubleType: pa.float64(),
        T.FloatType: pa.float32(),
        T.StringType: pa.string(),
        T.BooleanType: pa.bool_(),
        T.DateType: pa.date32(),
        T.TimestampType: pa.timestamp("us"),
        T.TimestampNTZType: pa.timestamp("us"),
        T.BinaryType: pa.binary(),
    }
    for k, v in m.items():
        if isinstance(dt, k):
            return v
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    raise ValueError(f"unsupported column type for the stream source: {dt}")


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def _lit(v, duck: str) -> str:
    if v is None:
        return f"CAST(NULL AS {duck})"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return f"CAST({v!r} AS {duck})"
    s = str(v).replace("'", "''")
    return f"CAST('{s}' AS {duck})"


def _resolved_side_sql(side: dict, spec: dict, alias: str) -> str:
    """One resolved table side as a DuckDB CTE: per-file epoch-mapped
    SELECTs unioned, DV-masked, then max-(_lsn, _seq) winner per key
    minus 'D' tombstones — LakeTable._scan + _resolve semantics in
    SQL, shared by the streaming CDF source and the batch reader."""
    import pyarrow.parquet as pq

    keys, types = spec["keys"], spec["types"]
    cols = keys + spec["value_cols"]
    selects = []
    for f in side["files"]:
        phys = set(pq.read_schema(f["path"]).names)
        emap = (spec["name_log"] or {}).get(str(f["epoch"]))
        exprs = []
        for c in cols:
            fid = spec["fids"].get(c)
            old = (
                emap.get(str(fid))
                if (emap is not None and fid is not None)
                else c
            )
            if old is not None and old in phys:
                exprs.append(f"{_q(old)} AS {_q(c)}")
            else:
                # column (by id) absent at this file's epoch, or
                # physically missing: initial-default, else NULL
                exprs.append(
                    f"{_lit(spec['defaults'].get(c), types[c])} AS {_q(c)}"
                )
        lsn = f"{_q(LSN_COL)}" if LSN_COL in phys else "CAST(NULL AS BIGINT)"
        op = f"{_q(OP_COL)}" if OP_COL in phys else "CAST(NULL AS VARCHAR)"
        p = f["path"].replace("'", "''")
        selects.append(
            f"SELECT {', '.join(exprs)}, {lsn} AS _lsn, {op} AS _op, "
            r"try_cast(regexp_extract(filename, 'c(\d{12})-', 1) AS BIGINT)"
            " AS _seq, "
            "array_to_string(string_split(filename, '/')[-3:], '/') AS _fkey, "
            "file_row_number AS _fpos "
            f"FROM read_parquet(['{p}'], filename=true, file_row_number=true)"
        )
    if not selects:
        cast_cols = ", ".join(
            f"CAST(NULL AS {types[c]}) AS {_q(c)}" for c in cols
        )
        selects = [
            f"SELECT {cast_cols}, CAST(NULL AS BIGINT) AS _lsn, "
            "CAST(NULL AS VARCHAR) AS _op, CAST(NULL AS BIGINT) AS _seq, "
            "CAST(NULL AS VARCHAR) AS _fkey, CAST(NULL AS BIGINT) AS _fpos "
            "WHERE 1 = 0"
        ]
    raw = " UNION ALL ".join(f"({s})" for s in selects)
    # fast path: a side holding ONLY base files and no DV masks IS the
    # resolved state — COW rewrites whole buckets, so each live key has
    # exactly one row and no tombstones survive (the same invariant
    # LakeTable.read() uses to skip _resolve when has_delta is false).
    # Skipping the per-key window matters: it is the dominant CPU term
    # of an executor-side read over a compacted table.
    if not side["dv"] and all(
        f.get("kind", "base") == "base" for f in side["files"]
    ):
        return f"{alias} AS (SELECT *, 1 AS _rn FROM ({raw}))"
    if side["dv"]:
        dvp = ", ".join("'" + p.replace("'", "''") + "'" for p in side["dv"])
        raw = (
            f"SELECT * FROM ({raw}) r WHERE NOT EXISTS ("
            f"SELECT 1 FROM read_parquet([{dvp}]) m "
            "WHERE m._dv_fkey = r._fkey AND m._dv_pos = r._fpos)"
        )
    key_list = ", ".join(_q(k) for k in keys)
    return (
        f"{alias} AS (SELECT * FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {key_list} "
        "ORDER BY _lsn DESC NULLS LAST, _seq DESC NULLS LAST) AS _rn "
        f"FROM ({raw})) WHERE _rn = 1 AND (_op IS NULL OR _op <> 'D'))"
    )


def _bucket_spec(table: LakeTable, snap: dict) -> dict:
    """The pickled per-partition planning payload both readers share:
    current schema + field-id epoch maps + defaults, driver-computed
    so executor code stays semantics-free."""
    keys = snap["key_cols"]
    cur_schema = table.schema(snap)
    value_cols = [
        f.name for f in cur_schema.fields
        if f.name not in keys and f.name != LSN_COL
    ]
    types = {f.name: _duck_type(f.dataType) for f in cur_schema.fields}
    return {
        "keys": keys,
        "value_cols": value_cols,
        "types": types,
        "fids": {c: (snap.get("field_ids") or {}).get(c) for c in types},
        "name_log": snap.get("name_log") or {},
        "defaults": {
            c: table._default_value(snap, c, "initial") for c in types
        },
        "fields": json.dumps(
            T.StructType(
                [cur_schema[k] for k in keys]
                + [cur_schema[c] for c in value_cols]
            ).jsonValue()
        ),
    }


def _side_files(table: LakeTable, snap: dict, bucket: int,
                admitted: "set[str] | None" = None) -> dict:
    files = [
        {
            "path": os.path.join(table.root, f["path"]),
            "epoch": int(f.get("epoch", 0)),
            "kind": f.get("kind", "base"),
        }
        for f in snap["files"]
        if f["bucket"] == bucket
        and f.get("kind", "base") != "dv"
        and (admitted is None or f["path"] in admitted)
    ]
    dv = [
        os.path.join(table.root, f["path"])
        for f in snap["files"]
        if f["bucket"] == bucket and f.get("kind", "base") == "dv"
    ]
    return {"files": files, "dv": dv}


class LakeTableChangeSource(DataSource):
    """``format("laketable_cdf")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "laketable_cdf"

    def _table(self) -> LakeTable:
        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' (the LakeTable root) is required")
        return LakeTable(None, path)  # metadata-only: no SparkSession needed

    def schema(self) -> T.StructType:
        t = self._table()
        snap = t.snapshot()
        keys = snap["key_cols"]
        s = t.schema(snap)
        fields = [s[k] for k in keys] + [
            f for f in s.fields if f.name not in keys and f.name != LSN_COL
        ]
        return T.StructType(fields + [T.StructField(_CHANGE_COL, T.StringType(), False)])

    def streamReader(self, schema: T.StructType) -> "LakeCdfStreamReader":
        return LakeCdfStreamReader(self._table(), self.options, schema)


class LakeCdfStreamReader(DataSourceStreamReader):
    def __init__(self, table: LakeTable, options, schema: T.StructType):
        self._t = table
        self._start = int(options.get("startingversion", options.get("startingVersion", 0)))
        mv = options.get("maxversionspertrigger", options.get("maxVersionsPerTrigger"))
        self._max_versions = int(mv) if mv is not None else None
        self._schema = schema
        self._last = self._start
        # maxVersionsPerTrigger is BEST EFFORT on the first trigger
        # after a cold start (same caveat as Delta's maxFilesPerTrigger):
        # Spark may ask latestOffset() before it has told us the real
        # floor — initialOffset() on a fresh stream, or the
        # partitions()/commit() replay of the checkpointed batch on a
        # restart. Until one of those runs, a limited answer computed
        # from a stale floor could fall BEHIND a restarted stream's
        # checkpointed start and make Spark plan a reversed range, so
        # the first answer is deliberately unlimited instead; every
        # subsequent trigger is capped. Correctness (exactly-once, no
        # dup, no gap) is unaffected either way — only batch sizing.
        self._floor_known = False

    # -- offsets ------------------------------------------------------

    def initialOffset(self) -> dict:
        self._floor_known = True  # fresh stream: the floor IS _start
        _trace(f"initialOffset -> {self._start}")
        return {"version": self._start}

    def latestOffset(self) -> dict:
        cur = self._t.current_version()
        if self._max_versions is not None and self._floor_known:
            cur = min(cur, self._last + self._max_versions)
        cur = max(cur, self._last)  # never move backward
        self._last = cur
        _trace(f"latestOffset -> {cur} (floor_known={self._floor_known})")
        return {"version": cur}

    def commit(self, end: dict) -> None:
        _trace(f"commit {end}")
        self._last = max(self._last, int(end["version"]))
        self._floor_known = True

    # -- planning (driver, O(metadata)) --------------------------------

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        a, b = int(start["version"]), int(end["version"])
        _trace(f"partitions {a} -> {b}")
        self._last = max(self._last, b)
        self._floor_known = True
        if a == b:
            return [InputPartition(None)]
        snap_a = self._t.snapshot(a)
        snap_b = self._t.snapshot(b)
        changed = sorted(self._t.changed_buckets(a, b))
        spec = _bucket_spec(self._t, snap_b)
        parts = [
            InputPartition(
                dict(
                    spec,
                    a=_side_files(self._t, snap_a, bk),
                    b=_side_files(self._t, snap_b, bk),
                )
            )
            for bk in changed
        ]
        return parts or [InputPartition(None)]

    # -- execution (executor, DuckDB over parquet) ----------------------

    @staticmethod
    def _side_sql(side: dict, spec: dict, alias: str) -> str:
        return _resolved_side_sql(side, spec, alias)

    def read(self, partition: InputPartition) -> Iterator:
        spec = partition.value
        if spec is None:
            return iter(())
        import duckdb
        import pyarrow as pa

        keys, vals = spec["keys"], spec["value_cols"]
        sql_a = self._side_sql(spec["a"], spec, "sa")
        sql_b = self._side_sql(spec["b"], spec, "sb")
        on = " AND ".join(f"sa.{_q(k)} = sb.{_q(k)}" for k in keys)
        out_keys = ", ".join(
            f"COALESCE(sb.{_q(k)}, sa.{_q(k)}) AS {_q(k)}" for k in keys
        )
        out_vals = ", ".join(
            f"CASE WHEN sb._p IS NULL THEN sa.{_q(c)} ELSE sb.{_q(c)} END AS {_q(c)}"
            for c in vals
        )
        changed = " OR ".join(
            f"sa.{_q(c)} IS DISTINCT FROM sb.{_q(c)}" for c in vals
        ) or "FALSE"
        q = (
            f"WITH {sql_a}, {sql_b}, "
            "pa_ AS (SELECT *, TRUE AS _p FROM sa), "
            "pb_ AS (SELECT *, TRUE AS _p FROM sb) "
            f"SELECT {out_keys}{',' if vals else ''} {out_vals}, "
            "CASE WHEN sa._p IS NULL THEN 'insert' "
            "WHEN sb._p IS NULL THEN 'delete' "
            "ELSE 'update' END AS _change_type "
            "FROM pa_ sa FULL OUTER JOIN pb_ sb ON "
            f"{on} WHERE sa._p IS NULL OR sb._p IS NULL OR ({changed})"
        )
        # one partition is one bucket's files: small by design, and
        # ~cores of these run concurrently in separate python workers —
        # DuckDB's default threads=ncores would oversubscribe the host
        # by cores^2 (measured: a 6 s batch diff took minutes)
        con = duckdb.connect(config={"threads": 1})
        try:
            tbl = con.sql(q).arrow()
        finally:
            con.close()
        fields = T.StructType.fromJson(json.loads(spec["fields"]))
        target = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType)) for f in fields.fields]
            + [pa.field(_CHANGE_COL, pa.string())]
        )
        tbl = tbl.select(target.names).cast(target)
        return iter(tbl.to_batches(max_chunksize=65536))


class LakeTableBatchSource(DataSource):
    """LakeTable as a batch Python DataSource with FILTER PUSHDOWN —
    ``spark.read.format("laketable").option("path", root).load()``:
    any Spark SQL consumer reads the resolved table state (max-LSN
    winner per key, tombstones dropped, DV masks applied, epoch-aware
    rename/default mapping) without importing this library, and
    predicates the planner pushes reach the MANIFEST layer: supported
    comparisons turn into the same (col, op, value) triples
    ``prune_files`` evaluates against per-file min/max/null-count/
    equality-index stats, so file skipping happens inside Spark's own
    query planning. All filters are also RETAINED for Spark to
    re-evaluate post-scan (manifest pruning is file-granular and
    deliberately conservative — returning every filter keeps
    row-level semantics exact, the Iceberg/Delta convention).

    Time travel: ``option("versionAsOf", n)`` / ``option(
    "timestampAsOf", epoch_seconds)``. One InputPartition per bucket
    with admitted files (MOR safety rides prune_files: a bucket
    holding deltas is kept whole); executors run the shared DuckDB
    resolve over the bucket's parquet files and return Arrow batches.
    """

    @classmethod
    def name(cls) -> str:
        return "laketable"

    def _table(self) -> LakeTable:
        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' (the LakeTable root) is required")
        return LakeTable(None, path)

    def _version(self, t: LakeTable) -> int:
        v = self.options.get("versionasof", self.options.get("versionAsOf"))
        if v is not None:
            return int(v)
        ts = self.options.get("timestampasof", self.options.get("timestampAsOf"))
        if ts is not None:
            return t.version_at(float(ts))
        return t.current_version()

    def schema(self) -> T.StructType:
        t = self._table()
        snap = t.snapshot(self._version(t))
        keys = snap["key_cols"]
        s = t.schema(snap)
        return T.StructType(
            [s[k] for k in keys]
            + [f for f in s.fields if f.name not in keys and f.name != LSN_COL]
        )

    def reader(self, schema: T.StructType) -> "LakeTableBatchReader":
        return LakeTableBatchReader(self._table(), self._version(self._table()))

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "the laketable streaming sink is append-only (MOR deltas); "
                "complete-mode output is not supported"
            )
        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' (the LakeTable root) is required")
        return LakeTableStreamWriter(path, schema)


class LakeTableBatchReader(DataSourceReader):
    _OPS = {
        "EqualTo": "=",
        "GreaterThan": ">",
        "GreaterThanOrEqual": ">=",
        "LessThan": "<",
        "LessThanOrEqual": "<=",
        "IsNull": "is_null",
        "IsNotNull": "is_not_null",
    }

    def __init__(self, table: LakeTable, version: int):
        self._t = table
        self._version = version
        self._preds: list[tuple] = []

    def pushFilters(self, filters):
        self._in_lists: list[tuple] = getattr(self, "_in_lists", [])
        for f in filters:
            kind = type(f).__name__
            op = self._OPS.get(kind)
            col = getattr(f, "attribute", None)
            # ColumnPath tuples: only top-level scalar columns prune
            if col is None or len(col) != 1:
                continue
            if op in ("is_null", "is_not_null"):
                self._preds.append((col[0], op, None))
            elif op:
                self._preds.append((col[0], op, f.value))
            elif kind == "In":
                # IN prunes through the same per-value equality path
                # as '=' (bounds + equality index), OR-composed
                self._in_lists.append((col[0], tuple(f.value)))
        # retain EVERY filter: manifest pruning is file-granular, so
        # Spark must still evaluate the row-level predicates exactly
        return filters

    def partitions(self):
        from ..plans.predicate import And, Or, Pred

        snap = self._t.snapshot(self._version)
        in_lists = getattr(self, "_in_lists", [])
        if self._preds or in_lists:
            tree = And(
                [Pred(c, o, v) for c, o, v in self._preds]
                + [Or([Pred(c, "=", v) for v in vals]) for c, vals in in_lists]
            )
            admitted = self._t.prune_files(snap, tree)
        else:
            admitted = [
                f for f in snap["files"] if f.get("kind", "base") != "dv"
            ]
        _trace(
            f"batch partitions v{self._version}: admitted "
            f"{len(admitted)}/{len([x for x in snap['files'] if x.get('kind', 'base') != 'dv'])}"
            f" files, preds={self._preds}"
        )
        admitted_paths = {f["path"] for f in admitted}
        buckets = sorted({f["bucket"] for f in admitted})
        spec = _bucket_spec(self._t, snap)
        return [
            InputPartition(
                dict(spec, b=_side_files(self._t, snap, bk, admitted_paths))
            )
            for bk in buckets
        ] or [InputPartition(None)]

    def read(self, partition: InputPartition):
        spec = partition.value
        if spec is None:
            return iter(())
        import duckdb
        import pyarrow as pa

        cols = ", ".join(_q(c) for c in spec["keys"] + spec["value_cols"])
        q = (
            f"WITH {_resolved_side_sql(spec['b'], spec, 'sb')} "
            f"SELECT {cols} FROM sb"
        )
        # one partition is one bucket's files: small by design, and
        # ~cores of these run concurrently in separate python workers —
        # DuckDB's default threads=ncores would oversubscribe the host
        # by cores^2 (measured: a 6 s batch diff took minutes)
        con = duckdb.connect(config={"threads": 1})
        try:
            tbl = con.sql(q).arrow()
        finally:
            con.close()
        fields = T.StructType.fromJson(json.loads(spec["fields"]))
        target = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType)) for f in fields.fields]
        )
        tbl = tbl.select(target.names).cast(target)
        return iter(tbl.to_batches(max_chunksize=65536))


class _SinkFiles(WriterCommitMessage):
    def __init__(self, files: list):
        self.files = files  # [(bucket, staged_abs_path, rows, bytes)]


class LakeTableStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("laketable")`` — the table as a
    Structured Streaming SINK through the vanilla Spark write API
    (complementing the batch reader and the CDF stream source; the
    richer ``run_stream`` path with batch dedup, patch hydration and
    skew pre-reduce remains the CDC fast path).

    Semantics: MOR append. Each executor task splits its rows by key
    bucket — Spark's chained seed-42 xxhash64 recomputed bit-exactly
    in Python (functions/xxh64.py), since a row in the wrong bucket
    would silently duplicate its key — and writes one delta parquet
    file per touched bucket into a staged attempt directory; the
    driver's ``commit`` then links them under the next commit version
    and writes ONE snapshot. Dedup needs no shuffle at all: the
    engine's max-(_lsn, sequence) resolution absorbs in-batch and
    cross-batch duplicates at read/compaction time, which is what
    makes a shuffle-free streaming sink sound.

    Exactly-once: Spark's epoch id is recorded as ``sink_hwm`` in the
    snapshot itself, so a replayed microbatch after kill/resume
    commits nothing (its staged files become grace-gated orphans) —
    a namespace deliberately separate from the WAL-apply ledger so a
    sink and a ``run_stream`` tail can share a table without masking
    each other's ids. CHECK constraints are evaluated per task on the
    staged Arrow batch (DuckDB, threads=1) before anything reaches
    the table; a violation fails the task and Spark aborts the epoch.

    v1 limits (explicit errors): row-lineage tables unsupported
    (lineage id assignment lives in the merge paths); input schema is
    validated against the table at stream start — additive evolution
    mid-stream requires a restart (files are stamped with the START
    epoch, so renames that happen mid-stream still resolve by field
    id)."""

    def __init__(self, root: str, schema: T.StructType):
        t = LakeTable(None, root)
        snap = t.snapshot()
        if snap.get("row_lineage"):
            raise ValueError(
                "the laketable streaming sink does not support row-lineage "
                "tables yet — use streaming/cdc.run_stream (merge path)"
            )
        self._root = root
        self._keys = snap["key_cols"]
        self._n_buckets = snap["n_buckets"]
        self._epoch = snap.get("schema_epoch", 0)
        self._constraints = dict(snap.get("constraints") or {})
        tbl_schema = t.schema(snap)
        self._table_cols = [
            (f.name, f.dataType) for f in tbl_schema.fields if f.name != LSN_COL
        ]
        self._defaults = {
            name: t._default_value(snap, name, "write")
            for name, _ in self._table_cols
        }
        in_cols = set(schema.fieldNames())
        for k in self._keys:
            if k not in in_cols:
                raise ValueError(f"sink input is missing key column {k!r}")
        if "lsn" not in in_cols:
            raise ValueError(
                "sink input is missing the 'lsn' column (the change "
                "sequence the engine's last-writer-wins rule orders by)"
            )
        known = {n for n, _ in self._table_cols} | {"lsn", "op", LSN_COL, OP_COL}
        unknown = in_cols - known
        if unknown:
            raise ValueError(
                f"sink input carries columns the table lacks: {sorted(unknown)}"
                " — ALTER TABLE ADD COLUMN first (additive evolution is a "
                "table operation, not a sink side effect)"
            )
        self._in_cols = list(schema.fieldNames())

    # -- executor ----------------------------------------------------

    def write(self, iterator) -> _SinkFiles:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..functions.xxh64 import bucket_of

        rows = list(iterator)
        if not rows:
            return _SinkFiles([])
        idx = {c: i for i, c in enumerate(self._in_cols)}
        ki = [idx[k] for k in self._keys]
        # hash as the TABLE's key types: the file stores them so, and
        # merge/read_keys bucket them so
        types = dict(self._table_cols)
        kt = [types[k] for k in self._keys]
        by_bucket: dict[int, list] = {}
        for r in rows:
            b = bucket_of([r[i] for i in ki], kt, self._n_buckets)
            by_bucket.setdefault(b, []).append(r)

        attempt = os.path.join(
            self._root, "data", f"_sink_stage-{uuid.uuid4().hex[:12]}"
        )
        out = []
        for b, rws in sorted(by_bucket.items()):
            cols: dict[str, list] = {}
            for name, _dt in self._table_cols:
                if name in idx:
                    cols[name] = [r[idx[name]] for r in rws]
                else:
                    cols[name] = [self._defaults.get(name)] * len(rws)
            cols[LSN_COL] = [
                r[idx["lsn"]] if "lsn" in idx else r[idx[LSN_COL]] for r in rws
            ]
            oi = idx.get("op", idx.get(OP_COL))
            cols[OP_COL] = (
                [r[oi] for r in rws] if oi is not None else ["U"] * len(rws)
            )
            target = pa.schema(
                [pa.field(n, _arrow_type(dt)) for n, dt in self._table_cols]
                + [pa.field(LSN_COL, pa.int64()), pa.field(OP_COL, pa.string())]
            )
            tbl = pa.table(
                {n: cols[n] for n in target.names}
            ).cast(target)
            if self._constraints:
                con = duckdb.connect(config={"threads": 1})
                try:
                    con.register("staged", tbl)
                    for cname, expr in sorted(self._constraints.items()):
                        bad = con.sql(
                            f"SELECT count(*) FROM staged WHERE NOT COALESCE(({expr}), TRUE)"
                            f" AND COALESCE({_q(OP_COL)} <> 'D', TRUE)"
                        ).fetchone()[0]
                        if bad:
                            raise ValueError(
                                f"CHECK constraint {cname!r} violated by "
                                f"{bad} staged row(s): {expr}"
                            )
                finally:
                    con.close()
            d = os.path.join(attempt, f"_bucket={b}")
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"part-{uuid.uuid4().hex[:12]}.zstd.parquet")
            pq.write_table(tbl, path, compression="zstd")
            out.append((b, path, len(rws), os.path.getsize(path)))
        return _SinkFiles(out)

    # -- driver ------------------------------------------------------

    def _staged(self, messages) -> list:
        files = []
        for m in messages:
            if m is not None:
                files.extend(m.files)
        return files

    def _cleanup(self, files) -> None:
        import shutil

        for _b, p, _r, _s in files:
            shutil.rmtree(os.path.dirname(os.path.dirname(p)), ignore_errors=True)

    def commit(self, messages, batchId: int) -> None:
        t = LakeTable(None, self._root)
        files = self._staged(messages)

        def attempt() -> int | None:
            snap = t.snapshot()
            if batchId <= snap.get("sink_hwm", -1):
                return None  # replay
            version = snap["version"] + 1
            rel = os.path.join("data", f"c{version:012d}-{uuid.uuid4().hex[:8]}")
            entries = []
            for b, p, _rows, _size in files:
                d = os.path.join(t.root, rel, f"_bucket={b}")
                os.makedirs(d, exist_ok=True)
                dst = os.path.join(d, os.path.basename(p))
                os.link(p, dst)
                e = {
                    "path": os.path.relpath(dst, t.root),
                    "bucket": b,
                    "kind": "delta",
                    "epoch": self._epoch,
                }
                e.update(t._file_stats(dst, ()))
                entries.append(e)
            new = dict(snap)
            new.update(
                version=version,
                files=snap["files"] + entries,
                parent=snap["version"],
                operation="stream-sink",
                sink_hwm=batchId,
            )
            # a lost race leaves this attempt's linked files as orphans
            # for the grace-gated scan; the next attempt re-links them
            # against the winner's successor version
            t._write_snapshot(new)
            return version

        version = t._optimistic(
            f"sink commit (batch {batchId})", attempt, attempts=t._REBASE_ATTEMPTS
        )
        if version is None:
            _trace(f"sink commit {batchId}: replay no-op")
        else:
            _trace(f"sink commit {batchId}: v{version}, {len(files)} files")
        self._cleanup(files)

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(self._staged(messages))


# --------------------------------------------------------------------
# Storage-partitioned join (the Iceberg SPJ / Spark bucketed-join
# analogue for LakeTables)
# --------------------------------------------------------------------


class LakeTableJoinSource(DataSource):
    """Zero-shuffle equi-join of two LakeTables co-bucketed on their
    join keys — the Iceberg storage-partitioned-join (SPJ) analogue::

        spark.dataSource.register(LakeTableJoinSource)
        df = (spark.read.format("laketable_join")
              .option("left", left_root).option("right", right_root)
              .option("on", "user_id:c_custkey")   # lcol[:rcol], comma-sep
              .option("how", "inner")              # left|right|full|semi|anti
              .load())

    Both tables hash-bucket their keys with the same function
    (``pmod(xxhash64(keys), n_buckets)``), so equal join keys live in
    aligned buckets by CONSTRUCTION: the join executes as one
    InputPartition per bucket group, each executor resolving both
    sides' bucket state (max-LSN winner, tombstones, DV masks,
    epoch-aware rename/default mapping — the same shared DuckDB
    resolve as the batch/CDF sources) and joining LOCALLY. The Spark
    plan is a pure scan: no Exchange, no SortMergeJoin, no broadcast
    — at 100 TB the usual join shuffle (rewriting both tables over
    the network) simply does not exist, which is the whole point of
    Iceberg SPJ / Spark bucketed tables.

    Compatible bucket counts: equal, or one divides the other
    (rebucket interop) — partitions form at the COARSER count and the
    finer side contributes its congruent buckets, so every row lands
    in exactly one partition and outer joins need no dedup. The join
    columns must cover both sides' bucket keys pairwise and
    type-identically (checked at plan time; anything else would break
    co-location and is rejected, never silently wrong).

    ``leftWhere`` / ``rightWhere`` accept the same SQL predicate
    subset as ``read_where`` and compose with manifest file skipping:
    each side prunes files by manifest bounds/equality indexes BEFORE
    the join, and the surviving rows are filtered post-resolution —
    SPJ + data skipping in one scan. ``leftVersionAsOf`` /
    ``rightVersionAsOf`` pin either side for time-travel joins.

    Output columns: all left columns (join keys coalesced across
    sides under full/right joins, the SQL USING convention), then
    right non-join columns (renamed ``r_<name>`` on collision);
    ``semi``/``anti`` return left columns only.
    """

    _HOWS = ("inner", "left", "right", "full", "semi", "anti")

    @classmethod
    def name(cls) -> str:
        return "laketable_join"

    def _opt(self, *names, default=None):
        for n in names:
            v = self.options.get(n.lower(), self.options.get(n))
            if v is not None:
                return v
        return default

    def _cfg(self) -> dict:
        # computed ONCE per DataSource instance: schema() and reader()
        # must share one pinned pair of snapshots — without version
        # pins, a commit landing between Spark's plan (schema()) and
        # the read would otherwise let the reader build its select/
        # cast plan against a NEWER snapshot than the planned schema,
        # surfacing as Arrow schema mismatches mid-query
        cached = getattr(self, "_cfg_cache", None)
        if cached is not None:
            return cached
        cfg = self._cfg_build()
        self._cfg_cache = cfg
        return cfg

    def _cfg_build(self) -> dict:
        from ..plans.predicate import parse_predicate

        left, right = self._opt("left"), self._opt("right")
        if not left or not right:
            raise ValueError("options 'left' and 'right' (LakeTable roots) are required")
        how = str(self._opt("how", default="inner")).lower()
        if how not in self._HOWS:
            raise ValueError(f"how must be one of {self._HOWS}, got {how!r}")
        lt, rt = LakeTable(None, left), LakeTable(None, right)
        lv = self._opt("leftVersionAsOf")
        rv = self._opt("rightVersionAsOf")
        lsnap = lt.snapshot(int(lv) if lv is not None else None)
        rsnap = rt.snapshot(int(rv) if rv is not None else None)
        lk, rk = lsnap["key_cols"], rsnap["key_cols"]
        raw_on = self._opt("on")
        if raw_on:
            pairs = []
            for item in str(raw_on).split(","):
                a, _, b = item.strip().partition(":")
                pairs.append((a.strip(), (b or a).strip()))
        else:
            if len(lk) != len(rk):
                raise ValueError("option 'on' required when key arities differ")
            pairs = list(zip(lk, rk))
        # SPJ soundness: the equality pairs must map the i-th left
        # bucket key to the i-th right bucket key — co-location holds
        # only when both sides hash the SAME joined values
        if len(lk) != len(rk):
            raise ValueError(f"bucket key arity mismatch: {lk} vs {rk}")
        for a, b in zip(lk, rk):
            if (a, b) not in pairs:
                raise ValueError(
                    f"join must pair bucket keys positionally: missing {a}:{b} "
                    f"(left keys {lk}, right keys {rk}, on={pairs})"
                )
        ls, rs = lt.schema(lsnap), rt.schema(rsnap)
        for a, b in pairs:
            if a not in ls.fieldNames() or b not in rs.fieldNames():
                raise ValueError(f"unknown join column in pair {a}:{b}")
            if ls[a].dataType != rs[b].dataType:
                raise ValueError(
                    f"join pair {a}:{b} type mismatch: "
                    f"{ls[a].dataType.simpleString()} vs {rs[b].dataType.simpleString()}"
                )
        bl, br = lsnap["n_buckets"], rsnap["n_buckets"]
        if max(bl, br) % min(bl, br) != 0:
            raise ValueError(
                f"incompatible bucket counts {bl} vs {br}: one must divide "
                "the other (rebucket either side to align)"
            )
        for w in ("leftWhere", "rightWhere"):
            s = self._opt(w)
            if s is not None:
                parse_predicate(str(s))  # reject anything but the safe subset
        # output column plan
        l_order = lk + [
            f.name for f in ls.fields if f.name not in lk and f.name != LSN_COL
        ]
        paired_r = {b for _a, b in pairs}
        out_fields, sel = [], []
        for c in l_order:
            if how in ("full", "right") and c in dict(pairs):
                sel.append(f"COALESCE(lf.{_q(c)}, rf.{_q(dict(pairs)[c])}) AS {_q(c)}")
            else:
                sel.append(f"lf.{_q(c)} AS {_q(c)}")
            out_fields.append(T.StructField(c, ls[c].dataType))
        if how not in ("semi", "anti"):
            taken = set(l_order)
            for f in rs.fields:
                c = f.name
                if c in paired_r or c == LSN_COL or c in rk:
                    continue
                out = c if c not in taken else f"r_{c}"
                if out in taken:
                    raise ValueError(f"output column collision on {out!r}")
                taken.add(out)
                sel.append(f"rf.{_q(c)} AS {_q(out)}")
                out_fields.append(T.StructField(out, f.dataType))
        origin = [("l", c) for c in l_order] + [
            ("r", s.split("rf.")[1].split(" AS ")[0].strip('"'))
            for s in sel[len(l_order):]
        ]
        cols_opt = self._opt("columns")
        if cols_opt:
            # explicit projection pushdown: the Python DataSource API
            # has no pruneColumns hook, so wide rows (e.g. `content`)
            # would otherwise cross the Arrow boundary only to be
            # dropped by Spark — at 100 TB the projection is the
            # difference between shipping bytes and shipping metadata
            want = [c.strip() for c in str(cols_opt).split(",") if c.strip()]
            have = {f.name: i for i, f in enumerate(out_fields)}
            missing = [c for c in want if c not in have]
            if missing:
                raise ValueError(f"unknown columns {missing}; output has {list(have)}")
            sel = [sel[have[c]] for c in want]
            origin = [origin[have[c]] for c in want]
            out_fields = [out_fields[have[c]] for c in want]

        def _need(tag: str, where) -> "list[str]":
            cols = {c for t, c in origin if t == tag}
            cols.update(a if tag == "l" else b for a, b in pairs)
            if where is not None:
                stack = [parse_predicate(str(where))]
                while stack:
                    n = stack.pop()
                    kids = getattr(n, "children", None)
                    if kids is not None:
                        stack.extend(kids)
                    else:
                        cols.add(n.col)
            return sorted(cols)

        lwhere, rwhere = self._opt("leftWhere"), self._opt("rightWhere")
        groups = self._opt("buckets")
        if groups is not None:
            bc = min(bl, br)
            groups = sorted({int(x) for x in str(groups).split(",") if x.strip()})
            if any(g < 0 or g >= bc for g in groups):
                raise ValueError(f"buckets must be in [0, {bc}) (coarse groups)")
        return {
            "lt": lt, "rt": rt, "lsnap": lsnap, "rsnap": rsnap,
            "how": how, "pairs": pairs, "select": sel,
            "schema": T.StructType(out_fields),
            "lwhere": lwhere, "rwhere": rwhere,
            "lneed": _need("l", lwhere), "rneed": _need("r", rwhere),
            "groups": groups,
        }

    def schema(self) -> T.StructType:
        return self._cfg()["schema"]

    def reader(self, schema: T.StructType) -> "LakeTableJoinReader":
        return LakeTableJoinReader(self._cfg())


class LakeTableJoinReader(DataSourceReader):
    def __init__(self, cfg: dict):
        self._c = cfg

    @staticmethod
    def _admitted(table: LakeTable, snap: dict, where) -> "set[str] | None":
        if where is None:
            return None
        return {f["path"] for f in table.prune_files(snap, str(where))}

    @staticmethod
    def _group_files(table, snap, buckets, admitted) -> dict:
        sides = [_side_files(table, snap, b, admitted) for b in buckets]
        return {
            "files": [f for s in sides for f in s["files"]],
            "dv": [p for s in sides for p in s["dv"]],
        }

    def partitions(self):
        c = self._c
        lt, rt, lsnap, rsnap = c["lt"], c["rt"], c["lsnap"], c["rsnap"]
        how = c["how"]
        bl, br = lsnap["n_buckets"], rsnap["n_buckets"]
        bc = min(bl, br)
        ladmit = self._admitted(lt, lsnap, c["lwhere"])
        radmit = self._admitted(rt, rsnap, c["rwhere"])
        lspec = _bucket_spec(lt, lsnap)
        rspec = _bucket_spec(rt, rsnap)
        # projection pushdown into the parquet read: only columns the
        # join output, the equality pairs, or a where predicate touch
        # are decoded and resolved on the executor
        lspec["value_cols"] = [
            x for x in lspec["value_cols"] if x in c["lneed"]
        ]
        rspec["value_cols"] = [
            x for x in rspec["value_cols"] if x in c["rneed"]
        ]
        parts, skipped = [], 0
        for g in (c["groups"] if c["groups"] is not None else range(bc)):
            lb = self._group_files(lt, lsnap, range(g, bl, bc), ladmit)
            rb = self._group_files(rt, rsnap, range(g, br, bc), radmit)
            need_l = how in ("inner", "left", "semi", "anti")
            need_r = how in ("inner", "right", "semi")
            if (need_l and not lb["files"]) or (need_r and not rb["files"]):
                skipped += 1
                continue
            if how == "full" and not lb["files"] and not rb["files"]:
                skipped += 1
                continue
            parts.append(InputPartition({
                "l": dict(lspec, b=lb), "r": dict(rspec, b=rb),
                "how": how, "pairs": c["pairs"], "select": c["select"],
                "lwhere": c["lwhere"], "rwhere": c["rwhere"],
                "fields": json.dumps(c["schema"].jsonValue()),
            }))
        _trace(
            f"spj partitions: {len(parts)} bucket groups "
            f"({skipped} skipped empty), counts {bl}x{br}"
        )
        return parts or [InputPartition(None)]

    def read(self, partition: InputPartition):
        spec = partition.value
        if spec is None:
            return iter(())
        import duckdb
        import pyarrow as pa

        def side(tag: str) -> str:
            s = spec[tag]
            cols = ", ".join(_q(x) for x in s["keys"] + s["value_cols"])
            w = spec[f"{tag}where"]
            flt = f" WHERE {w}" if w else ""
            return f"{tag}f AS (SELECT {cols} FROM {tag}{flt})"

        on = " AND ".join(
            f"lf.{_q(a)} = rf.{_q(b)}" for a, b in spec["pairs"]
        )
        sel = ", ".join(spec["select"])
        how = spec["how"]
        with_sql = (
            f"WITH {_resolved_side_sql(spec['l']['b'], spec['l'], 'l')}, "
            f"{_resolved_side_sql(spec['r']['b'], spec['r'], 'r')}, "
            f"{side('l')}, {side('r')}"
        )
        if how in ("semi", "anti"):
            neg = "NOT " if how == "anti" else ""
            q = (
                f"{with_sql} SELECT {sel} FROM lf WHERE {neg}EXISTS "
                f"(SELECT 1 FROM rf WHERE {on})"
            )
        else:
            kw = {"inner": "JOIN", "left": "LEFT JOIN",
                  "right": "RIGHT JOIN", "full": "FULL JOIN"}[how]
            q = f"{with_sql} SELECT {sel} FROM lf {kw} rf ON {on}"
        con = duckdb.connect(config={"threads": 1})  # see batch reader note
        try:
            tbl = con.sql(q).arrow()
        finally:
            con.close()
        fields = T.StructType.fromJson(json.loads(spec["fields"]))
        target = pa.schema(
            [pa.field(f.name, _arrow_type(f.dataType)) for f in fields.fields]
        )
        tbl = tbl.select(target.names).cast(target)
        return iter(tbl.to_batches(max_chunksize=65536))
