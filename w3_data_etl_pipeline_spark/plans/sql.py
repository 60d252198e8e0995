"""SQL front-end over LakeTable (the Delta/Iceberg SQL surface the
reference's users actually write — its whole query layer is SQL task
strings run by PostgresOperator, /root/reference/src/dags/w3c.py —
re-expressed as lakehouse DML against snapshot-versioned tables).

``LakeCatalog`` registers LakeTables under names and executes one
statement per ``sql()`` call:

  SELECT/WITH ...                 -> Spark SQL over temp views of the
                                     registered tables' resolved reads;
                                     ``<tbl> [FOR] VERSION AS OF n`` and
                                     ``TIMESTAMP AS OF <epoch|'ts'>``
                                     rewrite to time-travel views first
  MERGE INTO t USING src ON ...   -> LakeTable.merge_into (WHEN MATCHED
                                     UPDATE/DELETE, WHEN NOT MATCHED
                                     INSERT */(cols) VALUES, WHEN NOT
                                     MATCHED BY SOURCE UPDATE/DELETE,
                                     clause order preserved)
  UPDATE t SET ... [WHERE ...]    -> update_where
  DELETE FROM t WHERE ...         -> delete_where
  ALTER TABLE t ADD COLUMN ...    -> add_column (DEFAULT -> write+initial)
  ALTER TABLE t RENAME COLUMN a TO b / DROP COLUMN a
  ALTER TABLE t ALTER COLUMN a TYPE ty / SET DEFAULT v / DROP DEFAULT
  ALTER TABLE t ADD CONSTRAINT n CHECK (e) / DROP CONSTRAINT n
  ALTER TABLE t WRITE ORDERED BY a, b [TARGET n ROWS] / WRITE UNORDERED
  ALTER TABLE t SET PARTITION SPEC (days(ts), identity(lang)) / SPEC NONE
  CREATE [OR REPLACE] [TEMP] VIEW v AS SELECT ... / DROP VIEW v
  INSERT OVERWRITE t SELECT ...|VALUES      -> whole-table replace
  OPTIMIZE t [WHERE p] [ZORDER BY (a, b)]   -> compact
  VACUUM t [RETAIN n VERSIONS] [DRY RUN]    -> expire_snapshots
  ANALYZE TABLE t [FOR COLUMNS a, b]        -> analyze
  RESTORE TABLE t TO VERSION AS OF n        -> rollback

Parsing is a tiny top-level tokenizer (quote- and paren-aware keyword
scanning), NOT a grammar for arbitrary SQL: conditions and SET
right-hand sides pass through verbatim to the engine, which already
evaluates them as Spark SQL expressions — so anything Spark accepts in
a predicate works here unchanged. DML statements return a one-row
metrics DataFrame (Delta's operation-metrics convention); SELECT
returns the query result.

DML mode (copy-on-write vs merge-on-read) is a ``sql(..., mode=)``
argument rather than dialect: storage strategy is an engine knob, not
query text.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from .laketable import LSN_COL, LakeTable

_WORD = r"[A-Za-z_][A-Za-z0-9_]*"


def _strip(s: str) -> str:
    return s.strip().rstrip(";").strip()


def _scan_level(stmt: str):
    """Yield (index, char, depth, in_string) for top-level keyword
    scanning: depth counts unquoted parens, in_string covers single-
    quoted SQL literals (with '' escapes) and double-quoted idents."""
    depth = 0
    q: str | None = None
    i, n = 0, len(stmt)
    while i < n:
        c = stmt[i]
        if q:
            if c == q:
                if q == "'" and i + 1 < n and stmt[i + 1] == "'":
                    i += 2
                    continue
                q = None
        elif c in ("'", '"'):
            q = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        yield i, c, depth, q is not None
        i += 1


def _find_kw(stmt: str, kw: str, start: int = 0) -> int:
    """First index of whole-word keyword ``kw`` (spaces in kw match any
    whitespace run) at paren depth 0 outside strings, or -1."""
    pat = re.compile(
        r"(?<![A-Za-z0-9_])" + r"\s+".join(map(re.escape, kw.split())) + r"(?![A-Za-z0-9_])",
        re.IGNORECASE,
    )
    levels = {}
    for i, _, depth, instr in _scan_level(stmt):
        levels[i] = (depth, instr)
    for m in pat.finditer(stmt):
        if m.start() >= start:
            d, instr = levels.get(m.start(), (0, False))
            if d == 0 and not instr:
                return m.start()
    return -1


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at depth 0 outside strings."""
    parts, last = [], 0
    for i, c, depth, instr in _scan_level(s):
        if c == sep and depth == 0 and not instr:
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


class LakeCatalog:
    """Name -> LakeTable registry with a one-statement SQL executor.

    ``store`` makes the catalog DURABLE (the Hive-metastore-shaped
    seam, file-backed like everything else here): registrations
    append name -> root to ``<store>/catalog.json`` atomically, and a
    new session pointed at the same store reattaches every table by
    path — so `spark-submit` jobs and interactive sessions share one
    namespace with zero extra services. Only the MAPPING is stored;
    all table state lives in each table's own snapshot log."""

    def __init__(self, spark: SparkSession, store: str | None = None):
        self.spark = spark
        self.tables: dict[str, LakeTable] = {}
        self.views: dict[str, str] = {}  # name -> SELECT text (persisted)
        self._temp_views: set[str] = set()  # session-only subset
        self._expanding: set[str] = set()  # view-cycle guard
        self._store = store
        if store:
            os.makedirs(store, exist_ok=True)
            path = os.path.join(store, "catalog.json")
            if os.path.exists(path):
                with open(path) as f:
                    data = json.load(f)
                # v1 store format was a flat {name: root} dict
                tbls = data.get("tables", data) if isinstance(data, dict) else data
                for name, root in tbls.items():
                    self.tables[name] = LakeTable(spark, root)
                for name, text in (data.get("views") or {}).items():
                    self.views[name] = text

    def _persist(self) -> None:
        if not self._store:
            return
        path = os.path.join(self._store, "catalog.json")
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "tables": {n: t.root for n, t in sorted(self.tables.items())},
                    "views": {
                        n: v
                        for n, v in sorted(self.views.items())
                        if n not in self._temp_views
                    },
                },
                f,
            )
        os.replace(tmp, path)

    def register(self, name: str, table: LakeTable) -> "LakeCatalog":
        if not re.fullmatch(_WORD, name):
            raise ValueError(f"invalid table name {name!r}")
        if name in self.views:
            raise ValueError(f"{name!r} is a registered view")
        self.tables[name] = table
        self._persist()
        return self

    def unregister(self, name: str) -> "LakeCatalog":
        self.tables.pop(name, None)
        self._persist()
        return self

    def sql(self, statement: str, mode: str = "cow") -> DataFrame:
        stmt = _strip(statement)
        head = stmt.split(None, 1)[0].upper() if stmt else ""
        dispatch = {
            "SELECT": self._select,
            "WITH": self._select,
            "MERGE": lambda s: self._merge(s, mode),
            "UPDATE": lambda s: self._update(s, mode),
            "DELETE": lambda s: self._delete(s, mode),
            "ALTER": self._alter,
            "OPTIMIZE": self._optimize,
            "VACUUM": self._vacuum,
            "ANALYZE": self._analyze,
            "RESTORE": self._restore,
            "CREATE": self._create,
            "INSERT": self._insert,
            "DESCRIBE": self._describe,
            "SHOW": self._show,
            "DROP": self._drop,
        }
        if head not in dispatch:
            raise ValueError(f"unsupported statement kind {head!r}")
        return dispatch[head](stmt)

    # -- helpers ----------------------------------------------------

    def _table(self, name: str) -> LakeTable:
        if name not in self.tables:
            raise ValueError(
                f"unknown table {name!r} (registered: {sorted(self.tables)})"
            )
        return self.tables[name]

    def _metrics_df(self, payload: dict) -> DataFrame:
        flat = {}
        for k, v in payload.items():
            if isinstance(v, dict):
                for k2, v2 in v.items():
                    if isinstance(v2, (str, int, float, bool)):
                        flat[f"{k}_{k2}"] = v2
            elif isinstance(v, (str, int, float, bool)):
                flat[k] = v
        cols = sorted(flat)
        return self.spark.createDataFrame([tuple(flat[c] for c in cols)], cols)

    # -- DDL / INSERT / DESCRIBE ------------------------------------

    def _create(self, stmt: str) -> DataFrame:
        """CREATE TABLE name (col TYPE, ...) USING laketable
        LOCATION '<root>' KEY (k1[, k2]) [BUCKETS n] [ROW LINEAGE]

        or the Delta CLONE form:

        CREATE TABLE name [SHALLOW|DEEP] CLONE src
        [VERSION AS OF n] LOCATION '<root>'

        or the view form (a stored SELECT, re-evaluated against the
        tables' CURRENT snapshots on every reference — SQL view
        semantics, never a materialization; TEMP = session-only,
        otherwise persisted with the catalog store):

        CREATE [OR REPLACE] [TEMP] VIEW name AS SELECT ..."""
        vm = re.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?(TEMP(?:ORARY)?\s+)?VIEW\s+({_WORD})"
            r"\s+AS\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if vm:
            name, body = vm.group(3), _strip(vm.group(4))
            if name in self.tables:
                raise ValueError(f"{name!r} is a registered table")
            if name in self.views and not vm.group(1):
                raise ValueError(
                    f"view {name!r} exists (use CREATE OR REPLACE VIEW)"
                )
            head = body.split(None, 1)[0].upper() if body else ""
            if head not in ("SELECT", "WITH"):
                raise ValueError("view body must be a SELECT/WITH query")
            self._select(body)  # validate the definition NOW, not on first use
            self.views[name] = body
            if vm.group(2):
                self._temp_views.add(name)
            else:
                self._temp_views.discard(name)
            self._persist()
            return self._metrics_df(
                {"operation": "create-view", "view": name, "temp": bool(vm.group(2))}
            )
        cm = re.match(
            rf"CREATE\s+TABLE\s+({_WORD})\s+(SHALLOW\s+|DEEP\s+)?CLONE\s+"
            rf"({_WORD})(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s+"
            r"LOCATION\s+'((?:[^']|'')*)'$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if cm:
            name = cm.group(1)
            if name in self.tables:
                raise ValueError(f"table {name!r} already registered")
            deep = bool(cm.group(2)) and cm.group(2).strip().upper() == "DEEP"
            src = self._table(cm.group(3))
            t = src.clone(
                cm.group(5).replace("''", "'"),
                version=int(cm.group(4)) if cm.group(4) else None,
                deep=deep,
            )
            self.register(name, t)
            return self._metrics_df(
                {
                    "operation": "clone-deep" if deep else "clone",
                    "table": name,
                    "source": cm.group(3),
                    "source_version": t.snapshot(0).get("clone_source_version"),
                }
            )
        m = re.match(
            rf"CREATE\s+TABLE\s+({_WORD})\s*\((.*?)\)\s*USING\s+laketable\s+"
            r"LOCATION\s+'((?:[^']|'')*)'\s+KEY\s*\(([^)]+)\)"
            r"(?:\s+BUCKETS\s+(\d+))?(\s+ROW\s+LINEAGE)?$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "expected CREATE TABLE <name> (cols) USING laketable "
                "LOCATION '<root>' KEY (k...) [BUCKETS n] [ROW LINEAGE]"
            )
        from pyspark.sql import types as T

        name = m.group(1)
        if name in self.tables:
            raise ValueError(f"table {name!r} already registered")
        fields = []
        for item in _split_top(m.group(2)):
            cm = re.match(rf"({_WORD})\s+(.+)$", item, re.DOTALL)
            if not cm:
                raise ValueError(f"bad column definition {item!r}")
            fields.append(
                T.StructField(
                    cm.group(1),
                    T._parse_datatype_string(cm.group(2).strip()),
                    True,
                )
            )
        keys = [k.strip() for k in m.group(4).split(",")]
        t = LakeTable.create(
            self.spark,
            m.group(3).replace("''", "'"),
            T.StructType(fields),
            keys,
            n_buckets=int(m.group(5)) if m.group(5) else 64,
            row_lineage=bool(m.group(6)),
        )
        self.register(name, t)
        return self._metrics_df({"operation": "create", "table": name, "version": 0})

    def _show(self, stmt: str) -> DataFrame:
        """SHOW TABLES — one row per registered table with its root,
        current version, and key columns (O(metadata)); or
        SHOW CREATE TABLE <name> — a round-trippable statement script
        (CREATE plus the ALTERs that re-declare generated columns,
        defaults, constraints, and write order on a new location)."""
        sc = re.fullmatch(
            rf"SHOW\s+CREATE\s+TABLE\s+({_WORD})", stmt, re.IGNORECASE
        )
        if sc:
            t = self._table(sc.group(1))
            snap = t.snapshot()
            keys = snap["key_cols"]
            gen = LakeTable._generated_cols(snap)
            cols, alters = [], []
            for f in t.schema(snap).fields:
                if f.name == LSN_COL:
                    continue
                ty = f.dataType.simpleString().upper()
                if f.name in gen:
                    alters.append(
                        f"ALTER TABLE {sc.group(1)} ADD COLUMN {f.name} {ty} "
                        f"GENERATED ALWAYS AS ({gen[f.name]})"
                    )
                    continue
                d = LakeTable._default_value(snap, f.name, "write")
                cols.append(
                    f"{f.name} {ty}"
                    + (f" DEFAULT {d!r}" if isinstance(d, str) else f" DEFAULT {d}" if d is not None else "")
                )
            create = (
                f"CREATE TABLE {sc.group(1)} ({', '.join(cols)}) USING laketable "
                f"LOCATION '{t.root}' KEY ({', '.join(keys)}) "
                f"BUCKETS {snap['n_buckets']}"
                + (" ROW LINEAGE" if snap.get("row_lineage") else "")
            )
            for cname, expr in sorted((snap.get("constraints") or {}).items()):
                alters.append(
                    f"ALTER TABLE {sc.group(1)} ADD CONSTRAINT {cname} CHECK ({expr})"
                )
            wo = snap.get("write_order")
            if wo:
                alters.append(
                    f"ALTER TABLE {sc.group(1)} WRITE ORDERED BY {', '.join(wo['cols'])}"
                )
            cur_spec = (snap.get("partition_specs") or {}).get(
                str(snap.get("default_spec", 0) or 0)
            ) or []
            if cur_spec:
                names = {i: n for n, i in (snap.get("field_ids") or {}).items()}
                parts = [
                    f["transform"]
                    + "("
                    + names.get(f["fid"], "?")
                    + (f", {f['param']}" if f.get("param") else "")
                    + ")"
                    for f in cur_spec
                ]
                alters.append(
                    f"ALTER TABLE {sc.group(1)} SET PARTITION SPEC ({', '.join(parts)})"
                )
            return self.spark.createDataFrame(
                [(";\n".join([create] + alters),)], ["stmt"]
            )
        if not re.fullmatch(r"SHOW\s+TABLES", stmt, re.IGNORECASE):
            raise ValueError("expected SHOW TABLES or SHOW CREATE TABLE <name>")
        rows = []
        for name in sorted(self.tables):
            t = self.tables[name]
            snap = t.snapshot()
            rows.append(
                (name, t.root, snap["version"], ",".join(snap["key_cols"]))
            )
        return self.spark.createDataFrame(
            rows, ["table", "location", "version", "key_cols"]
        )

    def _drop(self, stmt: str) -> DataFrame:
        """DROP TABLE name — unregisters from the catalog ONLY (the
        Iceberg external-table convention: data and snapshot history
        stay on disk; delete the root yourself if you mean purge).
        DROP VIEW name — removes the stored definition."""
        m = re.fullmatch(rf"DROP\s+(TABLE|VIEW)\s+({_WORD})", stmt, re.IGNORECASE)
        if not m:
            raise ValueError("expected DROP TABLE|VIEW <name>")
        name = m.group(2)
        if m.group(1).upper() == "VIEW":
            if name not in self.views:
                raise ValueError(f"unknown view {name!r}")
            del self.views[name]
            self._temp_views.discard(name)
            self._persist()
            return self._metrics_df({"operation": "drop-view", "view": name})
        self._table(name)  # unknown-name error, same as every verb
        self.unregister(name)
        return self._metrics_df({"operation": "drop", "table": name})

    def _insert(self, stmt: str) -> DataFrame:
        """INSERT INTO t SELECT ... | VALUES (...), (...) — an UPSERT
        on the table's keys (these are PK'd CDC tables: a re-inserted
        key resolves by max-LSN exactly like an arriving change event;
        rows get lsn 0 unless the source carries an lsn column).

        INSERT OVERWRITE t SELECT ...|VALUES — replace the WHOLE
        table's contents in one snapshot commit (the Spark/Hive
        INSERT OVERWRITE + Delta replace semantics); rows are stamped
        at the next ledger id's LSN so they outrank everything a
        concurrent stream applied before the overwrite, and time
        travel to the pre-overwrite snapshot still works."""
        m = re.match(
            rf"INSERT\s+(INTO|OVERWRITE)\s+({_WORD})\s*(?:\(([^)]*)\))?\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(
                "expected INSERT INTO|OVERWRITE <table> [(cols)] SELECT ...|VALUES ..."
            )
        overwrite = m.group(1).upper() == "OVERWRITE"
        t = self._table(m.group(2))
        body = m.group(4).strip()
        cols = None
        if m.group(3):
            # explicit column list: omitted columns take their
            # write-default / generation at merge time
            cols = [c.strip() for c in m.group(3).split(",")]
            known = set(t.schema().fieldNames())
            bad = [c for c in cols if c not in known]
            if bad:
                raise ValueError(f"unknown INSERT columns {bad}")
        if re.match(r"VALUES\b", body, re.IGNORECASE):
            if cols is None:
                cols = [f.name for f in t.schema().fields if f.name != "_lsn"]
            src = self.spark.sql(
                f"SELECT {', '.join(f'col{i + 1} AS {c}' for i, c in enumerate(cols))} "
                f"FROM {body}"
            )
        else:
            src = self._select(body)
            if cols is not None:
                # SQL semantics: a SELECT body maps into the listed
                # columns POSITIONALLY (never silently by name — a
                # mismatched output name must not ride merge()'s
                # additive evolution into a brand-new table column)
                if len(src.columns) != len(cols):
                    raise ValueError(
                        f"INSERT column list names {len(cols)} columns but "
                        f"the SELECT produces {len(src.columns)}"
                    )
                src = src.toDF(*cols)
        from pyspark.sql import functions as F

        # next ledger id after everything the table has applied, so an
        # interactive INSERT coexists with (and never masks) a stream
        ledger = t.snapshot()["ledger"]
        nxt = max([ledger["hwm"]] + [int(k) for k in ledger.get("extra", {})]) + 1
        if overwrite:
            v = t.overwrite(
                src.drop("op", "lsn", LSN_COL).withColumn(
                    LSN_COL, F.lit(nxt).cast("long")
                )
            )
            return self._metrics_df({"operation": "insert-overwrite", "version": v})
        if "op" not in src.columns:
            src = src.withColumn("op", F.lit("U"))
        if "lsn" not in src.columns and "_lsn" not in src.columns:
            src = src.withColumn("lsn", F.lit(0).cast("long"))
        stats = t.merge(src, batch_id=nxt)
        return self._metrics_df(
            {
                "operation": "insert",
                "version": stats.version,
                "rows": stats.deduped_rows,
            }
        )

    def _describe(self, stmt: str) -> DataFrame:
        dm = re.match(rf"DESCRIBE\s+(?:TABLE\s+)?({_WORD})$", stmt, re.IGNORECASE)
        if dm and dm.group(1).upper() != "HISTORY":
            # plain DESCRIBE <table>: one row per column, with the key/
            # bucket layout surfaced the way Spark shows partitioning
            t = self._table(dm.group(1))
            snap = t.snapshot()
            keys = snap["key_cols"]
            # declared partition-spec transforms surface in the
            # partitioning column of their SOURCE rows (Spark's
            # DESCRIBE partitioning convention)
            cur_spec = (snap.get("partition_specs") or {}).get(
                str(snap.get("default_spec", 0) or 0)
            ) or []
            names = {i: n for n, i in (snap.get("field_ids") or {}).items()}
            by_src: dict[str, str] = {}
            for fld in cur_spec:
                src = names.get(fld["fid"])
                if src:
                    by_src[src] = fld["transform"] + (
                        f"[{fld['param']}]" if fld.get("param") else ""
                    )
            rows = [
                (
                    f.name,
                    f.dataType.simpleString(),
                    f.name in keys,
                    ", ".join(
                        x
                        for x in (
                            f"bucket({snap['n_buckets']})" if f.name in keys else None,
                            by_src.get(f.name),
                        )
                        if x
                    )
                    or None,
                )
                for f in t.schema(snap).fields
                if f.name != LSN_COL
            ]
            return self.spark.createDataFrame(
                rows, "col_name string, data_type string, is_key boolean, partitioning string"
            )
        m = re.match(rf"DESCRIBE\s+HISTORY\s+({_WORD})$", stmt, re.IGNORECASE)
        if not m:
            raise ValueError("expected DESCRIBE [TABLE] <name> or DESCRIBE HISTORY <name>")
        hist = self._table(m.group(1)).history()
        rows = [
            (
                int(h["version"]),
                str(h.get("operation")),
                None if h.get("parent") is None else int(h["parent"]),
                float(h["committed_at"]) if h.get("committed_at") else None,
            )
            for h in hist
        ]
        return self.spark.createDataFrame(
            rows, "version long, operation string, parent long, committed_at double"
        )

    # -- SELECT -----------------------------------------------------

    _TT = re.compile(
        rf"\b({_WORD})\s+(?:FOR\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
        r"('(?:[^']|'')*'|[0-9][0-9.]*)",
        re.IGNORECASE,
    )

    _TVF = re.compile(
        rf"\btable_changes\s*\(\s*'({_WORD})'\s*,\s*(\d+)(?:\s*,\s*(\d+))?\s*\)",
        re.IGNORECASE,
    )
    _TVF_BJ = re.compile(
        rf"\bbucket_join\s*\(\s*'({_WORD})'\s*,\s*'({_WORD})'"
        rf"(?:\s*,\s*'(inner|left|right|full|semi|anti)')?\s*\)",
        re.IGNORECASE,
    )

    def _tt_df(self, t: LakeTable, kind: str, lit: str) -> DataFrame:
        """One time-travel reference resolved: VERSION AS OF n,
        VERSION AS OF 'tag-or-branch', TIMESTAMP AS OF epoch|'iso'."""
        if kind == "VERSION":
            if lit.startswith("'"):
                name = lit.strip("'")
                if name in t.branches():
                    return t.branch(name).read()
                return t.read_tag(name)
            return t.read(int(float(lit)))
        if lit.startswith("'"):
            from datetime import datetime

            return t.read_as_of(datetime.fromisoformat(lit.strip("'")).timestamp())
        return t.read_as_of(float(lit))

    def _select(self, stmt: str) -> DataFrame:
        # table_changes('t', from [, to]) — the Delta CDF TVF shape
        def tvf_view(m: re.Match) -> str:
            name = m.group(1)
            if name not in self.tables:
                return m.group(0)
            df = self.tables[name].changes(
                int(m.group(2)), int(m.group(3)) if m.group(3) else None
            )
            vname = f"{name}__cdf_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(vname)
            return vname

        stmt = self._TVF.sub(tvf_view, stmt)

        # bucket_join('l', 'r' [, 'how']) — the storage-partitioned
        # join as a TVF: a zero-shuffle scan whose rows ARE the join
        # (keys paired positionally; use join_bucketed directly for
        # custom pairings/wheres)
        def bj_view(m: re.Match) -> str:
            ln, rn = m.group(1), m.group(2)
            if ln not in self.tables or rn not in self.tables:
                return m.group(0)
            df = self.tables[ln].join_bucketed(
                self.tables[rn], how=(m.group(3) or "inner").lower()
            )
            vname = f"{ln}__bj_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(vname)
            return vname

        stmt = self._TVF_BJ.sub(bj_view, stmt)

        # time-travel refs: each becomes its own view
        def tt_view(m: re.Match) -> str:
            name, kind, lit = m.group(1), m.group(2).upper(), m.group(3)
            if name not in self.tables:
                return m.group(0)
            df = self._tt_df(self.tables[name], kind, lit)
            vname = f"{name}__tt_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(vname)
            return vname

        rewritten = self._TT.sub(tt_view, stmt)
        for name, t in self.tables.items():
            if re.search(rf"(?<![A-Za-z0-9_.]){re.escape(name)}(?![A-Za-z0-9_])", rewritten):
                t.read().createOrReplaceTempView(name)
        # catalog views: referenced names re-evaluate their stored
        # SELECT against the tables' CURRENT snapshots (SQL view
        # semantics — a view is a query, not a materialization).
        # Recursion through _select gives view-over-view for free; the
        # _expanding set breaks definition cycles with a clear error.
        for name, text in self.views.items():
            if not re.search(
                rf"(?<![A-Za-z0-9_.]){re.escape(name)}(?![A-Za-z0-9_])", rewritten
            ):
                continue
            if name in self._expanding:
                raise ValueError(f"view definition cycle through {name!r}")
            self._expanding.add(name)
            try:
                self._select(text).createOrReplaceTempView(name)
            finally:
                self._expanding.discard(name)
        return self.spark.sql(rewritten)

    # -- DML --------------------------------------------------------

    def _delete(self, stmt: str, mode: str) -> DataFrame:
        m = re.match(
            rf"DELETE\s+FROM\s+({_WORD})\s+WHERE\s+(.+)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError("expected DELETE FROM <table> WHERE <predicate>")
        res = self._table(m.group(1)).delete_where(m.group(2).strip(), mode=mode)
        return self._metrics_df(res)

    def _update(self, stmt: str, mode: str) -> DataFrame:
        m = re.match(rf"UPDATE\s+({_WORD})\s+SET\s+", stmt, re.IGNORECASE)
        if not m:
            raise ValueError("expected UPDATE <table> SET ...")
        rest = stmt[m.end():]
        wpos = _find_kw(rest, "WHERE")
        set_part = rest if wpos < 0 else rest[:wpos]
        pred = "true" if wpos < 0 else rest[wpos + len("WHERE"):].strip()
        sets = self._parse_sets(set_part)
        res = self._table(m.group(1)).update_where(pred, sets, mode=mode)
        return self._metrics_df(res)

    @staticmethod
    def _parse_sets(s: str) -> dict[str, str]:
        sets = {}
        for item in _split_top(s):
            # split on the first top-level '='
            pos = -1
            for i, c, depth, instr in _scan_level(item):
                if c == "=" and depth == 0 and not instr:
                    pos = i
                    break
            if pos < 0:
                raise ValueError(f"bad assignment {item!r}")
            col = item[:pos].strip()
            if not re.fullmatch(rf"(?:[ts]\.)?{_WORD}", col):
                raise ValueError(f"bad assignment target {col!r}")
            sets[col.split(".")[-1]] = item[pos + 1:].strip()
        if not sets:
            raise ValueError("empty SET list")
        return sets

    def _merge(self, stmt: str, mode: str) -> DataFrame:
        m = re.match(
            rf"MERGE\s+INTO\s+({_WORD})(?:\s+AS\s+({_WORD})|\s+((?!USING\b){_WORD}))?\s+USING\s+",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError("expected MERGE INTO <table> [alias] USING ...")
        tname = m.group(1)
        t_alias = m.group(2) or m.group(3) or "t"
        rest = stmt[m.end():]

        # source: (subquery) [AS] alias | ident [AS] alias
        if rest.lstrip().startswith("("):
            rest = rest.lstrip()
            depth = 0
            end = -1
            for i, c, d, instr in _scan_level(rest):
                if c == ")" and d == 0 and not instr:
                    end = i
                    break
            if end < 0:
                raise ValueError("unbalanced parens in USING subquery")
            src_sql = rest[1:end]
            src_df = self._select(_strip(src_sql))
            rest = rest[end + 1:]
        else:
            sm = re.match(rf"\s*({_WORD})", rest)
            if not sm:
                raise ValueError("expected USING <source>")
            sname = sm.group(1)
            src_df = (
                self.tables[sname].read()
                if sname in self.tables
                else self.spark.table(sname)
            )
            rest = rest[sm.end():]
        am = re.match(rf"\s*(?:AS\s+)?({_WORD})\s+(?=ON\b)", rest, re.IGNORECASE)
        s_alias = "s"
        if am:
            s_alias = am.group(1)
            rest = rest[am.end():]

        if t_alias == s_alias or t_alias == "s" or s_alias == "t":
            raise ValueError(
                f"ambiguous aliases target={t_alias!r} source={s_alias!r} "
                "(swapping/reusing the canonical t/s names is not supported)"
            )
        onpos = _find_kw(rest, "ON")
        wpos = _find_kw(rest, "WHEN")
        if onpos < 0 or wpos < 0 or wpos < onpos:
            raise ValueError("expected ON <cond> WHEN ...")
        on_cond = rest[onpos + 2: wpos].strip()
        self._check_on(tname, on_cond, t_alias, s_alias)

        clauses = []
        body = rest[wpos:]
        # split on top-level WHEN
        starts = []
        pos = 0
        while True:
            p = _find_kw(body, "WHEN", pos)
            if p < 0:
                break
            starts.append(p)
            pos = p + 4
        chunks = [
            body[starts[i]: starts[i + 1] if i + 1 < len(starts) else len(body)]
            for i in range(len(starts))
        ]
        for chunk in chunks:
            clauses.append(self._parse_when(chunk, t_alias, s_alias))

        # rewrite aliases to the engine's canonical t./s.
        def canon(expr: str | None) -> str | None:
            if expr is None:
                return None
            out = re.sub(rf"(?<![A-Za-z0-9_.]){re.escape(t_alias)}\.", "t.", expr)
            return re.sub(rf"(?<![A-Za-z0-9_.]){re.escape(s_alias)}\.", "s.", out)

        canon_clauses = [
            (
                kind,
                canon(cond),
                None if sets is None else {c: canon(e) for c, e in sets.items()},
            )
            for kind, cond, sets in clauses
        ]
        res = self._table(tname).merge_into(src_df, canon_clauses, mode=mode)
        return self._metrics_df(res)

    def _check_on(self, tname: str, cond: str, ta: str, sa: str) -> None:
        keys = set(self._table(tname).snapshot()["key_cols"])
        seen = set()
        for part in re.split(r"(?i)\bAND\b", cond):
            pm = re.fullmatch(
                rf"\s*({_WORD})\.({_WORD})\s*=\s*({_WORD})\.({_WORD})\s*", part
            )
            if not pm:
                raise ValueError(
                    f"ON must be AND-ed key equalities, got {part.strip()!r}"
                )
            a1, c1, a2, c2 = pm.groups()
            if {a1, a2} != {ta, sa} or c1 != c2:
                raise ValueError(f"ON term must equate t/s on one column: {part!r}")
            seen.add(c1)
        if seen != keys:
            raise ValueError(
                f"ON must cover exactly the key columns {sorted(keys)}, got {sorted(seen)}"
            )

    def _parse_when(self, chunk: str, ta: str, sa: str):
        m = re.match(
            r"WHEN\s+(MATCHED|NOT\s+MATCHED(?:\s+BY\s+(TARGET|SOURCE))?)\s*",
            chunk,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"bad WHEN clause: {chunk[:60]!r}")
        matched = m.group(1).upper().startswith("MATCHED")
        by_source = (m.group(2) or "").upper() == "SOURCE"
        rest = chunk[m.end():]
        cond = None
        if re.match(r"AND\b", rest, re.IGNORECASE):
            tpos = _find_kw(rest, "THEN")
            if tpos < 0:
                raise ValueError(f"WHEN ... AND without THEN: {chunk[:60]!r}")
            cond = rest[3:tpos].strip()
            rest = rest[tpos:]
        tm = re.match(r"THEN\s+", rest, re.IGNORECASE)
        if not tm:
            raise ValueError(f"expected THEN in {chunk[:60]!r}")
        action = rest[tm.end():].strip()
        au = action.upper()
        if au.startswith("DELETE"):
            if matched:
                return ("delete", cond, None)
            if by_source:
                return ("nmbs_delete", cond, None)
            raise ValueError("WHEN NOT MATCHED supports only INSERT")
        if au.startswith("UPDATE"):
            sm = re.match(r"UPDATE\s+SET\s+", action, re.IGNORECASE)
            if not sm:
                raise ValueError(f"expected UPDATE SET in {action[:60]!r}")
            sets = self._parse_sets(action[sm.end():])
            if matched:
                return ("update", cond, sets)
            if by_source:
                return ("nmbs_update", cond, sets)
            raise ValueError("WHEN NOT MATCHED supports only INSERT")
        if au.startswith("INSERT"):
            if matched or by_source:
                raise ValueError("INSERT is only valid on WHEN NOT MATCHED [BY TARGET]")
            body = action[len("INSERT"):].strip()
            if body == "*" or body == "":
                return ("insert", cond, None)
            im = re.match(r"\((?P<cols>[^)]*)\)\s*VALUES\s*\(", body, re.IGNORECASE)
            if not im:
                raise ValueError(f"expected INSERT * or (cols) VALUES (...): {body[:60]!r}")
            cols = [c.strip() for c in im.group("cols").split(",")]
            vals_part = body[im.end() - 1:]
            depth_end = -1
            for i, c, d, instr in _scan_level(vals_part):
                if c == ")" and d == 0 and not instr:
                    depth_end = i
                    break
            vals = _split_top(vals_part[1:depth_end])
            if len(cols) != len(vals):
                raise ValueError(
                    f"INSERT arity mismatch: {len(cols)} cols, {len(vals)} values"
                )
            return ("insert", cond, dict(zip(cols, vals)))
        raise ValueError(f"unknown merge action {action[:40]!r}")

    # -- maintenance ------------------------------------------------

    def _alter(self, stmt: str) -> DataFrame:
        m = re.match(rf"ALTER\s+TABLE\s+({_WORD})\s+(.+)$", stmt, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError("expected ALTER TABLE <table> <action>")
        t = self._table(m.group(1))
        act = m.group(2).strip()
        au = act.upper()

        def out(version: int, op: str) -> DataFrame:
            return self._metrics_df({"version": version, "operation": op})

        if au.startswith("ADD COLUMN"):
            gm = re.match(
                rf"ADD\s+COLUMN\s+({_WORD})\s+([A-Za-z0-9_()<>, ]+?)"
                r"\s+GENERATED\s+ALWAYS\s+AS\s*\((.+)\)$",
                act,
                re.IGNORECASE | re.DOTALL,
            )
            if gm:
                v = t.add_column(
                    gm.group(1), gm.group(2).strip(), generated_as=gm.group(3).strip()
                )
                return out(v, "add-column")
            cm = re.match(
                rf"ADD\s+COLUMN\s+({_WORD})\s+([A-Za-z0-9_()<>, ]+?)"
                r"(?:\s+DEFAULT\s+(.+))?$",
                act,
                re.IGNORECASE | re.DOTALL,
            )
            if not cm:
                raise ValueError(f"bad ADD COLUMN: {act!r}")
            default = cm.group(3)
            dv = None if default is None else _sql_scalar(default)
            v = t.add_column(
                cm.group(1), cm.group(2).strip(), initial_default=dv, write_default=dv
            )
            return out(v, "add-column")
        if au.startswith("RENAME COLUMN"):
            cm = re.match(
                rf"RENAME\s+COLUMN\s+({_WORD})\s+TO\s+({_WORD})$", act, re.IGNORECASE
            )
            if not cm:
                raise ValueError(f"bad RENAME COLUMN: {act!r}")
            return out(t.rename_column(cm.group(1), cm.group(2)), "rename-column")
        if au.startswith("DROP COLUMN"):
            cm = re.match(rf"DROP\s+COLUMN\s+({_WORD})$", act, re.IGNORECASE)
            if not cm:
                raise ValueError(f"bad DROP COLUMN: {act!r}")
            return out(t.drop_column(cm.group(1)), "drop-column")
        if au.startswith("ALTER COLUMN"):
            cm = re.match(
                rf"ALTER\s+COLUMN\s+({_WORD})\s+(TYPE\s+(.+)|SET\s+DEFAULT\s+(.+)|DROP\s+DEFAULT)$",
                act,
                re.IGNORECASE | re.DOTALL,
            )
            if not cm:
                raise ValueError(f"bad ALTER COLUMN: {act!r}")
            col, verb = cm.group(1), cm.group(2).upper()
            if verb.startswith("TYPE"):
                return out(t.alter_column_type(col, cm.group(3).strip()), "alter-type")
            if verb.startswith("SET"):
                return out(
                    t.alter_column_default(col, _sql_scalar(cm.group(4))),
                    "set-default",
                )
            return out(t.alter_column_default(col, None), "drop-default")
        if au.startswith("ADD CONSTRAINT"):
            cm = re.match(
                rf"ADD\s+CONSTRAINT\s+({_WORD})\s+CHECK\s*\((.+)\)$",
                act,
                re.IGNORECASE | re.DOTALL,
            )
            if not cm:
                raise ValueError(f"bad ADD CONSTRAINT: {act!r}")
            return out(t.add_constraint(cm.group(1), cm.group(2).strip()), "add-constraint")
        if au.startswith("DROP CONSTRAINT"):
            cm = re.match(rf"DROP\s+CONSTRAINT\s+({_WORD})$", act, re.IGNORECASE)
            if not cm:
                raise ValueError(f"bad DROP CONSTRAINT: {act!r}")
            return out(t.drop_constraint(cm.group(1)), "drop-constraint")
        if au.startswith("CREATE TAG") or au.startswith("CREATE BRANCH"):
            cm = re.match(
                rf"CREATE\s+(TAG|BRANCH)\s+({_WORD})"
                r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?$",
                act,
                re.IGNORECASE,
            )
            if not cm:
                raise ValueError(f"bad CREATE TAG/BRANCH: {act!r}")
            v = int(cm.group(3)) if cm.group(3) else None
            if cm.group(1).upper() == "TAG":
                return out(t.create_tag(cm.group(2), v), "create-tag")
            return out(t.create_branch(cm.group(2), v), "create-branch")
        if au.startswith("DROP TAG") or au.startswith("DROP BRANCH"):
            cm = re.match(rf"DROP\s+(TAG|BRANCH)\s+({_WORD})$", act, re.IGNORECASE)
            if not cm:
                raise ValueError(f"bad DROP TAG/BRANCH: {act!r}")
            if cm.group(1).upper() == "TAG":
                ok = t.drop_tag(cm.group(2))
            else:
                ok = t.drop_branch(cm.group(2))
            if not ok:
                raise ValueError(f"no such {cm.group(1).lower()}: {cm.group(2)}")
            return out(t.current_version(), f"drop-{cm.group(1).lower()}")
        if au.startswith("FAST FORWARD"):
            cm = re.match(rf"FAST\s+FORWARD\s+({_WORD})$", act, re.IGNORECASE)
            if not cm:
                raise ValueError(f"bad FAST FORWARD: {act!r}")
            stats = t.fast_forward(cm.group(1))
            return out(stats.version, "fast-forward")
        if au.startswith("SET PARTITION SPEC"):
            # Iceberg's ALTER TABLE ... partition-field DDL, one-shot:
            # SET PARTITION SPEC (days(ts), identity(lang)) | NONE
            cm = re.match(
                r"SET\s+PARTITION\s+SPEC\s+(?:NONE|\(\s*(.*?)\s*\))$",
                act,
                re.IGNORECASE | re.DOTALL,
            )
            if not cm:
                raise ValueError(f"bad SET PARTITION SPEC: {act!r}")
            body = cm.group(1)
            fields = re.findall(r"\w+\s*\([^)]*\)", body) if body else []
            if body and not fields:
                raise ValueError(f"bad SET PARTITION SPEC: {act!r}")
            return out(t.alter_partition_spec(fields), "set-partition-spec")
        if au.startswith("WRITE UNORDERED"):
            return out(t.alter_write_order(None), "write-unordered")
        if au.startswith("WRITE ORDERED BY"):
            cm = re.match(
                r"WRITE\s+ORDERED\s+BY\s+(?:ZORDER\s*\(([^)]+)\)|([A-Za-z0-9_,\s]+?))"
                r"(?:\s+TARGET\s+(\d+)\s+ROWS)?$",
                act,
                re.IGNORECASE,
            )
            if not cm:
                raise ValueError(f"bad WRITE ORDERED BY: {act!r}")
            cols = [c.strip() for c in (cm.group(1) or cm.group(2)).split(",")]
            tr = int(cm.group(3)) if cm.group(3) else None
            v = t.alter_write_order(cols, zorder=bool(cm.group(1)), target_rows=tr)
            return out(v, "write-ordered")
        raise ValueError(f"unsupported ALTER TABLE action: {act[:60]!r}")

    def _optimize(self, stmt: str) -> DataFrame:
        m = re.match(
            rf"OPTIMIZE\s+({_WORD})"
            r"(?:\s+WHERE\s+(.+?))?"
            r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError("expected OPTIMIZE <table> [WHERE p] [ZORDER BY (...)]")
        t = self._table(m.group(1))
        cluster = [c.strip() for c in m.group(3).split(",")] if m.group(3) else None
        v = t.compact(
            where=m.group(2).strip() if m.group(2) else None,
            cluster_by=cluster,
            zorder=bool(cluster),
        )
        return self._metrics_df({"version": v, "operation": "optimize"})

    def _vacuum(self, stmt: str) -> DataFrame:
        m = re.match(
            rf"VACUUM\s+({_WORD})(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(\s+DRY\s+RUN)?$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError("expected VACUUM <table> [RETAIN n VERSIONS] [DRY RUN]")
        res = self._table(m.group(1)).expire_snapshots(
            keep_last=int(m.group(2)) if m.group(2) else 2,
            dry_run=bool(m.group(3)),
        )
        return self._metrics_df(res)

    def _analyze(self, stmt: str) -> DataFrame:
        m = re.match(
            rf"ANALYZE\s+TABLE\s+({_WORD})(?:\s+COMPUTE\s+STATISTICS)?"
            r"(?:\s+FOR\s+COLUMNS\s+([A-Za-z0-9_,\s]+))?$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError("expected ANALYZE TABLE <table> [FOR COLUMNS a, b]")
        cols = [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
        rep = self._table(m.group(1)).analyze(cols)
        return self._metrics_df(
            {"analyzed_version": rep["analyzed_version"], "rows": rep["rows"]}
        )

    def _restore(self, stmt: str) -> DataFrame:
        m = re.match(
            rf"RESTORE\s+TABLE\s+({_WORD})\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError("expected RESTORE TABLE <table> TO VERSION AS OF n")
        v = self._table(m.group(1)).rollback(int(m.group(2)))
        return self._metrics_df({"version": v, "operation": "restore"})


def _sql_scalar(lit: str):
    """A SQL literal -> the JSON scalar the defaults API stores."""
    s = lit.strip()
    if s.startswith("'") and s.endswith("'"):
        return s[1:-1].replace("''", "'")
    if s.upper() in ("TRUE", "FALSE"):
        return s.upper() == "TRUE"
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        raise ValueError(f"DEFAULT must be a scalar literal, got {lit!r}")
