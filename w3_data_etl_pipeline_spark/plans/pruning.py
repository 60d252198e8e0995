"""Manifest-level file pruning: which data files can hold a matching row.

The only module that knows how a manifest value is stored and how two
values compare. Per-file stats (``cmin``/``cmax`` bounds, the ``cset``
equality set, partition tuples) are stored as JSON (``encode``, the
write side); pruning decodes each one by its column's Spark type from
the snapshot schema and coerces each predicate literal into the same
typed domain before comparing:

* timestamps are naive UTC ``datetime`` values (a tz-aware literal, as
  the DataSource pushes, is converted; the session zone is UTC);
* a ``date`` that meets a ``datetime`` compares as its midnight, as
  Spark promotes a date to a timestamp;
* a pair Python cannot order (a ``DATE`` against a string column,
  ``'4'`` against an int column, a typed literal body the parser could
  not read) keeps the file.

A file is excluded only when its stats PROVE no row matches; unknown
always keeps. See ``prune`` for the MOR and rename rules.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from urllib.parse import unquote

from pyspark.sql import Column
from pyspark.sql import functions as F

from .predicate import (
    And,
    Or,
    ParseError,
    Pred,
    TypedLiteral,
    evaluate_excludes,
    parse_predicate,
)

PRUNE_OPS = ("=", "==", "<", "<=", ">", ">=", "is_null", "is_not_null")
NULL_OPS = ("is_null", "is_not_null")
# Spark type names as the schema JSON and simpleString spell them
_INT_TYPES = ("long", "integer", "short", "byte", "bigint", "int", "smallint", "tinyint")

# longest string bound persisted to the manifest: parquet writers
# may truncate binary stats (Spark pads a truncated max so it stays
# a valid upper bound, but belt-and-braces we only trust values
# comfortably below any truncation threshold)
MAX_STR_BOUND = 48

# equality-skipping index parameters (Iceberg Puffin bloom-blob
# analogue). Blooms are NDV-SIZED at ~10 bits/element (k=7 probes
# => fpp ~0.8%) — a fixed-size bloom saturates exactly at the file
# sizes where skipping matters most. Capped at BLOOM_MAX_BITS (1 MiB
# => files up to ~838k distinct values; beyond that nothing is
# stored — unknown never mis-prunes, it just doesn't prune).
BLOOM_K = 7
BLOOM_BITS_PER_EL = 10
BLOOM_MAX_BITS = 1 << 23
CSET_MAX = 64  # exact distinct-set cap (categorical columns)


# ---------------- write side: the stored form ----------------


def encode(v):
    """A parquet statistics value in its stored (JSON) form, or None
    for types that are not tracked: numbers as they are, strings up to
    MAX_STR_BOUND, timestamps as naive-UTC ``YYYY-MM-DD
    HH:MM:SS.ffffff`` (pyarrow returns tz-aware UTC for micros
    columns), dates as ``YYYY-MM-DD``, bytes as hex. ``decode``
    reverses it by the column's type."""
    if isinstance(v, bool) or v is None:
        return None  # boolean bounds prune nothing useful
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= MAX_STR_BOUND else None
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex() if len(v) <= MAX_STR_BOUND else None
    return None


def partition_expr(fld: dict, src: str) -> Column:
    """The transform as a pure-codegen Column over current column
    name ``src`` (session TZ is UTC — epoch math is exact)."""
    t, p = fld["transform"], fld.get("param")
    c = F.col(src)
    if t == "identity":
        return c
    if t == "days":
        if fld["src"] == "date":
            return F.datediff(c, F.lit("1970-01-01"))
        return F.floor(c.cast("double") / 86400).cast("int")
    if t == "hours":
        return F.floor(c.cast("double") / 3600).cast("int")
    if t == "months":
        return (F.year(c) - 1970) * 12 + F.month(c) - 1
    if t == "years":
        return F.year(c) - 1970
    if t == "truncate":
        if fld["src"] == "string":
            return F.substring(c, 1, p)
        # Iceberg integer truncate: v - (((v % W) + W) % W)
        return c - F.pmod(c, F.lit(p))
    raise ValueError(f"unknown transform {t!r}")


def partition_value(fld: dict, raw: "str | None"):
    """Hive-escaped partition dirname value -> stored tuple value: an
    int for time transforms and integer sources, else the text. None
    is Spark's default partition, which holds NULL sources and, for a
    string source, ``''`` too (``partition_range`` reads it so)."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    v = unquote(raw)
    if fld["transform"] in ("years", "months", "days", "hours") or fld["src"] in _INT_TYPES:
        return int(v)
    return v


def _eq_hash(v) -> tuple[int, int]:
    """Two independent 64-bit hashes of an equality-indexable value
    (string or integer), identical at build and probe time.
    Floats/timestamps are not indexable (equality on them is
    ill-posed across engines)."""
    if isinstance(v, bool) or not isinstance(v, (str, int)):
        raise TypeError(f"not equality-indexable: {type(v).__name__}")
    raw = v.encode("utf-8") if isinstance(v, str) else b"i:%d" % v
    d = hashlib.md5(raw).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big")


def _bloom_bits_for(ndv: int) -> int | None:
    m = 1024
    while m < BLOOM_BITS_PER_EL * ndv:
        m <<= 1
        if m > BLOOM_MAX_BITS:
            return None
    return m


def _bloom_build(values) -> bytes | None:
    """Bitset over the distinct values (numpy-vectorized probe
    scatter), or None when the column is not indexable or too
    distinct for the size cap."""
    import numpy as np

    m = _bloom_bits_for(len(values))
    if m is None:
        return None
    try:
        pairs = [_eq_hash(v) for v in values]
    except TypeError:
        return None
    h1 = np.array([p[0] for p in pairs], dtype=np.uint64)
    h2 = np.array([p[1] for p in pairs], dtype=np.uint64)
    mask = np.uint64(m - 1)  # m is a power of two
    bits = np.zeros(m // 8, dtype=np.uint8)
    for j in range(BLOOM_K):
        pos = (h1 + np.uint64(j) * h2) & mask
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                         np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))
    return bits.tobytes()


def eq_index(values: list) -> "tuple[str, object] | None":
    """One file column's equality index over its distinct non-NULL
    ``values``: ``("cset", stored values)`` — the exact set, zero false
    positives — up to CSET_MAX values, else ``("cbloom", bitset)``;
    None when neither can be built."""
    if len(values) <= CSET_MAX:
        js = [encode(v) for v in values]
        if all(v is not None for v in js):
            return "cset", sorted(js, key=lambda x: (str(type(x)), str(x)))
    b = _bloom_build(values)
    return None if b is None else ("cbloom", b)


def bloom_probe(raw: bytes, val) -> bool:
    """False => the value is PROVABLY absent from the file."""
    h1, h2 = _eq_hash(val)
    m = len(raw) * 8
    for j in range(BLOOM_K):
        p = (h1 + j * h2) % m
        if not (raw[p >> 3] >> (p & 7)) & 1:
            return False
    return True


# ---------------- read side: the typed domain ----------------


def decode(raw, typ):
    """A stored value -> the typed value of a column of Spark type
    name ``typ`` (None: unknown type, the value as stored). Raises
    TypeError/ValueError on a value the type cannot hold."""
    if typ in ("timestamp", "timestamp_ntz"):
        return coerce(_dt.datetime.fromisoformat(raw))
    if typ == "date":
        return _dt.date.fromisoformat(raw)
    if typ == "binary":
        return bytes.fromhex(raw)
    return raw


def coerce(v):
    """A predicate literal in the comparison domain, or None when it
    cannot prune: tz-aware datetimes become naive UTC, ``TIMESTAMP``/
    ``DATE`` bodies parse to datetime/date (a body ``fromisoformat``
    cannot read — Spark also accepts ``'2024-3-1'`` — stays unknown);
    NULL and booleans prune nothing."""
    if isinstance(v, TypedLiteral):
        parse = _dt.date if v.kind == "DATE" else _dt.datetime
        try:
            v = parse.fromisoformat(v.text.strip())
        except ValueError:
            return None
    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _midnight(v):
    return _dt.datetime.combine(v, _dt.time()) if type(v) is _dt.date else v


def _cmp(a, b) -> "int | None":
    """-1/0/1 as ``a`` orders against ``b``; None when the pair has no
    order (incomparable types, NaN) — the caller then keeps the file."""
    if isinstance(a, _dt.datetime) or isinstance(b, _dt.datetime):
        a, b = _midnight(a), _midnight(b)
    try:
        if a < b:
            return -1
        if a > b:
            return 1
        if a == b:
            return 0
    except TypeError:
        pass
    return None


def range_excludes(lo, hi, op: str, val) -> bool:
    """True iff a CLOSED [lo, hi] range of typed values PROVES no
    element satisfies ``<op> val`` — shared by manifest bounds and
    partition-tuple ranges."""
    a, b = _cmp(val, lo), _cmp(val, hi)
    if a is None or b is None:
        return False
    if op == "=":
        return a < 0 or b > 0
    if op == "<":
        return a <= 0  # lo >= val
    if op == "<=":
        return a < 0  # lo > val
    if op == ">":
        return b >= 0  # hi <= val
    if op == ">=":
        return b > 0  # hi < val
    return False


def partition_range(fld: dict, v) -> tuple:
    """The CLOSED range of typed SOURCE-column values a stored,
    non-None partition-tuple value ``v`` covers — the 'degenerate
    exact bounds' view of a transform tuple."""
    t, p, src = fld["transform"], fld.get("param"), fld["src"]
    if t == "identity":
        v = decode(v, src)
        return v, v
    if t == "truncate":
        if src == "string":
            return v, v + "\U0010ffff"  # every string with this prefix
        return v, v + p - 1
    epoch = _dt.datetime(1970, 1, 1)
    if t == "days":
        lo = epoch + _dt.timedelta(days=v)
        hi = lo + _dt.timedelta(days=1)
    elif t == "hours":
        lo = epoch + _dt.timedelta(hours=v)
        hi = lo + _dt.timedelta(hours=1)
    elif t == "months":
        y, m = 1970 + v // 12, v % 12 + 1
        lo, hi = _dt.datetime(y, m, 1), _dt.datetime(y + m // 12, m % 12 + 1, 1)
    else:  # years
        lo, hi = _dt.datetime(1970 + v, 1, 1), _dt.datetime(1971 + v, 1, 1)
    if src == "date":
        return lo.date(), (hi - _dt.timedelta(days=1)).date()
    return lo, hi - _dt.timedelta(microseconds=1)


def _eq_excludes(entry: dict, col: str, typ, val, bloom) -> bool:
    """The equality index proves ``col = val`` matches no row: the
    exact distinct set misses the value, or the bloom does (probed
    only with a value of the column's own indexable type)."""
    s = (entry.get("cset") or {}).get(col)
    if s is not None:
        cmps = [_cmp(val, decode(m, typ)) for m in s]
        if None not in cmps and 0 not in cmps:
            return True
    ref = (entry.get("cbloom") or {}).get(col)
    indexable = isinstance(val, str) if typ == "string" else (
        typ in _INT_TYPES and isinstance(val, int)
    )
    return ref is not None and indexable and not bloom(ref, val)


def bound_excludes(entry: dict, col: str, typ, op: str, val, bloom) -> bool:
    """True iff the file's manifest stats PROVE no row satisfies
    ``col <op> val`` (``col`` the file's physical name, ``typ`` the
    column's Spark type name, ``val`` a coerced literal). NULL rows
    never satisfy a comparison, and bounds cover exactly the non-NULL
    rows. Missing stats — pre-stats manifests, untracked types,
    all-NULL columns — never exclude. ``bloom(ref, val)`` resolves and
    probes a bloom reference (``LakeTable._bloom_maybe``)."""
    if op in NULL_OPS:
        # null-count stats (Iceberg null_value_counts): IS NULL
        # skips files with zero nulls in the column, IS NOT NULL
        # skips files where the column is entirely NULL (the case
        # min/max bounds cannot see — an all-NULL column has no
        # bounds at all). Unknown counts never prune.
        nc = (entry.get("cnull") or {}).get(col)
        if nc is None:
            return False
        if op == "is_null":
            return nc == 0
        rows = entry.get("rows")
        return rows is not None and nc == rows
    try:
        # equality index first: it PROVES absence independent of any
        # clustering, where min/max bounds on a hashed layout span
        # the domain and prove nothing
        if op == "=" and _eq_excludes(entry, col, typ, val, bloom):
            return True
        lo = (entry.get("cmin") or {}).get(col)
        hi = (entry.get("cmax") or {}).get(col)
        return (
            lo is not None
            and hi is not None
            and range_excludes(decode(lo, typ), decode(hi, typ), op, val)
        )
    except (TypeError, ValueError):
        return False  # a stored value its type cannot hold: keep


def _tree(predicates):
    """The And/Or/Pred tree of a SQL string, a pre-built tree or
    ``(col, op, value)`` tuples; None prunes nothing."""
    if isinstance(predicates, str):
        try:
            return parse_predicate(predicates)
        except ParseError:
            # the documented contract (plans/predicate.py): a
            # predicate outside the prunable subset (functions,
            # arithmetic, NOT, ...) falls back to a plain filtered
            # scan — the row-level F.expr filter downstream still
            # applies it exactly (truly malformed SQL surfaces there
            # as an analysis error instead of a misleading prune
            # failure)
            return None
    if isinstance(predicates, (And, Or, Pred)):
        return predicates  # pre-built AST (read_semi's IN trees)
    leaves = []
    for col, op, val in predicates:
        if op not in PRUNE_OPS:
            raise ValueError(f"unsupported prune op {op!r}")
        if op in NULL_OPS:
            leaves.append(Pred(col, op))
        elif val is not None:
            leaves.append(Pred(col, "=" if op == "==" else op, val))
    return And(leaves) if leaves else None


def prune(snap: dict, predicates, bloom) -> list[dict]:
    """Manifest entries of ``snap`` that can contain rows matching
    ``predicates`` (see ``LakeTable.prune_files``). O(metadata) — no
    data file is opened; ``bloom`` resolves bloom references.

    MOR safety: a bucket holding ANY delta file is exempt (kept
    whole): last-writer-wins resolution needs every version of a key,
    and skipping the delta carrying a key's latest (non-matching) row
    would let a stale matching row win. Base-only buckets prune per
    file — each live key's single current row either matches (its
    file is kept) or is filtered out anyway.

    Rename-safe: bounds live in manifests under the PHYSICAL name the
    file was written with, so each predicate column resolves through
    its field id to the file's epoch name before the lookup (after
    ``rename a->c; rename b->a``, a predicate on current ``a`` must
    check old files' ``b`` bounds). A base file whose epoch PREDATES
    the column's existence holds only NULLs for it, and NULL never
    satisfies a comparison, so it prunes outright."""
    tree = _tree(predicates)
    fids = snap.get("field_ids") or {}
    log = snap.get("name_log") or {}
    specs = snap.get("partition_specs") or {}
    types = {
        f["name"]: f["type"] for f in (snap.get("schema") or {}).get("fields", [])
    }

    def phys(col: str, epoch: int) -> str | None:
        """Column's physical name at ``epoch``; None => the column
        (by id) did not exist in files of that epoch."""
        fid = fids.get(col)
        if fid is None:
            return col  # meta column / pre-field-id snapshot
        emap = log.get(str(epoch))
        if emap is None:
            return col  # unknown epoch: trust the current name
        return emap.get(str(fid))

    def partition_excludes(f: dict, p: Pred, val) -> bool:
        """Partition-tuple pruning: the file's declared tuple (under
        the spec it was WRITTEN with) is an exact single-partition
        guarantee, so exclusion here never depends on clustering.
        Files from pre-spec commits have no tuple."""
        pt = f.get("pt")
        fid = fids.get(p.col)
        if pt is None or fid is None:
            return False
        for fld, v in zip(specs.get(str(f.get("spec", 0))) or [], pt):
            if fld["fid"] != fid or (v is None and fld["src"] == "string"):
                continue
            if p.op in NULL_OPS:
                # transforms are null-preserving: None <=> all NULL
                return (v is None) == (p.op == "is_not_null")
            if v is None:
                return True  # the whole file's source column is NULL
            if range_excludes(*partition_range(fld, v), p.op, val):
                return True
        return False

    def leaf_excludes(f: dict, p: Pred) -> bool:
        pcol = phys(p.col, int(f.get("epoch", 0)))
        if pcol is None:
            # column born after this file: every row is NULL, so
            # IS NULL matches (keep) and everything else excludes
            return p.op != "is_null"
        val = None
        if p.op not in NULL_OPS:
            val = coerce(p.val)
            if val is None:
                return False  # a literal with no value to compare: keep
        return partition_excludes(f, p, val) or bound_excludes(
            f, pcol, types.get(p.col), p.op, val, bloom
        )

    delta_buckets = {
        f["bucket"] for f in snap["files"] if f.get("kind", "base") == "delta"
    }
    # DV entries are masks, not data: they never satisfy a predicate
    # themselves and _scan re-attaches them by bucket at read time,
    # so pruning excludes them (a dv entry admitted here would
    # otherwise mark its bucket 'touched' in DML for no reason)
    return [
        f
        for f in snap["files"]
        if f.get("kind", "base") != "dv"
        and (
            f["bucket"] in delta_buckets
            or tree is None
            or not evaluate_excludes(tree, lambda p, _f=f: leaf_excludes(_f, p))
        )
    ]


def explain(snap: dict, predicates, bloom) -> dict:
    """The file-skipping decision for ``predicates`` as counts (see
    ``LakeTable.explain_skipping``)."""
    kept = prune(snap, predicates, bloom)
    # data entries only: DV masks are neither kept nor skipped by a
    # predicate — they ride the surviving buckets (reported below)
    data = [f for f in snap["files"] if f.get("kind", "base") != "dv"]
    delta_buckets = {f["bucket"] for f in data if f.get("kind", "base") == "delta"}
    base_only = [f for f in data if f["bucket"] not in delta_buckets]
    kept_if_no_deltas = (
        prune(dict(snap, files=base_only), predicates, bloom) if delta_buckets else kept
    )
    total_bytes = sum(f.get("bytes") or 0 for f in data)
    kept_bytes = sum(f.get("bytes") or 0 for f in kept)
    kept_buckets = {f["bucket"] for f in kept}
    return {
        "version": snap["version"],
        "files_total": len(data),
        "files_kept": len(kept),
        "files_skipped": len(data) - len(kept),
        "dv_mask_files": sum(
            1
            for f in snap["files"]
            if f.get("kind", "base") == "dv" and f["bucket"] in kept_buckets
        ),
        "bytes_total": total_bytes,
        "bytes_kept": kept_bytes,
        "bytes_skipped": total_bytes - kept_bytes,
        "kept_for_delta_resolution": sum(1 for f in kept if f["bucket"] in delta_buckets),
        "base_files_admitted_by_stats": len(kept_if_no_deltas),
        # attribution: files ONLY the declared partition tuple could
        # exclude (min/max bounds alone would have admitted them) —
        # the operator's measure of what the partition spec buys
        # over clustering on this predicate
        "skipped_by_partition_only": (
            len(prune(dict(snap, files=[
                {k: v for k, v in f.items() if k != "pt"} for f in data
            ]), predicates, bloom)) - len(kept)
            if any(f.get("pt") is not None for f in data)
            else 0
        ),
        "paths_kept_sample": sorted(f["path"] for f in kept)[:10],
    }
