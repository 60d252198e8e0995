"""What each workload runs, fixed by ``--seconds`` alone, and the row
digest both sides of every CDC check use.

This module imports nothing heavy: the input-preparation child
(``prep.py``, DuckDB and numpy) and the measured process (``run.py``,
Spark) both read the schedule from here.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from dataclasses import dataclass, field

# content is 64..4096 characters (about 2080 on average), the canonical
# fixture shape (``datagen.source_snapshot``/``change_events`` default)
CONTENT_MAX = 4096
KEY_COLS = ["repo", "path"]


@dataclass(frozen=True)
class CdcShape:
    """Table and schedule of one CDC workload: ``warmup_commits``
    untimed commits and one untimed read mix, then ``timed_commits``
    commits, with a timed read mix after each commit whose 1-based
    timed index is in ``reads_after``, then ``final_read_mixes`` timed
    read mixes on the final table; then a query pass over ``queries``
    (one cold pass, ``WARM_PASSES`` warm passes)."""

    mode: str
    n_keys: int
    n_buckets: int
    warmup_commits: int
    warmup_events: int
    batch_events: int
    timed_commits: int
    reads_after: tuple[int, ...]
    final_read_mixes: int
    modified_at: bool
    queries: tuple[str, ...]
    apply_kw: dict = field(default_factory=dict)

    @property
    def n_batches(self) -> int:
        return self.warmup_commits + self.timed_commits

    def batch_sizes(self) -> list[int]:
        return [self.warmup_events] * self.warmup_commits + [self.batch_events] * self.timed_commits

    def read_points(self) -> list[int]:
        """Batch indices after which a read mix runs (the warm-up mix
        first), each compared with the state after that batch."""
        last_warm = self.warmup_commits - 1
        pts = [last_warm] + [last_warm + k for k in self.reads_after]
        return pts + [self.n_batches - 1] * self.final_read_mixes


# The query pass: the eight ``bench.HEADLINE`` queries below reach every
# query module the full list of twenty does. Each CDC workload runs half
# of them after its CDC schedule, on the same session:
#   cow_bulk: queries.py (TPC-H aggregation; operators dims and fact),
#             queries_olap.py with functions/bands, queries_ref.py with
#             functions/ua
#   mor_trickle: queries.py with operators/dedupe; queries_text.py with
#             functions/text, operators/similarity and functions/paths
COW_QUERIES = ("q1_pricing_summary", "fact_build_star", "range_join_bands", "ua_enrich_traffic")
MOR_QUERIES = ("max_lsn_dedup", "quality_docs", "embedding_cosine_topk",
               "path_normalize_synthetic")
QUERY_SF = 0.01
WARM_PASSES = 1


def cow_bulk(seconds: int) -> CdcShape:
    # three timed commits of batches as large as the run length allows,
    # then two timed read mixes on the final table
    return CdcShape(
        mode="cow", n_keys=15_000, n_buckets=32, warmup_commits=1, warmup_events=5_000,
        batch_events=3_000 * seconds, timed_commits=3, reads_after=(), final_read_mixes=2,
        modified_at=True, queries=COW_QUERIES,
    )


# MOR maintenance as the repo's stream deployment runs it
# (jobs/run_cdc.py --auto-compact 8; BENCH/marathon_cdc.py)
MOR_MAINTENANCE = {"auto_compact_deltas": 8, "expire_keep": 2, "lineage_compact_every": 8}


def mor_trickle(seconds: int) -> CdcShape:
    # every bucket takes a delta on every commit, so inline compaction
    # folds all buckets on their 8th delta, batch 7, which also
    # consolidates lineage; expiry (keep 2) deletes the folded files one
    # commit later, at batch 8. The warm-up commit (batch 0) and eight
    # timed commits make one maintenance cycle and the expiry that ends
    # it; read mixes after timed commits 3 and 8 see 4 pending deltas per
    # bucket (mid-cycle) and 1 (just folded and expired).
    del seconds  # one full maintenance cycle at any run length
    return CdcShape(
        mode="mor", n_keys=10_000, n_buckets=16, warmup_commits=1, warmup_events=4_000,
        batch_events=4_000, timed_commits=8, reads_after=(3, 8), final_read_mixes=0,
        modified_at=False, queries=MOR_QUERIES, apply_kw=dict(MOR_MAINTENANCE),
    )


SHAPES = {"cow_bulk": cow_bulk, "mor_trickle": mor_trickle}

FILTER_PRED = "lang = 'Rust' AND commit < '4'"


def digest(rows) -> list:
    """Order-independent ``[count, sha256]`` of rows of str/None values."""
    lines = sorted("\x1f".join("\x00" if v is None else str(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return [len(lines), h.hexdigest()]


def value_hash_fn():
    """``tools/compare_oracle.py``'s ``value_hash``, the hash the repo's
    oracle gate compares query results with."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "compare_oracle", os.path.join(root, "tools", "compare_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash
