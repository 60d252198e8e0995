"""Structured-Streaming CDC driver.

Tails a change-event source (file-based WAL segments here; the same
``foreachBatch`` body works over Kafka on a cluster), and per
microbatch: salted-repartition -> enrichment -> max-LSN
dedup -> LakeTable MERGE, all inside an exactly-once envelope:

* the streaming checkpoint (``checkpointLocation``) makes the source
  offsets replayable, and
* the LakeTable ledger makes the apply idempotent per ``batch_id``,

so a kill/resume replays at most one microbatch and the replay is a
metadata no-op — the end state is byte-identical (north rule).

Replaces the reference's weekly Airflow batch trigger
(reference src/dags/w3c.py:49-54) with incremental microbatches.
"""

from __future__ import annotations

import inspect
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.enrich import enrich_changes
from ..operators.skew import salted_repartition
from ..operators.validate import split_events
from ..plans.laketable import CommitConflictError, LakeTable, MergeStats


# cadence of the full orphan-file walk inside the streaming expiry
# policy; between walks, expiry is an incremental manifest diff
EXPIRE_ORPHAN_SCAN_EVERY = 16


@dataclass
class CdcRun:
    stats: list[MergeStats] = field(default_factory=list)
    query: object = None  # the live StreamingQuery when available_now=False


def _audited_merge(
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    mode: str,
    audit,
    quarantine_dir: str | None,
) -> MergeStats:
    """Stage -> audit -> publish-or-abandon for one microbatch; the
    write-audit-publish arm of apply_batch. One retry absorbs the
    same concurrent-COW conflict the direct arm retries on (a publish
    conflict means main rewrote a staged bucket between stage and
    fast-forward; restaging re-merges against the winner)."""
    stage = f"batch-{batch_id}"
    for attempt in (0, 1):
        # leftover from a killed or conflicted attempt of this
        # batch_id: the merge is deterministic, drop and restage
        table.abandon(stage)
        stats = table.merge(events, batch_id, mode=mode, stage_id=stage)
        if stats.stage_id is None:
            return stats  # ledgered already (replay after publish) — no-op
        if audit(table.read_staged(stage, scope="batch")):
            try:
                return table.publish(stage)
            except CommitConflictError:
                if attempt:
                    raise
                continue
        table.abandon(stage)
        if quarantine_dir:
            # same exactly-once overwrite semantics as the dead-letter
            # gate: a checkpoint replay of a rejected batch rewrites
            # (not duplicates) its reject file
            events.write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, "rejected", f"batch_id={batch_id}")
            )
        return MergeStats(
            batch_id=batch_id,
            applied=False,
            version=table.current_version(),
            deduped_rows=stats.deduped_rows,  # events the reject dropped
            touched_buckets=stats.touched_buckets,
            rejected=True,
        )
    raise AssertionError("unreachable")


def apply_batch(
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    enrich: bool = True,
    salt_partitions: int | None = None,
    mode: str = "cow",
    auto_compact_deltas: int | None = None,
    auto_compact_delta_rows: int | None = None,
    expire_keep: int | None = None,
    quarantine_dir: str | None = None,
    patches: bool | str = "auto",
    lineage_compact_every: int | None = None,
    audit=None,
) -> MergeStats:
    """One microbatch apply. Safe to call repeatedly with the same
    batch_id (ledger no-op) — this is the foreachBatch body.

    audit: optional ``Callable[[DataFrame], bool]`` turning the apply
    into write-audit-publish: the merge runs staged (``current`` never
    moves), the callable receives the batch-scope audit view
    (``read_staged(scope='batch')`` — the deduped change rows about to
    become visible, O(batch) not O(table)), and a truthy return
    publishes (pure metadata fast-forward) while a falsy return
    abandons the stage — the suspect batch NEVER becomes readable, its
    raw events are dead-lettered under ``quarantine_dir/rejected/``
    when one is configured, and the ledger stays unburned so a
    corrected replay under the same batch_id can still apply. Crash
    safety: a leftover stage from a killed attempt of this batch_id is
    dropped and restaged (the merge is deterministic); a replay after
    publish is the usual ledger no-op.

    Order: (salt ->) enrich -> merge. Enrichment is a pure map stage
    of built-in expressions over path and lang (no Python worker), so
    it runs on the raw batch;
    the within-batch max-LSN dedup is FUSED into the merge's single
    bucket-partitioned shuffle (LakeTable.merge) — a raw microbatch
    costs exactly one full-row exchange end-to-end. Salting applies
    to pre-merge map work when requested (hot-key skew in upstream
    transforms); the merge shuffle itself is keyed by _bucket, where
    a hot KEY is at worst one hot bucket of 4096.
    """
    if quarantine_dir:
        # dead-letter gate BEFORE any keyed work: a NULL key would
        # hash to one poisoned bucket and shadow real rows forever.
        # The quarantine write is partitioned by batch_id and written
        # with overwrite, so a checkpoint replay of this batch
        # rewrites (not duplicates) its dead letters — the quarantine
        # sink inherits the ledger's exactly-once semantics.
        # patches=False => op='P' is quarantined as bad_op here instead
        # of reaching merge(), which applies full images only and would
        # raise on an unhydrated partial
        events, bad = split_events(
            events,
            table.snapshot()["key_cols"],
            allow_partial=(patches is not False),
        )
        bad.write.mode("overwrite").parquet(
            os.path.join(quarantine_dir, f"batch_id={batch_id}")
        )
    # partial-image hydration BEFORE enrichment: an op='P' row's NULL
    # column means "keep stored value" — enrichment would fill it and
    # silently turn a keep into an overwrite. patches="auto" probes the
    # batch for any 'P' (early-exit scan of the one op column, ~1% of
    # a merge at 1M-row batches); pass False to skip the probe on
    # sources known to send full images only.
    if patches is True or (
        patches == "auto" and not events.where(F.col("op") == "P").isEmpty()
    ):
        events = table.hydrate_patches(events)
    if salt_partitions:
        events = salted_repartition(events, ["repo", "path"], "lsn", salt_partitions)
    if enrich and "lang" in events.columns:
        events = enrich_changes(events)
    if audit is not None:
        stats = _audited_merge(table, events, batch_id, mode, audit, quarantine_dir)
    else:
        try:
            stats = table.merge(events, batch_id, mode=mode)
        except CommitConflictError:
            # a concurrent COW commit rewrote buckets this merge also
            # rewrote; merge() re-reads the current snapshot, so one
            # re-run resolves against the winner's files (delta appends
            # rebase inside the commit and never reach here)
            stats = table.merge(events, batch_id, mode=mode)
    # table maintenance AFTER the ledgered commit: a kill between the
    # merge commit and either step replays the batch as a ledger no-op
    # and maintenance simply runs on the next trigger — exactly-once
    # and the final-state fingerprint are unaffected.
    if stats.applied and (auto_compact_deltas or auto_compact_delta_rows):
        # bounds MOR read amplification: fold any bucket whose delta
        # count (or pending delta ROW MASS, from the O(metadata)
        # manifest stats) crossed its threshold (partial,
        # hot-bucket-only; thresholds OR together)
        table.compact(
            min_deltas=auto_compact_deltas,
            min_delta_rows=auto_compact_delta_rows,
        )
    if stats.applied and expire_keep:
        # bounds disk: old COW bucket files / folded deltas are
        # unreferenced by the retained snapshots and deleted.
        # Per-batch expiry diffs only the EXPIRING manifests' file
        # lists (O(recent history), flat cost); the full orphan walk —
        # O(table files), needed only to collect race-loser write
        # attempts that never committed — runs every
        # EXPIRE_ORPHAN_SCAN_EVERY applied batches.
        table.expire_snapshots(
            keep_last=expire_keep,
            scan_orphans=(batch_id % EXPIRE_ORPHAN_SCAN_EVERY == 0),
        )
    if stats.applied and lineage_compact_every and (
        batch_id % lineage_compact_every == lineage_compact_every - 1
    ):
        # bounds the audit-file count: every batch appends O(buckets)
        # tiny lineage files; consolidating whenever more than a
        # cadence's worth accumulated keeps lineage() reads at O(N)
        # file opens in steady state
        table.compact_lineage(max_files=lineage_compact_every)
    return stats


def run_stream_from(
    source: DataFrame,
    table: LakeTable,
    checkpoint_dir: str,
    available_now: bool = True,
    **apply_kw,
) -> CdcRun:
    """Drive ANY streaming DataFrame of change events through the
    engine — the foreachBatch body is source-agnostic (file WAL here,
    Kafka/rate/socket on a cluster are just a different `source`).
    ``apply_kw`` are ``apply_batch``'s policy keywords, applied to
    every microbatch. With ``available_now`` the query drains what
    exists and stops; calling again after more data lands — or after
    a kill — resumes from the checkpoint."""
    # bind now, not in the first microbatch: a misspelled keyword
    # raises TypeError before the query starts
    inspect.signature(apply_batch).bind(table, source, 0, **apply_kw)
    run = CdcRun()

    def _sink(df: DataFrame, batch_id: int) -> None:
        run.stats.append(apply_batch(table, df, batch_id, **apply_kw))

    w = source.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = w.start()
        run.query = q
    return run


def run_stream(
    spark: SparkSession,
    table: LakeTable,
    events_dir: str,
    checkpoint_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
    **apply_kw,
) -> CdcRun:
    """File-WAL convenience wrapper over ``run_stream_from``: tail
    parquet WAL segments with ``availableNow``, then stop.
    ``apply_kw`` are ``apply_batch``'s policy keywords."""
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    return run_stream_from(src, table, checkpoint_dir, available_now=True, **apply_kw)


def rate_source_events(spark: SparkSession, rows_per_second: int = 1000, n_keys: int = 500) -> DataFrame:
    """Synthetic change-event stream over Spark's built-in `rate`
    source — a non-file source shape for exercising the engine: each
    rate tick becomes one deterministic change event (lsn = tick
    value), same columns as the WAL schema."""
    from ..datagen import change_event_cols

    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return change_event_cols(rate.withColumn("lsn", F.col("value") + 1), n_keys)
