"""Remaining reference analysis-query ports (testing/test_queries.sql)
plus the UA-enrichment operators (P15-P18) and a semi-join.

Reference parity map:
- ref_region_traffic      <- test_queries.sql:1-4   (GB-traffic join+filter, J3)
- ref_year_quarter_traffic<- test_queries.sql:7-12  (non-bot by year/quarter)
- ref_band_traffic        <- test_queries.sql:46-59 (requests per latency band)
- ua_enrich_traffic       <- test_queries.sql:63-72 (requests by device) widened
  to browser/os/device/is_bot — the reference parses the same UA four times
  (browser_tasks.py:29, os_tasks.py:29, device_tasks.py:56, bot_tasks.py:59);
  here ONE Arrow-vectorized struct UDF does all four in a single pass.
- semi_join_discounted_orders — left-semi join (EXISTS); the reference has
  only anti-joins (ip_tasks.py:103-107), this completes the join family.

The UA oracle: the pool of UA strings is fixed, so the expected
(browser, os, device, bot) per pool index is computed once at import by the
same pure-pandas kernel the UDF wraps (the kernel itself is covered by unit
tests in tests/test_dims_enrich.py); the oracle SQL then joins events against
that literal lookup — verifying the distributed Arrow plumbing end-to-end.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import bands
from .functions.ua import classify_ua_exprs, classify_ua_pdf
from .queries import q, t
from .session import local_frame

# ---------------------------------------------------------------------------
# J3: join + filter (GB-traffic analogue over the driver tables)
# ---------------------------------------------------------------------------


@q(
    "ref_region_traffic",
    """
    SELECT n_name, COUNT(*) AS n_events
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY n_name
    """,
)
def ref_region_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact->dim->dim->dim chain with the filter applied on the
    smallest dim FIRST so only matching region keys ever reach the
    join (predicate stays pushed below the broadcasts)."""
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    dims = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    cd = c.join(F.broadcast(dims), c.c_nationkey == dims.n_nationkey).select("c_custkey", "n_name")
    return (
        e.join(F.broadcast(cd), e.user_id == cd.c_custkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# test_queries.sql:7-12 — non-"bot" requests by year/quarter
# ---------------------------------------------------------------------------


@q(
    "ref_year_quarter_traffic",
    """
    SELECT CAST(year(ts) AS BIGINT) AS year, CAST(quarter(ts) AS BIGINT) AS quarter,
           COUNT(*) AS n_events
    FROM events WHERE event_type <> 'error'
    GROUP BY 1, 2
    """,
)
def ref_year_quarter_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") != "error")
        .groupBy(
            F.year("ts").cast("long").alias("year"),
            F.quarter("ts").cast("long").alias("quarter"),
        )
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# test_queries.sql:46-59 — requests per latency band (ordered when-chain)
# ---------------------------------------------------------------------------

_MS = "CAST(FLOOR(value * 100) AS BIGINT)"


@q(
    "ref_band_traffic",
    f"""
    SELECT {bands.band_case_sql(_MS)} AS time_category,
           {bands.band_min_case_sql(_MS)} AS min_category_time,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def ref_band_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.value scaled to a ms-like long, banded by the reference's
    overlap-sensitive ordered band table (time_taken_tasks.py:12-23)."""
    e = t(spark, sf_dir, "events")
    ms = F.floor(F.col("value") * 100).cast("long")
    s = bands.band_struct(ms)
    return (
        e.select(
            s["time_category"].alias("time_category"),
            s["min_category_time"].alias("min_category_time"),
        )
        .groupBy("time_category", "min_category_time")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# P15-P18: UA enrichment struct UDF, distributed, with a literal-lut oracle
# ---------------------------------------------------------------------------

_UA_POOL = [
    "Mozilla/5.0+(Windows+NT+10.0;+Win64;+x64)+AppleWebKit/537.36+(KHTML,+like+Gecko)+Chrome/120.0+Safari/537.36",
    "Mozilla/5.0+(Macintosh;+Intel+Mac+OS+X+10_15_7)+AppleWebKit/605.1.15+(KHTML,+like+Gecko)+Version/17.0+Safari/605.1.15",
    "Mozilla/5.0+(iPhone;+CPU+iPhone+OS+17_0+like+Mac+OS+X)+AppleWebKit/605.1.15+(KHTML,+like+Gecko)+Version/17.0+Mobile/15E148+Safari/604.1",
    "Mozilla/5.0+(iPad;+CPU+OS+16_6+like+Mac+OS+X)+AppleWebKit/605.1.15+(KHTML,+like+Gecko)+CriOS/119.0+Mobile/15E148+Safari/604.1",
    "Mozilla/5.0+(X11;+Linux+x86_64;+rv:109.0)+Gecko/20100101+Firefox/115.0",
    "Mozilla/5.0+(compatible;+Googlebot/2.1;++http://www.google.com/bot.html)",
    "Mozilla/4.0+(compatible;+MSIE+8.0;+Windows+NT+5.1;+Trident/4.0)",
    "curl/8.4.0",
]

_UA_EXPECTED = classify_ua_pdf(pd.Series(_UA_POOL))

_UA_LUT_VALUES = ", ".join(
    "({i}, '{b}', '{o}', '{d}', {bot})".format(
        i=i,
        b=row.browser,
        o=row.os,
        d=row.device_type,
        bot="TRUE" if row.ua_is_bot else "FALSE",
    )
    for i, row in _UA_EXPECTED.iterrows()
)


@q(
    "ua_enrich_traffic",
    f"""
    WITH lut(idx, browser, os, device_type, is_bot) AS (VALUES {_UA_LUT_VALUES})
    SELECT browser, os, device_type, is_bot, COUNT(*) AS n_events
    FROM events e JOIN lut ON (e.event_id % {len(_UA_POOL)}) = lut.idx
    GROUP BY 1, 2, 3, 4
    """,
)
def ua_enrich_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each event a UA from the fixed pool, count per
    (browser, os, device, is_bot) — the reference's
    build-the-dimension-from-DISTINCT trick as plan shape: classify
    the distinct UAs as an 8-ROW DIMENSION (pure-codegen rlike chains,
    classify_ua_exprs, over an Arrow-built local relation — no Python
    UDF and no Python-worker task), broadcast-join it onto
    a count-by-UA-index aggregate of the fact, and re-aggregate. The
    big stage is one partial-agg count over events; the ~50-regex
    chain runs 8 times total. Classifying inline instead (chains in
    the grouping keys) inlines the replace(pool[idx]) alias into all
    ~99 RLIKEs — an 82 KB expression tree that cost ~3.5s/run in
    optimizer+codegen; as a dimension the chains reference a plain
    column and the plan is 9.7 KB. The pandas twin classify_ua_pdf
    builds the oracle LUT, so the driver's value-hash gate enforces
    bit-parity between the two implementations."""
    e = t(spark, sf_dir, "events")
    dim = local_frame(spark, list(enumerate(_UA_POOL)), "_idx long, _ua string")
    x = classify_ua_exprs(F.col("_ua"))
    dim = dim.select(
        "_idx",
        x["browser"].alias("browser"),
        x["os"].alias("os"),
        x["device_type"].alias("device_type"),
        x["ua_is_bot"].alias("is_bot"),
    )
    per_ua = e.groupBy((F.col("event_id") % len(_UA_POOL)).alias("_idx")).agg(
        F.count("*").alias("_n")
    )
    return (
        per_ua.join(F.broadcast(dim), "_idx")
        .groupBy("browser", "os", "device_type", "is_bot")
        .agg(F.sum("_n").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# left-semi join (EXISTS) — completes the join-family coverage
# ---------------------------------------------------------------------------


@q(
    "semi_join_discounted_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
    GROUP BY o_orderpriority
    """,
)
def semi_join_discounted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi hash join: the lineitem side is filtered
    and projected to the join key only before the shuffle, so the semi
    join moves one slim column, not the fact table."""
    o = t(spark, sf_dir, "orders")
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.05)
        .select("l_orderkey")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# applyInPandasWithState custom stateful streaming operator. The
# PER-MICROBATCH update stream is not SQL-expressible, but the FINAL
# drained state after availableNow is: it equals the batch twin
# (streaming/stateful.running_key_state_batch — max LSN, op at max
# LSN, event count per key), so the oracle pins the state store's end
# state value-for-value.
# ---------------------------------------------------------------------------


@q(
    "stateful_running_state",
    """
    WITH ev AS (
      SELECT event_id AS lsn,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             'org' || CAST(user_id % 13 AS VARCHAR) AS repo,
             'p/' || CAST(user_id AS VARCHAR) AS path
      FROM events WHERE event_id < 4000
    )
    SELECT repo, path,
           MAX(lsn) AS last_lsn,
           arg_max(op, lsn) AS last_op,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ev GROUP BY repo, path
    """,
)
def stateful_running_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives a REAL Structured Streaming query: events are recast as
    CDC change events, split into two WAL segments, tailed with
    availableNow, and folded through the applyInPandasWithState
    running-key-state operator; returns the final per-key state.

    The event subset is a deterministic filter (event_id < 4000), not
    LIMIT — LIMIT without ORDER BY is engine-arbitrary, so Spark and
    DuckDB could legally pick different rows."""
    import os
    import shutil
    import tempfile

    from .schemas import CHANGE_EVENTS
    from .streaming.stateful import running_key_state

    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    ev = e.select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.concat(F.lit("org"), (F.col("user_id") % 13).cast("string")).alias("repo"),
        F.concat(F.lit("p/"), F.col("user_id").cast("string")).alias("path"),
        F.md5(F.col("event_id").cast("string")).alias("commit"),
        F.lit("Python").alias("lang"),
        F.col("props").alias("content"),
        F.col("ts").alias("event_ts"),
    )
    work = tempfile.mkdtemp(prefix="qstateful_")
    # State-store partition count is baked into the checkpoint from
    # spark.sql.shuffle.partitions at stream start; it should track the
    # KEYSPACE, not the session's core count — 32 stores x 2 microbatches
    # of commit I/O + Arrow worker groups for a ~1.4k-key test stream is
    # pure overhead (measured 13.2s -> 3.9s at sf0.1 with 8). A 10^9-key
    # production stream sizes this in the thousands instead.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        half = 2000
        ev.filter(F.col("lsn") < half).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(work, "wal", "seg=0")
        )
        ev.filter(F.col("lsn") >= half).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(work, "wal", "seg=1")
        )
        name = "qstateful_out"
        qy = (
            running_key_state(
                spark.readStream.schema(CHANGE_EVENTS)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(work, "wal") + "/*")
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # availableNow has fully drained; the memory sink holds the rows,
        # so the WAL segments + checkpoint in /tmp can go
        shutil.rmtree(work, ignore_errors=True)
    return spark.sql(
        f"""
        SELECT repo, path, last_lsn, last_op, n_events FROM (
          SELECT *, row_number() OVER (PARTITION BY repo, path
                    ORDER BY n_events DESC, last_lsn DESC) AS rn
          FROM {name}) WHERE rn = 1
        """
    )
