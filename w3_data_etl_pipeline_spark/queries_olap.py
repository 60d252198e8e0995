"""Additional OLAP operator coverage: sessionization (lag + gap
cumsum), pivot, cube with grouping ids, set operations, exact
percentile. Each with a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _money, q, t
from .session import local_frame

SESSION_GAP_S = 1800


@q(
    "sessionize_events",
    f"""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM o)
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap-flag cumulative sum: two window
    passes over ONE shuffle (both windows share the user_id hash
    partitioning, so Catalyst reuses the exchange)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = e.withColumn(
        "ns", F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    )
    wc = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    sess = flagged.withColumn("session_id", F.sum("ns").over(wc).cast("long"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@q(
    "pivot_event_counts",
    """
    SELECT CAST(hour(ts) AS BIGINT) AS hour,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY 1
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    out = (
        e.groupBy(F.hour("ts").cast("long").alias("hour"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return out.na.fill(0, _EVENT_TYPES)


@q(
    "cube_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
        F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
    )


@q(
    "setops_customers",
    """
    SELECT 'both' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
       INTERSECT
       SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)
    UNION ALL
    SELECT 'only_even' AS tag, c_custkey FROM
      (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0
       EXCEPT
       SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)
    """,
)
def setops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    evens = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey")
    threes = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    return evens.intersect(threes).withColumn("tag", F.lit("both")).unionByName(
        evens.exceptAll(threes).distinct().withColumn("tag", F.lit("only_even"))
    ).select("tag", "c_custkey")


@q(
    "median_order_value",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentile (NOT approx_percentile — the
    oracle needs bit-equality; approximate twins stay rows-only)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("median_price"),
        F.count("*").alias("n"),
    )


_MEDIA_BUCKETS = ",\n           ".join(
    f"CAST(len(list_filter(bs, b -> b = {i})) AS BIGINT) AS b{i}" for i in range(16)
)


@q(
    "media_features",
    f"""
    WITH c AS (
      SELECT doc_id,
             3 * (length(text) // 3) AS body,
             list_transform(
               string_split(substr(text, 1, 3 * (length(text) // 3)), ''),
               x -> ord(x) // 16) AS bs
      FROM documents)
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(length('P6' || chr(10) || CAST(body // 3 AS VARCHAR)
                 || ' 1' || chr(10) || '255' || chr(10)) + body AS BIGINT)
             AS n_bytes,
           {_MEDIA_BUCKETS}
    FROM c
    """,
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal path driven from the documents table, with the REAL
    codec load-bearing end to end: each document's bytes are framed
    JVM-side into a genuine binary PPM container (width = len//3,
    height 1), the mapInPandas pass runs the actual P6 parser
    (operators.multimodal.decode_media — header validation, geometry,
    byte layout), and the 16 bucket-count columns are decoded PIXEL
    stats. The oracle reproduces them in DuckDB from the codepoints of
    the framed prefix (documents are ASCII, so codepoint buckets ==
    pixel-byte buckets) plus the exact header length — a hash mismatch
    means the parser mis-read real container bytes."""
    from .operators.multimodal import decode_media, extract_feature_counts

    d = t(spark, sf_dir, "documents")
    w = (F.length("text") / 3).cast("long")
    header = F.encode(
        F.concat(F.lit("P6\n"), w.cast("string"), F.lit(" 1\n255\n")), "utf-8"
    )
    body = F.encode(
        F.expr("substr(text, 1, 3 * CAST(length(text) / 3 AS INT))"), "utf-8"
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(header, body).alias("bytes"),
        F.struct(
            F.lit("image/ppm").alias("format"),
            w.cast("int").alias("width"),
            F.lit(1).alias("height"),
            F.lit(16000).alias("sample_rate"),
            F.lit(1000).alias("duration_ms"),
            F.lit(1).alias("n_frames"),
        ).alias("meta"),
    )
    return extract_feature_counts(media, decoder=decode_media)


_JPEG_BUCKETS = ",\n           ".join(
    f"CAST(64 * len(list_filter(cs, c -> c // 16 = {i})) AS BIGINT) AS b{i}"
    for i in range(8)
)


@q(
    "jpeg_media_features",
    f"""
    WITH c AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split(substr(text, 1, 32), ''), x -> x <> ''),
               x -> least(ord(x), 255)) AS cs
      FROM documents
    )
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(64 * len(cs) AS BIGINT) AS n_px,
           {_JPEG_BUCKETS}
    FROM c
    """,
)
def jpeg_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL compressed codec on the value-hash gate: each document's
    first 32 chars become flat 8x8 gray blocks (value = even-floored
    codepoint), ENCODED to a genuine baseline-JPEG bitstream
    (operators/jpeg.py — DCT, Annex-K quant, Huffman, byte stuffing)
    and DECODED back through the multimodal codec boundary
    (decode_media('image/jpeg')) inside an Arrow batch. Flat blocks
    with even values survive q50 quantization exactly (DC = 8*(v-128)
    is a multiple of the DC quant step 16), so the decoded pixel
    bucket counts are DETERMINISTIC and DuckDB reproduces them from
    the codepoints alone — a hash mismatch means the Huffman/DCT path
    mis-decoded real compressed bytes. A codepoint past 255 is clamped
    to 255 (one 8-bit gray pixel), and an empty text is an empty image:
    no bytes encoded, ``n_px`` 0 and every bucket 0. Lossy inputs stay
    pinned in tests/test_jpeg.py; this entry isolates the exact-path
    contract."""
    import numpy as np
    import pandas as pd

    from .operators.jpeg import encode_jpeg
    from .operators.multimodal import decode_media

    d = t(spark, sf_dir, "documents")

    def run(batches):
        for pdf in batches:
            out = {
                "media_id": [], "kind": [], "n_px": [],
                **{f"b{i}": [] for i in range(8)},
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = str(text)[:32]
                dec = np.zeros(0, dtype=np.uint8)
                if s:
                    vals = np.array(
                        [(min(ord(ch), 255) // 2) * 2 for ch in s], dtype=np.uint8
                    )
                    img = np.repeat(vals[None, :], 8, axis=0)
                    img = np.repeat(img, 8, axis=1)  # flat 8x8 block per char
                    dec = decode_media(encode_jpeg(img, quality=50), "image/jpeg")
                hist = np.bincount(dec // 16, minlength=16)
                out["media_id"].append(int(doc_id))
                out["kind"].append("image")
                out["n_px"].append(int(dec.size))
                for i in range(8):
                    out[f"b{i}"].append(int(hist[i]))
            yield pd.DataFrame(out)

    return d.select("doc_id", "text").mapInPandas(
        run,
        "media_id long, kind string, n_px long, "
        + ", ".join(f"b{i} long" for i in range(8)),
    )


# ---------------------------------------------------------------------------
# range join — events.value against a literal bands table (P14 as a JOIN;
# the reference implements banding as a scalar chain, SURVEY.md §2.4 notes
# it is semantically a range join)
# ---------------------------------------------------------------------------

_RANGE_BANDS = [(float(i * 50), float((i + 1) * 50), f"band{i}") for i in range(10)]
_RANGE_VALUES = ", ".join(f"({lo}, {hi}, '{lb}')" for lo, hi, lb in _RANGE_BANDS)


@q(
    "range_join_bands",
    f"""
    WITH bands(lo, hi, label) AS (VALUES {_RANGE_VALUES})
    SELECT label, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY label
    """,
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality join against a broadcast 10-row bands table: Spark
    plans BroadcastNestedLoopJoin — correct here because the build side
    is O(10); at scale a bands table stays tiny so the plan holds."""
    e = t(spark, sf_dir, "events")
    bands = local_frame(spark, _RANGE_BANDS, "lo double, hi double, label string")
    return (
        e.join(F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum(_money("value")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# ROLLUP (hierarchical subtotals; complements cube_lineitem)
# ---------------------------------------------------------------------------


@q(
    "rollup_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
        F.sum(_money("o_totalprice")).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# distinct aggregate + approximate twin (exact has the oracle; the HLL
# sketch is rows-only, its accuracy asserted relative to the exact twin)
# ---------------------------------------------------------------------------


@q(
    "distinct_users_by_type",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate: Catalyst expands to a two-phase aggregate
    (partial per (type,user) then per type) — both phases map-side
    combinable, no row explosion."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


HLL_RSD = 0.02
HLL_MAX_REL_ERR = 5 * HLL_RSD  # 5 sigma: loud failure, negligible flake rate


@q("approx_distinct_users", None)  # HLL sketch: rows-only + in-query
# relative-error assertion against the exact COUNT(DISTINCT) twin
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ twin of distinct_users_by_type — the 100 TB path
    (one pass, bounded memory, mergeable sketches). Self-checking:
    per-group relative error vs the exact twin is asserted under
    5*rsd every run, so the rows-only driver check is backed by a
    hard accuracy gate."""
    e = t(spark, sf_dir, "events")
    out = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", HLL_RSD).alias("n_users_approx"),
        F.count("*").alias("n_events"),
    )
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for r in out.collect():
        err = abs(r["n_users_approx"] - exact[r["event_type"]]) / max(exact[r["event_type"]], 1)
        if err > HLL_MAX_REL_ERR:
            raise AssertionError(
                f"HLL drifted: {r['event_type']} rel err {err:.3f} > {HLL_MAX_REL_ERR}"
            )
    return out


# ---------------------------------------------------------------------------
# as-of join — for each purchase, the latest preceding click by the same
# user (attribution; the canonical CDC/event-time as-of pattern)
# ---------------------------------------------------------------------------


@q(
    "asof_click_attribution",
    """
    SELECT p_id, click_id, click_ts FROM (
      SELECT p.event_id AS p_id, c.event_id AS click_id, c.ts AS click_ts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id
       AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
    ) WHERE rn = 1
    """,
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via per-user equi-join + backward inequality + one
    row_number window (deterministic (ts, event_id) tie-break). At
    scale the equi-key (user_id) carries the shuffle; the inequality
    prunes inside each key group — the standard Spark as-of layout."""
    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    j = p.join(
        c,
        (p.p_user == c.c_user)
        & ((c.click_ts < p.p_ts) | ((c.click_ts == p.p_ts) & (c.click_id < p.p_id))),
    )
    w = Window.partitionBy("p_id").orderBy(F.col("click_ts").desc(), F.col("click_id").desc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_id", "click_id", "click_ts")
    )


# ---------------------------------------------------------------------------
# tumbling-window aggregation — batch twin of streaming.aggs
# (same plan minus the state store; oracle via epoch bucketing)
# ---------------------------------------------------------------------------


@q(
    "session_windows_user",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ), s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def session_windows_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION windows (F.session_window, gap-driven extents) — the
    batch twin of streaming.aggs.sessionized_event_counts, oracle'd
    by DuckDB's gaps-and-islands form (lag >= gap -> break, running
    sum -> session id). Window end is last-event + gap, Spark's
    session_window contract. The windowed group key combines map-side
    like any other; on a stream the same plan runs with a watermarked
    state store."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


@q(
    "tumbling_window_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows via F.window — identical plan to the
    engine's streaming monitor (streaming/aggs.py) without the state
    store; windowed group keys combine map-side like any other key."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
