"""SparkSession factory tuned for this engine.

Local-mode settings follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE on (runtime
coalescing + skew-join splitting), Arrow on for every pandas UDF,
UTC session timezone so results compare bit-for-bit against DuckDB
oracles. Parallel file listing is off: every LakeTable scan already
names its files from the manifest, and Spark's listing job (one task
per path past 32 paths) only re-stats them; the driver stats them
serially instead. Every entry point — jobs/, bench.py, tools/,
perfbench/ and the test fixture — builds its session here, so all of
them get it. On a real cluster the same builder is used with ``master``
unset (taken from spark-submit) and ``shuffle_partitions`` sized to
2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "w3_data_etl_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; local[*] -> cpu count; cluster masters -> 2x env cpus
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 2 * cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python DataSources receive pushed filters (the batch
        # laketable reader turns them into manifest file skipping)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # zstd: on this payload (2KB repetitive code text) files are
        # 1.9x smaller than lz4 and 3.1x smaller than snappy; apply
        # throughput in matched A/B (interleaved CDC COW benches,
        # healthy windows) is zstd ~= snappy with lz4 ~10% ahead.
        # zstd stays the default because the +10% is single-node write
        # CPU only — on a real cluster the 1.9x write/scan BYTES are
        # the scarcer resource (and downstream reads pay them forever)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # int64-micros timestamps, NOT the legacy INT96 default: INT96
        # columns carry no parquet min/max statistics, which silently
        # disabled manifest bounds skipping on every timestamp column
        # (the single most common 100 TB pruning predicate). All
        # internal readers (Spark, DuckDB, pyarrow) read micros fine.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ~2KB content strings x the default 10k-row cache batch = ~20MB
        # arrays: humongous allocations under G1 that serialize all
        # executor threads. Smaller cache batches + bigger G1 regions
        # keep cache builds in the young-gen fast path.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "2000")
        # scan parallelism: the default 128MB split coalesces a
        # bucket-partitioned table (64 x ~4MB files) into 2-6 input
        # splits, capping the map stage at 2-6 tasks no matter how
        # many cores exist. 32MB splits + low open cost keep scan
        # task count >= cores (measured: the single biggest scaling
        # limiter after cache reads; cf. BENCH/BASELINE.md controls).
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(2 * 1024 * 1024))
        # scans name their files (LakeTable passes the manifest's list);
        # above this many paths Spark stats them in a listing job with
        # one task per path. The table's metadata I/O is local os.*
        # calls, so a serial stat of N named files on the driver is
        # cheaper than an N-task job: no path list reaches this value.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:G1HeapRegionSize=32m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """A DataFrame over a few driver-side ``rows`` (tuples in
    ``schema`` order, or dicts by field name), built through Arrow.

    ``spark.createDataFrame(<list>)`` plans a Python-RDD scan, so every
    action over it runs Python-worker tasks (about 0.2 s each in local
    mode); an Arrow table becomes a ``LocalTableScan`` the JVM serves
    alone. Each value first goes through its field's
    ``DataType.toInternal`` — what the list path does — so dates,
    timestamps (naive ones in the driver's local time zone) and
    decimals land exactly as they would from a list. ``schema`` is a
    ``StructType`` or a DDL string; flat column types only."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    names = schema.fieldNames()
    rows = [[r[c] for c in names] if isinstance(r, dict) else r for r in rows]
    cols = [
        pa.array(
            [None if r[i] is None else f.dataType.toInternal(r[i]) for r in rows],
            type=a.type,
        )
        for i, (f, a) in enumerate(zip(schema.fields, arrow))
    ]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)
