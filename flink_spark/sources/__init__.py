"""Sources: batch readers over the fixture tables + streaming readers.

The reference's sources are Kafka topics of JSON rows
(``rt/utils/MyKafkaUtil.java:23-98``) and a MySQL-CDC config stream
(``rt/app/dim/DimApp.java:69-82``). Here the batch fixture tables play
the role of at-rest data; ``streaming.py`` provides the readStream
equivalents (file/rate/memory sources standing in for Kafka, plus a
real kafka reader builder for cluster use).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes types for engine use.

    ``events.ts`` is ``timestamp[us]`` with no UTC flag in the current
    fixtures; Spark 4 with ``inferTimestampNTZ`` on would read it as
    TIMESTAMP_NTZ, which ``unix_millis``/watermarks reject. ``tune()``
    disables the inference, and this function defensively normalizes
    whatever arrives (NTZ from a pre-tuned session, or bigint-ns from
    the older TIMESTAMP(NANOS) fixture generation) to a proper
    session-TZ TimestampType, then asserts the result — so a future
    fixture/Spark reader change fails loudly at load, not in query 5
    of the bench. The session TZ is pinned UTC, so the NTZ→TZ cast is
    value-preserving and matches DuckDB ``epoch_ms`` exactly.
    """
    key = (id(spark), sf_dir, name)
    cached = _DF_CACHE.get(key)
    # id() can be reused after a stopped session is garbage-collected;
    # verify the handle really belongs to THIS session before serving it.
    if cached is not None and cached.sparkSession is spark:
        return cached
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: `/ 1000` goes through double, whose 53-bit
            # mantissa cannot represent epoch-ns (~1.7e18) exactly and flips
            # ~1.5% of microseconds by one.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            raise TypeError(
                f"events.ts loaded as {ts_type!r}; expected timestamp, "
                "timestamp_ntz, or bigint (ns) — fixture or Spark reader "
                "defaults changed, update sources.load()"
            )
    _DF_CACHE[key] = df
    return df


# Lazy DataFrame handles are immutable and session-bound; re-listing the
# parquet footer costs ~0.1 s of driver time per read.parquet call, which
# dominates sub-second queries. Keyed by the session's Python identity so
# a stopped-and-recreated session never sees a stale handle.
_DF_CACHE: dict[tuple, DataFrame] = {}


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, key: str,
    cpu_factor: float = 1.0,
) -> DataFrame:
    """``load()`` + hash-repartition across the session's cores when the
    scan itself cannot parallelize.

    Parquet splits are row-group-aligned, so a table written as one (or
    few) row groups is scanned by one (or few) tasks no matter how many
    cores the session has — the classic unsplittable-input skew
    (optimization guide §2.5). For consumers whose FIRST map stage is
    the expensive one (tokenize → shingle → md5/MinHash: tens of
    CPU-seconds per scanned MB, measured r14 — the whole stage ran on
    one core of 32), that serialization IS the query wall, so they opt
    in here and pay one small exchange of the raw rows to spread the
    compute. Hash partitioning on the table's unique ``key`` keeps the
    placement deterministic under task retries (guide §2.5's rand()
    warning) with no sort-before-repartition cost.

    Scale-adaptive by construction: when the scan already yields at
    least ``defaultParallelism`` partitions (any real multi-file /
    multi-row-group table — the 100 TB case), the repartition is
    skipped entirely and this IS ``load()``. Aggregation-only readers
    (token stats, percentiles) keep plain ``load()``: their scan work
    is trivial and the exchange would be pure cost — measured both
    ways in OPTIMIZATION_r14.md.
    """
    base = load(spark, sf_dir, name)
    # `key` is part of the identity: two callers spreading the same table
    # on different keys must not share a handle partitioned on whichever
    # ran first.
    ck = (id(spark), sf_dir, name, "spread", key, cpu_factor)
    cached = _DF_CACHE.get(ck)
    if cached is not None and cached.sparkSession is spark:
        return cached
    # Spread width derives from the input size (``spread_width``). The
    # repartition is skipped once the scan is already that wide (the
    # at-scale case), so the derivation only matters for small inputs.
    n = spread_width(spark, sf_dir, name, cpu_factor)
    # .rdd.getNumPartitions() plans the scan without running a job;
    # cached via _DF_CACHE so each (session, table) pays it once.
    df = base if base.rdd.getNumPartitions() >= n else base.repartition(
        n, F.col(key)
    )
    _DF_CACHE[ck] = df
    return df


# Input bytes per spread task (see ``spread_width``).
SPREAD_TARGET_BYTES = 64 * 1024


def spread_width(spark: SparkSession, sf_dir: str, name: str,
                 cpu_factor: float = 1.0) -> int:
    """Partition width for spreading a small CPU-dense scan.

    Derived from the table's on-disk size — ``ceil(bytes / target)``
    capped at the session's core count — rather than pinned to the
    core count: r15 measured the text-family map stages at sf0.1
    (584 KB input) fastest at ~8-10 tasks on local[32] (14.3 s → 11.5 s
    over the ten spread-reader queries vs 32 tasks), because a tiny
    input sliced into one task per core pays more per-task fixed cost
    (scheduling + Arrow/python handshake) than the extra cores return.
    The 64 KB/task target (``SPREAD_TARGET_BYTES``) reproduces that
    optimum and saturates to the core count by ~2 MB of input — any
    real corpus — and at genuine scale the repartition is skipped
    entirely (the scan is already wider), so the constant cannot
    mis-size a 100 TB run.
    """
    import math

    cores = spark.sparkContext.defaultParallelism
    try:
        sz = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
    except OSError:
        return cores
    # ``cpu_factor`` scales the width for consumers whose map stage
    # does far more CPU per scanned byte than the plain text readers
    # the 64 KB/task target was measured on. The shingle→md5→MinHash
    # chain measured ~10× denser: at the derived ~10-way width the
    # eight chain-audit queries ran 24.4 s vs 20.5 s at full core
    # width (r15 A/B), while the light readers ran 20% FASTER narrow —
    # so the density, not the byte count, decides.
    return max(1, min(cores,
                      math.ceil(sz * cpu_factor / SPREAD_TARGET_BYTES)))


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``spark.createDataFrame`` for small driver-local row lists via
    the Arrow path.

    The plain tuple-list form parallelizes the rows into
    ``defaultParallelism`` pickled slices, each evaluated through a
    Python worker — measured 0.36 s per ACTION at local[32] for a
    30-row frame (32 tasks × worker handshake), re-paid by every
    consumer job (broadcast builds included). Routing a small pandas
    frame through Arrow decodes in the JVM with no Python workers:
    0.066 s for the same frame, same values. Falls back to the plain
    path for anything pandas/Arrow cannot represent (the caller's
    schema always wins — Arrow casts to it).

    Only for SMALL local metadata (dims, knob tables, query-side
    frames): the rows live on the driver either way.
    """
    rows = list(rows)
    try:
        import pandas as pd
        from pyspark.sql.types import StructType, _parse_datatype_string

        st = (schema if isinstance(schema, StructType)
              else _parse_datatype_string(schema))
        pdf = pd.DataFrame.from_records(rows, columns=st.names)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


_COUNT_CACHE: dict[tuple[str, str], int] = {}


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table, cached per (sf_dir, table).

    The adaptive LSH/SimHash/IVF defaults derive bucket counts from
    the corpus size; parquet makes the count metadata-cheap, but each
    ``count()`` is still a Spark job, so plan builders share one per
    dataset per session. At-rest fixture tables are immutable for a
    session, which is what makes the cache sound.
    """
    key = (sf_dir, name)
    if key not in _COUNT_CACHE:
        _COUNT_CACHE[key] = load(spark, sf_dir, name).count()
    return _COUNT_CACHE[key]


def jdbc_dim(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 1,
    quote: str = '"',
    **options: str,
) -> DataFrame:
    """S5 — JDBC dimension snapshot (rt/utils/MySqlUtil.java:5-29).

    The reference declares ``base_dic`` as a ``FOR SYSTEM_TIME AS OF``
    lookup table with a 10-row/1 h cache; the Spark shape is a
    periodic snapshot read that downstream joins ``broadcast()`` (the
    broadcast IS the cache — refresh cadence = batch trigger). For big
    dims pass ``partition_column``/``num_partitions`` so the read
    parallelizes instead of funneling through one connection.
    Exercised for real against Derby embedded (bundled with Spark) in
    ``tests/test_jdbc.py``; any server DB only changes the url/driver.

    ``quote`` wraps identifiers in the bounds query — ANSI double
    quotes by default (Derby/Postgres; Spark's JDBC writer creates
    case-sensitive quoted columns, so unquoted identifiers would
    upcase and miss). MySQL callers pass ``quote='`'``.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        qc = f"{quote}{partition_column}{quote}"
        bounds = spark.read.format("jdbc").option("url", url).option(
            "query",
            f"SELECT MIN({qc}) lo, MAX({qc}) hi FROM {table}",
        )
        for k, v in options.items():
            bounds = bounds.option(k, v)
        row = bounds.load().collect()[0]
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(row[0]))   # positional: alias case
            .option("upperBound", str(row[1]))   # differs per dialect
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
