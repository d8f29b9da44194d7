"""SparkSession factory tuned for the KG-construction workload.

Local-mode settings stand in for cluster settings; on a real cluster the
same builder is used with ``master`` unset (spark-submit provides it) and
``shuffle_partitions`` sized to ~2-3x total cores.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"

# The one broadcast gate: a hinted build side of more rows than this is
# not copied to every executor; the planner picks sort-merge and AQE
# splits the skewed partitions.
BROADCAST_MAX_ROWS = 5_000_000


def local_df(spark: SparkSession, rows, schema: StructType | str):
    """A DataFrame over driver-local rows, built as an Arrow table so it
    plans as a JVM-side ``LocalTableScan``.  ``createDataFrame(list)``
    plans as a Python-RDD scan instead, which every job reading it runs
    through a Python worker (4 tasks and 0.4-0.7 s of wall time for a
    few dozen rows)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(
        pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows],
            schema=to_arrow_schema(schema),
        ),
        schema,
    )


def bounded_broadcast(df: DataFrame, rows: int | None = None) -> DataFrame:
    """``F.broadcast(df)`` when ``df`` holds at most ``BROADCAST_MAX_ROWS``
    rows, ``df`` unchanged otherwise.  For build sides whose size Spark
    cannot see before it runs them (a join, a distinct or a filter over a
    data-sized input); a driver-built Arrow table, a parquet dimension or
    a global aggregate need no hint, since Spark's own size rule
    (``autoBroadcastJoinThreshold``) sees their true size.  ``rows`` is a
    count the caller already holds; without it one bounded job counts at
    most ``BROADCAST_MAX_ROWS + 1`` rows."""
    if rows is None:
        rows = df.limit(BROADCAST_MAX_ROWS + 1).count()
    return F.broadcast(df) if rows <= BROADCAST_MAX_ROWS else df


def _derived_driver_mem() -> str:
    """Default heap when ``SPARK_DRIVER_MEM`` is unset: a quarter of the
    host's available memory (1-16 GB), so a test JVM, the bench or CLI
    JVMs it spawns, and their Python workers fit side by side."""
    try:
        with open("/proc/meminfo") as f:
            avail_kb = next(
                int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:")
            )
    except (OSError, StopIteration, ValueError):
        return "4g"  # no /proc/meminfo (not Linux)
    return f"{max(1024, min(16 * 1024, avail_kb // 4 // 1024))}m"


def get_spark(
    app_name: str = "wdp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master=None`` (default): env ``SPARK_MASTER`` if set, else
    ``local[cpus]``.  ``master=""``: leave the master to the launcher —
    the spark-submit deployment path (north_rule: ``spark-submit
    --py-files`` on a multi-executor cluster)."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    if master is None:
        # NOTE: set-but-EMPTY env ("SPARK_MASTER= spark-submit ...") means
        # "leave the master to the launcher" — an `or` here would swallow
        # it and silently pin the documented cluster deployment to
        # local[cpus] (builder.master overrides spark-submit's --master)
        master = os.environ.get("SPARK_MASTER")
        if master is None:
            master = f"local[{cpus}]"
    driver_mem = os.environ.get("SPARK_DRIVER_MEM")
    b = SparkSession.builder
    if master:
        b = b.master(master)
    b = (
        b.appName(app_name)
        # AQE: runtime coalesce + skew-join splitting (SURVEY.md §4 —
        # replaces the reference's hand-built hot-key handling,
        # cntprops.pl:16,68-77)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # independent pipeline stages are submitted from concurrent driver
        # threads; FAIR keeps one long stage from starving the others
        .config("spark.scheduler.mode", "FAIR")
        # Arrow for all pandas-UDF exchange (input_hint: no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # zstd level 1 for stage snapshots (r7, guide §6): the default
        # level 3 costs ~1.6x the write wall for ~9% smaller files
        # (measured on the 100k-page extract stage: 2.75 s -> 1.76 s,
        # 37.5 -> 41.0 MB); snapshots are written once and re-read a
        # handful of times, so write speed wins.
        .config("spark.hadoop.parquet.compression.codec.zstd.level", "1")
        # Input split size (r7, guide §6): the bench ships each table as
        # ONE parquet file with ~1M-row (~20 MB) row groups, so the
        # default 128 MB splits leave a 130 MB fact-table scan at 1-2
        # tasks; 32 MB splits let every row group scan in its own task
        # (measured: a1 1.23 -> 1.09 s, w2 0.41 -> 0.31 s at 10x bench
        # scale).  Splits never cut INSIDE a row group.  The cap also
        # splits the KG pass's reads of its many-file `pred=` stages one
        # task finer (perfbench claim_skew: 112 pass tasks at 32m, 109 at
        # the 128m default).  Deployments with many large files want
        # 128 MB - 1 GB (guide §6) via get_spark(extra_conf=...).
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # Generated-class cache (static; Spark's default is 100 entries,
        # LRU).  One default KG pass needs 146 distinct whole-stage and
        # expression classes, so at 100 each class is evicted before the
        # next pass asks for it and every warm pass recompiled 136-145
        # classes (~1.3-1.8 s of Janino compile time, 4 cores).  Working
        # set, measured with an unbounded cap in one session: 146 for a
        # default pass, +192 for the optional stages (curate,
        # triples_by_subj, graph_stats, table_stats, export_rdf), +637
        # for the 50 driver queries: 999.  The cap leaves 2x headroom for
        # ~6 MB of Metaspace (184 vs 178 MB with 725 classes cached); over
        # repeated passes it saves Metaspace, since the classes the default
        # cap evicts were never unloaded (171.5 vs 175.0 MB, five passes).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem or _derived_driver_mem())
    )
    if driver_mem:
        # An explicit heap is pinned (-Xms == -Xmx) and pre-touched: G1's
        # incremental heap expansion under allocation pressure causes
        # kernel-side page zeroing churn that serializes high-concurrency
        # Arrow exchange (measured: 5x slowdown of mapInPandas at local[32]
        # vs local[8] on a 32-core box before pinning).  The derived
        # default is not: a pinned heap must commit up front, which fails
        # when several JVMs share a small host.  On a real cluster the
        # same applies to executor JVMs: spark.executor.extraJavaOptions.
        b = b.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    if sc.master.startswith("local") and not sc.getConf().contains(_LISTING_THRESHOLD):
        # Above this many paths, file listing runs as a Spark job: a
        # ``pred=`` layout (~35 leaf dirs) pays a 35-task job per read.
        # Under a local master those tasks run in the driver JVM anyway,
        # and a local directory lists in tens of µs, so up to ~10^4 dirs
        # listing on the driver thread costs less than the job's fixed
        # cost.  A cluster master keeps Spark's default (listing fans out).
        spark.conf.set(_LISTING_THRESHOLD, "10000")
    return spark
