"""SparkSession factory and table loading.

The reference's local-debug entry point is a Flink MiniCluster
(``ExecutionEnviromentreadTextFile创建DataSource分析.md:115-159``); Spark's
equivalent is ``master("local[N]")`` (SURVEY.md §2.3). The tuning below is
the 100 TB posture scaled to local mode:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces
  hand-tuned parallelism the reference notes manage via slots/splits
  (``NOTES:69-72,98-100``).
- Arrow on — every Python<->JVM hop is Arrow-batched, never per-row.
- shuffle partitions sized to the box, not the 200 default; on a real
  cluster this scales with executor count and AQE coalesces the rest.
- UTC session timezone so event-time semantics are deployment-independent.
- codegen cache of 4096 classes, not 100: a registry pass generates ~2,000,
  and an evicted class is recompiled on every repeated execution.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables generated by the driver (TESTDATA.md).
TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "flink-note-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (the driver's contract) or
    all cores. Re-invocation returns the existing session (Spark semantics).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(str(cpus)), 8)
        except ValueError:
            shuffle_partitions = max(os.cpu_count() or 8, 8)

    # Change-guarded worker daemon (r14, guide §4): pyspark workers call
    # importlib.invalidate_caches() once per task, and CPython's
    # zipimporter re-reads pyspark.zip's whole central directory on
    # every call — measured ~70–90 ms of a ~150–210 ms fixed per-task
    # overhead on EVERY Python stage (see fastdaemon module docstring).
    # Local masters run workers on this machine, so the repo is made
    # importable to them via PYTHONPATH before the JVM is launched. When
    # a SparkContext is already running, getOrCreate returns it and
    # ignores the conf below, so the process environment is left alone.
    # On a cluster, ship the package with --py-files and set the conf
    # explicitly; defaulting it there would break executors that don't
    # have the package.
    if SparkContext._active_spark_context is None:
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pp = os.environ.get("PYTHONPATH", "")
        if repo_root not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                repo_root + (os.pathsep + pp if pp else "")
            )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Row-at-a-time Python UDFs (the documented slow path) at least
        # get Arrow batch transport instead of pickled rows (~2-3×).
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # static conf, read once at JVM launch (see module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Streaming state at scale: RocksDB, not the in-memory HDFS store
        # (reference keeps streaming state in RocksDB managed memory —
        # flink_arch-Flink memory.png; SURVEY.md §4).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    # see the PYTHONPATH note above — local masters only. The env knob
    # is the escape hatch AND the A/B instrument: a session-level change
    # cannot be paired inside one session (both sides would share the
    # same daemon), so the honest compare is alternated whole processes
    # with/without SPARK_GRAFT_STOCK_DAEMON=1.
    if not os.environ.get("SPARK_GRAFT_STOCK_DAEMON"):
        builder = builder.config(
            "spark.python.daemon.module", "flink_note_spark.fastdaemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: Per-session DataFrame cache: building a parquet DataFrame lists files
#: and reads footers eagerly; queries re-loading the same table (and
#: benchmarks timing them) should pay that once per session, not per
#: call. Weakly keyed by the session OBJECT (not id(), which CPython can
#: reuse after GC) so entries die with their session and a new session
#: can never receive plans bound to a stopped context. This caches the
#: *plan*, not data — executors still scan parquet per action.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated parquet table (plan-cached per session).

    Maps the reference's bounded file scan (``readTextFile`` →
    ``FileInputFormat.createInputSplits``, ``NOTES:53-101``) onto Spark's
    ``FileSourceScanExec``: splits, open-once-per-partition and vectorized
    decode are built in (SURVEY.md §3.3).
    """
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    per_session[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) (FIXTURES.md), which Spark's
        # vectorized reader rejects by default. Read nanos as long (runtime
        # session conf, restored afterwards so the flag never leaks into
        # other reads on the shared session) and floor to microsecond
        # timestamps, matching DuckDB's epoch_us() floor of timestamp_ns
        # even for pre-epoch values (`div` alone truncates toward zero).
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            if dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")),
                )
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables; also registers each as a temp view for SQL entry."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
