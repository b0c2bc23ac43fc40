"""SparkSession factory with scale-oriented defaults.

The session is tuned for the execution model this engine targets:
a large multi-executor cluster scanning Parquet. On the test rig it
runs ``local[N]`` but every setting below is chosen to survive a
1000-executor / 100 TB deployment:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — at 100 TB static shuffle sizing is
  always wrong somewhere.
- Session timezone pinned to UTC — all reference timestamps are
  ISO-8601 UTC strings (reference memory_engine.py:600-601); a
  floating timezone would silently shift decay math.
- Arrow enabled for the few pandas-UDF paths (embedding transforms,
  multimodal decode stubs).
- PySpark's DataFrame origin capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``F.*``/Column call is wrapped to record its Python call site
  in the JVM — about five py4j round trips per call (an active-session
  lookup, a conf read, an origin set/clear pair) plus a Python stack
  walk. A search builds its plan from hundreds of such calls: on a
  4-core host the capture took building a warm indexed search's plan
  from ~1,200 to ~2,700 py4j commands and added ~150 ms to a search of
  ~1.4 s, all on the driver before any Spark job runs. What is lost is
  the Python file and line in a DataFrame error's query context; the
  JVM error itself (class, message, the failing expression) is
  unchanged. PySpark caches the flag per process, read from the
  session active at the first wrapped call, so it holds in processes
  whose session comes from this factory; a caller's own session (such
  as the ``__spark_entry__`` driver's) keeps PySpark's default.

:func:`local_frame` is the one way small driver-built rows (query
terms, PPR rank vectors, empty-table frames) enter a plan.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "memories-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no per-call Python origin capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MB input splits: good default for wide parquet scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Long-lived-driver heap hygiene. A serving driver (and the
        # 46-minute test session) runs tens of thousands of SQL
        # executions in one JVM; the status store retains the last
        # 1000 of them INCLUDING each one's full physical-plan string
        # — this engine's hybrid plans render to ~100 KB-1 MB each, so
        # the default retention alone can pin gigabytes. Round 6
        # reproduced the round-5 "unreproduced" full-suite flake as
        # exactly this: java.lang.OutOfMemoryError storing a broadcast
        # ~33k jobs in, with every test passing in isolation. Cap the
        # retained history (it exists only for post-hoc UI/REST
        # inspection, which headless runs never read) and bound plan
        # stringification.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.maxPlanStringLength", str(1024 * 1024))
        # ContextCleaner reclaims broadcast/RDD blocks only after the
        # driver GC enqueues their weak refs; 30 min (the default) is
        # longer than most serving sessions stay under pressure —
        # tighten so a long session's dead broadcasts actually free.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.sql.parquet.filterPushdown", "true")
        # FAIR scheduling: this engine runs mixed workloads in one
        # session (serving queries, maintenance jobs, streaming
        # micro-batches). Under FIFO a streaming micro-batch queues
        # behind every previously submitted batch job and a loaded
        # session can starve it past any drain timeout. The mode alone
        # is NOT enough — without an allocation file every job lands
        # in one FIFO-internal 'default' pool — so the shipped
        # fairscheduler.xml makes the default pool FAIR-internal and
        # defines a 'streaming' pool (with minShare) that streaming
        # sinks start their queries under (streaming/events.py).
        .config("spark.scheduler.mode", "FAIR")
        .config(
            "spark.scheduler.allocation.file",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "fairscheduler.xml"),
        )
        # Map-patch semantics: metadata overlays (PATCH, import
        # markers, policy evidence) want last-writer-wins on key
        # clash. The expression layer already strips clashing keys
        # before map_concat (engine._patch_map) so results are exact
        # under any policy; LAST_WIN here is defense in depth for
        # ad-hoc map_concat in user SQL against this session.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # stop() on a wedged stream must not block forever (default
        # stopTimeout is unbounded) — the strict drain path stops and
        # raises, and the raise must win.
        .config("spark.sql.streaming.stopTimeout", "60s")
    )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list, schema: str | T.StructType
) -> DataFrame:
    """Small driver-local rows as a JVM ``LocalRelation``.

    A plain ``createDataFrame(list)`` parallelizes into a
    PYTHON-evaluated RDD, so every reference to it — broadcast builds,
    tiny unions, each downstream consumer — spawns Python worker
    tasks, and even an empty frame is an opaque RDD scan the optimizer
    cannot prune. Handing Spark an Arrow table instead yields a true
    ``LocalTableScan``: JVM-only, zero tasks, broadcastable without a
    job, foldable by the optimizer (an empty one propagates through
    joins), and exact (int64/float64 cross the boundary bit-for-bit).
    This path needs no Arrow session config, so it holds on a vanilla
    session too. ``rows`` are tuples in ``schema`` field order."""
    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, row)) for row in rows],
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, struct)
