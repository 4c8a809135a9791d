"""SparkSession bootstrap with scale-aware defaults.

Local testing runs ``local[N]`` in one JVM, but every config here is chosen
so the same code is correct on a 1000-executor cluster: AQE on (runtime
re-plan, skew-join splitting, partition coalescing), UTC session timezone
(oracle parity — DuckDB timestamps are UTC-naive), Arrow enabled for the
Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    # AQE: runtime re-planning — coalesce small shuffle partitions, convert
    # sort-merge→broadcast when the built side turns out small, split skewed
    # partitions.  Essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic oracle comparison: DuckDB parquet timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Arrow batches for pandas_udf / applyInPandas / createDataFrame(pandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ...and for Python UDTFs: unset, every UDTF evaluates row-at-a-time
    # through pickle (BatchEvalPythonUDTF — the r16 registry UDF scan's
    # only two hits).  Arrow-batched UDTF eval is the same semantics over
    # columnar transfer; with it on, the registry carries ZERO
    # row-at-a-time Python nodes (standing invariant in plan_audit).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # ANSI off keeps permissive casts (reference semantics are permissive:
    # everything maps through a lossy 5-type system, SURVEY.md §1).
    "spark.sql.ansi.enabled": "false",
    # ...but size/cardinality of NULL must be NULL, not the legacy -1: with
    # ANSI off Spark defaults to sizeOfNull=-1, which silently turns every
    # size(tokens-of-null-text) into -1 where standard SQL (and DuckDB)
    # propagates NULL — the null-tier hostile sweep flagged nine queries on
    # exactly this.  SQL-standard null propagation, one engine-level switch.
    "spark.sql.legacy.sizeOfNull": "false",
    # Python Data Source filter pushdown is an ENGINE-LEVEL default, not an
    # ad-hoc per-read set (ADVICE r5 item 2 flagged the conf leak): the flag
    # is consulted at ACTION time by the data-source read planner, and a
    # reader that implements pushFilters() FAILS outright
    # (DATA_SOURCE_PUSHDOWN_DISABLED) if it is false then — so a try/finally
    # restore around load() breaks every lazy DataFrame the source returned
    # (pinned by test_pysource_pushdown_conf_is_action_time).  Declaring it
    # here makes the behavior uniform for every Python source in the session
    # instead of a surprise left behind by whichever read ran first.
    "spark.sql.python.filterPushdown.enabled": "true",
    # progress bars interleave with stdout in non-interactive runs
    "spark.ui.showConsoleProgress": "false",
    # Generated-class cache (static, JVM-wide).  Spark's default holds 100
    # classes; the 14 interactive headline queries alone need ~190, so the
    # cache evicted on every pass and each steady pass re-ran Janino on
    # 149-184 classes (and ran the new code un-JITted).  Sized to the whole
    # registry: one pass over all 375 queries at sf0.001 compiles 4,423
    # distinct classes and a second pass 215 more (code that embeds
    # data-derived literals, e.g. ann_recall_report, agg_kmv_theta_sketch),
    # so 8192 holds both with ~1.8x headroom.  Steady headline passes now
    # compile nothing.  Cost: Metaspace 71 -> 264 MiB over that registry
    # pass, against 245 MiB with the default (4 cores, 15.7 GiB; PERF.md).
    "spark.sql.codegen.cache.maxEntries": "8192",
}


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap default: half the host's RAM, capped at 16g.

    Hosts whose ``MemTotal`` is 32 GiB or more keep the 16g that every
    earlier measurement used; smaller hosts get half of ``MemTotal``, so
    the heap, Metaspace, off-heap buffers and the Python workers fit in
    physical memory together.
    """
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    half_mib = int(line.split()[1]) // 2048
                    return "16g" if half_mib >= 16 * 1024 else f"{half_mib}m"
    except OSError:
        pass
    return "16g"


def get_spark(
    app_name: str = "gcp_cloudsql_to_bigquery_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master=None`` respects an externally-provided master (cluster deploys,
    or the driver's own session); tests/bench pass ``local[N]`` explicitly.
    ``shuffle_partitions`` defaults to ``SPARK_GRAFT_CPUS`` (or 32) locally —
    on a real cluster leave it unset and let AQE coalesce from a high initial
    value instead.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # Size the single local JVM like a real executor.  Unset, pyspark's
    # gateway launches the driver with a 1 GiB heap — measured in r16:
    # with local[32] every concurrent task gets ~17 MB of execution
    # memory, the dedup/pack hash stages spill or OOM outright, and the
    # sf0.1 curation pipeline ran 2.7x slower than the same plan with a
    # right-sized heap (53.9 s -> 19.9 s).  On a cluster this knob is the
    # deploy's executor sizing and this default is inert (spark-submit /
    # cluster managers set driver+executor memory explicitly; a builder
    # conf cannot retro-size an already-running JVM).  Max-heap only —
    # the JVM commits pages as needed, so small tests stay small.  Capped
    # at half the host's RAM (default_driver_memory): a heap sized past
    # physical memory gets the JVM OOM-killed before Spark ever spills.
    if "spark.driver.memory" not in (extra_conf or {}):
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to a session we didn't build.

    The driver hands ``queries()`` callables an already-built session; session
    timezone and AQE flags are runtime-settable, so pin them here for oracle
    parity and plan quality.

    Static confs in ``DEFAULT_CONFS`` — ``spark.sql.codegen.cache.maxEntries``
    among them — are fixed when the JVM starts and are silently skipped
    here: a session the engine did not build keeps Spark's 100-class codegen
    cache.  A deploy that wants them passes them at submit time
    (``spark-submit --conf spark.sql.codegen.cache.maxEntries=8192``).
    """
    for k, v in DEFAULT_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — keep going
    return spark
