"""SparkSession factory with pinned, scale-aware configuration.

The reference engines are single-process and implicitly multithreaded
(datatable fread, Polars kernels — SURVEY.md §4.2); the Spark analogue
is one local JVM with N executor threads. Every config below is chosen
so the same code runs unchanged on a 1000-executor cluster:

- AQE on: runtime partition coalescing + skew-join splitting replace
  hand-tuned shuffle partition counts at scale.
- shuffle.partitions defaults to the local core count for fixture-scale
  runs (SURVEY.md §7.5.5 — 200 default over-parallelizes tiny inputs);
  on a real cluster AQE re-coalesces upward from the initial number.
- Arrow enabled for every driver<->Python boundary (toPandas,
  pandas_udf, mapInPandas).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive-UTC).
- Generated-class cache at 1000 entries: a mixed workload compiles
  more distinct classes than the default 100 (the LLM-data mix about
  127), and every eviction is a Janino recompile on a later query.
- Driver heap defaults to half the host's RAM in whole GiB (1g..48g);
  ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Shuffle spill needs headroom; a tmpfs with less free space than this
# would fail mid-job with no-space errors, so fall back to /tmp.
_MIN_SHM_FREE_BYTES = 8 * 1024**3


def _default_local_dir() -> str:
    """tmpfs shuffle dir when /dev/shm has real headroom, else /tmp."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        try:
            if shutil.disk_usage("/dev/shm").free >= _MIN_SHM_FREE_BYTES:
                return "/dev/shm"
        except OSError:
            pass
    return "/tmp"


def _default_driver_memory() -> str:
    """Half of MemTotal in whole GiB, clamped to 1g..48g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{max(1, min(48, kb // 2 // 1024**2))}g"


def get_spark(
    app_name: str = "benchmark_pandas_vs_polars_vs_datatable_vs_tablesaw_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. Idempotent via getOrCreate."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # Resolve the local dir ONCE: calling _default_local_dir() twice
    # could set spark.local.dir and the transferTo gate inconsistently
    # if /dev/shm free space crosses the threshold between the calls,
    # and an env override pointing at a tmpfs SUBPATH (/dev/shm/spark)
    # must still get the tmpfs-specific transferTo tuning.
    local_dir = _default_local_dir()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Report bucketed scans' sortBy ordering (r12): Spark 3+
        # hides it by default (SPARK-28595); with it on, a scan whose
        # buckets are SINGLE-FILE (ensure_bucketed_specs repartitions
        # by the bucket keys to guarantee exactly that) satisfies a
        # sort-merge join's ordering requirement, so self-joins on
        # the bucket key plan with zero exchange AND zero sort
        # (tests/test_plans.py::test_ivf_within_list_nn_...).
        # Correctness-safe: multi-file buckets (e.g. after appends)
        # claim no ordering and keep their Sorts.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Local-mode shuffle files go to tmpfs when available AND it
        # has headroom (capacity-checked): a sort's shuffle write+fetch
        # is pure disk I/O on /tmp otherwise (the single-node stand-in
        # for a cluster's local NVMe shuffle dirs). Env-overridable.
        .config("spark.local.dir", local_dir)
    )
    if local_dir == "/dev/shm" or local_dir.startswith("/dev/shm/"):
        # sendfile(2) buys nothing on tmpfs shuffle dirs — the
        # user-space copy path is consistently ~25% faster on the
        # 30M-row sort (SCALE.md "Sort follow-up (round 5)", two A/B runs:
        # 1.34-1.46s vs 1.80-1.90s baseline). On disk-backed local
        # dirs (a real cluster's NVMe) transferTo's zero-copy is the
        # right default, so the override is tmpfs-gated.
        builder = builder.config("spark.file.transferTo", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
