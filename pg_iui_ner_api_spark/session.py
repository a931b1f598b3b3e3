"""SparkSession factory with scale-oriented defaults.

All knobs here are plain public Spark conf. They are chosen for the
100 TB target (AQE on, skew-join splitting on, nested-schema pruning so
media-only queries never read ``spans.text``), then sized down by the
caller for local tests via ``shuffle_partitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import re


def _jvm_opt_family(opt: str) -> str:
    """Collision key for a JVM option: any ``-XX:[+-]Use*GC`` flag is the
    single "GC collector" family; otherwise the flag/name without its
    sign or value (so a user-set ``-XX:+UseAdaptiveSizePolicy`` blocks our
    ``-XX:-...`` and ``-Xms4g`` blocks ``-Xms20g``)."""
    if re.fullmatch(r"-XX:[+-]Use\w*GC", opt):
        return "GC"
    m = re.match(r"-XX:[+-]?([A-Za-z]\w*)", opt) or re.match(r"-(Xms|Xmx|Xmn)", opt)
    return m.group(1) if m else opt


def _gib(mem: str) -> float:
    """'20g'/'2048m' → GiB (defensively: unparseable → inf, so the -Xms
    pin is skipped rather than risked)."""
    m = re.fullmatch(r"(\d+)([gGmM])", mem.strip())
    if not m:
        return float("inf")
    return int(m.group(1)) * (1.0 if m.group(2) in "gG" else 1.0 / 1024)


def _host_mem_gib() -> float:
    """MemAvailable from /proc/meminfo in GiB (0.0 if unreadable)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except OSError:
        pass
    return 0.0


def get_spark(
    app_name: str = "pg-iui-ner-api-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default:
    the CPUs this process may run on) so the same entrypoints serve
    pytest, perfbench and spark-submit; on a real cluster the caller
    simply omits ``master`` and lets spark-submit supply it.
    ``shuffle_partitions`` defaults to 32, whatever the core count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # Each Python UDF worker inherits this env; numpy/BLAS default to
    # ncpu threads PER WORKER, so N workers oversubscribe N*ncpu threads
    # and throughput collapses as parallelism grows. One BLAS thread per
    # worker — Spark supplies the parallelism.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Throughput GC: G1's concurrent refinement anti-scales badly on
    # virtualized hosts (measured 2x wall-clock at local[32] on this
    # sandbox); ParallelGC is the right choice for batch ETL anyway.
    # Heap shape matters as much as the collector here (r2 findings):
    #   * -Xms == -Xmx: an adaptively GROWING heap fires "Ergonomics"
    #     FULL GCs on every resize — measured 13-29 s pauses each on
    #     this bandwidth-throttled microVM (74-121 s of a ~170 s run);
    #     with a fixed heap the only fulls left are tiny startup
    #     Metadata ones, removed by MetaspaceSize.
    #   * NewRatio=1 + adaptive sizing off: task/Arrow garbage is
    #     short-lived; a large, stable young gen keeps it out of the
    #     old gen entirely.
    #   * ParallelGCThreads=8: 32 GC threads hammering memory together
    #     trip the host's bandwidth throttle; 8 threads collected the
    #     same young gens at equal wall with ~1000 fewer CPU-s.
    # SPARK_SUBMIT_OPTS reaches the driver JVM that pyspark launches.
    mem = os.environ.get("SPARK_DRIVER_MEM", "20g")
    # -Xms == -Xmx is only safe when the host can actually back the full
    # heap; on a smaller box a pre-committed 20g heap would abort JVM
    # startup where a lazily-grown one worked. Pin only when MemAvailable
    # comfortably covers it (or the user opts in via SPARK_DRIVER_MEM).
    pin_xms = "SPARK_DRIVER_MEM" in os.environ or _host_mem_gib() >= _gib(mem) + 4
    opts = [
        "-XX:+UseParallelGC",
        *([f"-Xms{mem}"] if pin_xms else []),
        "-XX:NewRatio=1",
        "-XX:-UseAdaptiveSizePolicy",
        "-XX:ParallelGCThreads=8",
        "-XX:MetaspaceSize=256m",
    ]
    # Append each option only if the user hasn't already set one of the
    # same family — never drop the whole block because of one override.
    cur = os.environ.get("SPARK_SUBMIT_OPTS", "")
    have = {_jvm_opt_family(t) for t in cur.split()}
    add = [o for o in opts if _jvm_opt_family(o) not in have]
    if add:
        os.environ["SPARK_SUBMIT_OPTS"] = (cur + " " + " ".join(add)).strip()
    if shuffle_partitions is None:
        # not the core count: one partition per core cut kg_workdir_wide
        # 357 -> 233 docs/s on a 4-core host, where 32 was measured
        shuffle_partitions = 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime re-planning, skew-join splitting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Arrow: the JVM<->Python boundary for every pandas UDF
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # --- nested column pruning: media-only queries must not read spans.text
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # --- parquet scan sizing (128 MiB splits, the cluster default)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode runs every executor thread inside the driver JVM, so
        # the driver heap carries all task memory + caches; sized with a
        # matching -Xms above (fixed heap — see the GC note)
        .config("spark.driver.memory", mem)
        # executors on a real cluster get the same GC shape (minus -Xms,
        # which the cluster manager sets via spark.executor.memory)
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+UseParallelGC -XX:NewRatio=1 -XX:-UseAdaptiveSizePolicy "
            "-XX:ParallelGCThreads=8 -XX:MetaspaceSize=256m",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
