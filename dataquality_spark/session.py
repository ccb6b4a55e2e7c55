"""SparkSession factory tuned for this engine.

Local-mode defaults follow the sandbox (local[32], single JVM); on a real
cluster only ``master`` changes — shuffle-partition sizing and AQE settings
carry over (SURVEY.md §4.4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataquality_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one BLAS thread per Python worker: task parallelism comes from Spark;
    # N workers × multithreaded OpenBLAS oversubscribes the host (measured:
    # local[32] UDF stages ran SLOWER than local[8] before this)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # glibc malloc: keep large (>=128KB default) allocations OFF the mmap
    # path so freed buffers are REUSED instead of munmap'd. Every numpy
    # temporary above the mmap threshold otherwise pays first-touch page
    # faults on EVERY allocation — measured 0.7s per 40MB temp on this
    # virtualized host (~17µs/page) vs 0.02s when the buffer is reused, a
    # 30× tax on each vectorized UDF batch. Env vars cover the JVM's
    # Python workers (inherited at fork); mallopt below covers THIS
    # process (glibc reads the env only at startup). Public glibc
    # tunables: M_MMAP_THRESHOLD=-3, M_TRIM_THRESHOLD=-1 (mallopt(3)).
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, str(1 << 30))
    try:
        import ctypes
        _libc = ctypes.CDLL("libc.so.6", use_errno=True)
        _libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        _libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:
        pass  # non-glibc platform: the env vars are simply inert
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N] → N threads; shuffle partitions ≈ 2×cores keeps tasks small
    # enough for AQE to coalesce without starving parallelism.
    if shuffle_partitions is None:
        # 'local[N,maxFailures]' is legal Spark syntax — parse only the
        # leading digits; '*' or anything non-numeric falls back to cpus
        import re as _re
        m = _re.search(r"\[(\d+)", master)
        shuffle_partitions = 2 * (int(m.group(1)) if m else cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle-partition SCALE rule: exchanges START wide and AQE
        # coalesces them to ~64MB by measured size. The static 2×cores
        # count is a floor, not a ceiling — with it alone, a shuffle-hash
        # build or a parquet-writing reduce task grows linearly with the
        # input and eventually OOMs (measured: 18M pages × 64 partitions
        # killed a 16g JVM in the dedup join-back's write stage; a
        # pre-join repartition(N) does NOT fix it — EnsureRequirements
        # collapses it to the conf count when aligning the join sides).
        # Small inputs coalesce back to a handful of tasks, so bench-scale
        # plans are unchanged.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                "1024")
        # honor the 64MB advisory target instead of maximizing parallelism:
        # with parallelismFirst (the default) AQE keeps near-1024 reducers
        # for any shuffle over ~1GB (1MB min-size floor), which turns the
        # wide start into pure task overhead on mid-size data; with it off,
        # reducer COUNT ∝ shuffle BYTES — the property that keeps both
        # small-query overhead and per-task memory bounded at every scale
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        # let AQE coalesce exchanges that sit UNDER a persist() too: with
        # the default (false), the last exchange below every cache point
        # is pinned at the 1024 wide start — each job touching the cached
        # frame re-pays a 1024-tiny-task stage. Measured on sf0.1 warm:
        # decontaminate 4.8s → 0.6s, token_drift → 0.45s, bpe_tokenize
        # 1.0s → 0.4s (every operator that persists a groupBy/distinct:
        # dsir bucket table, textrank edges, bpe word counts). Safe for
        # the correctness pins: a cache's physical layout is decided once
        # at materialization and all consumers read that same entry —
        # partition-invariance + resume tests gate this.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for the UDF stages: larger batches amortize the
        # JVM↔Python round-trip but grow the row queue the Arrow writer
        # buffers; measured sweep in BENCH/BASELINE.md (SURVEY §4.3(1)).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-bench sizing: inputs here are ~100MB-1GB, so the default 128MB
        # split would starve 32 cores; on a real cluster with TB-scale inputs
        # the default is right — this is a sandbox knob, not a design choice
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # session-catalog tables (bucketed writes, sources/bucketed.py) land
        # outside the repo; in-memory catalog, parquet files only
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/dq_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
