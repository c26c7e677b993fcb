"""SparkSession factory tuned for this engine (local-mode test harness).

On a real cluster the same settings apply minus driver memory; AQE stays on
for runtime coalescing/skew handling, Arrow stays on for the pandas-UDF
kernels (the mandated vectorized path — BASELINE.json input_hint).

Per-task Python floor: every Spark Python task ends its set-up with
``importlib.invalidate_caches()``. Before CPython 3.12 that re-reads the
central directory of every zip on the worker's path at once: 16 reads of
``pyspark.zip``, the spark-core jar and py4j in a reused worker, ~0.47 s of a
~0.5 s no-op ``mapInArrow`` task, paid by every stage that runs Python, on
every task. ``zipimport_guard`` (imported by the package, so installed in a
worker by the first engine function it unpickles) re-reads an archive only
when its mtime, size or inode changed. It is a no-op on CPython >= 3.12,
where the re-read is lazy, and needs no conf key.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .constants import DEFAULT_SHUFFLE_PARTITIONS


def get_spark(
    app_name: str = "nyu_search_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(
        DEFAULT_SHUFFLE_PARTITIONS, cores
    )
    # glibc malloc: keep numpy's large kernel temporaries in the arena
    # instead of mmap/munmap per call — the vectorized tokenizer/assembly
    # kernels allocate tens of MB per Arrow slice, and returning those
    # pages to the OS on every free re-faults them on the next slice
    # (measured: 89k -> 8k minor faults and ~20% kernel wall on the
    # tokenizer microbench). Set in the driver env BEFORE the JVM spawns
    # (local-mode Python workers inherit it) and as executorEnv for real
    # clusters. General Linux/glibc behavior, not a local[] tuning.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, str(512 * 1024 * 1024))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 8g, NOT "most of the machine": this sandbox's host fast-backs
        # only ~16 GiB of guest memory — first-touch minor faults cost
        # ~3.5us below that watermark and 165-900us above it (measured,
        # BENCH/BASELINE.md "host memory cliff"). A 48g heap let the JVM
        # balloon past the cliff on big builds, after which EVERY fresh
        # page (heap, python workers, page cache) crawled kernel-bound;
        # 8g heap + N pyspark workers + page cache stays under it (a 12g
        # heap measured 17 GiB total RSS — still over). On a real
        # cluster, size executors to physical memory as usual.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # lz4 for serialized cached blocks (DISK_ONLY intermediates).
        # Hypothesis was that compressing the build's DISK_ONLY caches
        # trades fixed disk I/O for CPU (which scales); the interleaved
        # 1M-doc A/B (BENCH/CACHE_COMPRESS_AB_1M.md) measured ON/OFF =
        # 0.989 — a wash, below the pre-registered >=1.03 flip
        # threshold — so the default stays Spark's own (false). The env
        # knob remains for box-specific tuning where disk is slower.
        .config("spark.rdd.compress",
                os.environ.get("SPARK_GRAFT_RDD_COMPRESS", "false"))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                os.environ["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                os.environ["MALLOC_TRIM_THRESHOLD_"])
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
