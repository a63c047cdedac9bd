"""SparkSession factory with scale-appropriate defaults.

Tests and benchmarks run local[N] on one host; the design point is a
multi-executor cluster reading ~10^12 turns. Every config below is chosen to
be correct at both scales (AQE re-plans partition counts at runtime, so the
static shuffle-partition number is a ceiling, not a schedule).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] width: SPARK_GRAFT_CPUS, else the cores this process may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "transcriptpipe",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Notes on individual settings:

    * AQE on + coalescePartitions + skewJoin: runtime re-planning is the
      first line of defense against skew/small-partition waste at 100TB.
    * ``spark.sql.session.timeZone=UTC``: the reference formats event time in
      localtime (/root/reference/lib/conv_buf.c:400); we standardize on UTC
      (documented divergence, SURVEY.md §7.3.5) and it makes the DuckDB
      oracle comparison exact.
    * Arrow enabled: all pandas UDFs are vectorized Arrow transfers.
    * ``mapKeyDedupPolicy=LAST_WIN``: kv-parse builds maps from regexp token
      streams; a malformed row must not kill the stage (errors are routed,
      never thrown — SURVEY.md §2.9 "backpressure/errors").
    """
    cpus = cpus or DEFAULT_CPUS
    # shuffle/spill files on tmpfs when available: the sandbox's /tmp is a
    # single virtual disk shared by every parallelism level, which a real
    # cluster would scale with its nodes (per-executor NVMe)
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # the conv_id exchange's starting partition count (pipeline.exchange
        # names none) and its floor: AQE coalesces only partitions under its
        # 1 MB minPartitionSize, so a small input renders in a few Python
        # tasks and a large one in 2 waves per core, not 1.5 (measured at
        # local[4], 1.35M turns with hot conversations: 6 coalesced render
        # tasks ran 20% slower than 16, and a floor of 8 no slower than 16).
        # minPartitionNum is deprecated in Spark 4 but still read; without
        # it the floor is defaultParallelism.
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
                str(max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for the mapInPandas render stage: transcript rows
        # are narrow (~100 B), so the 10k default makes per-batch overhead
        # (pandas construction, group-carry bookkeeping, IPC framing) a
        # visible fraction of the kernel. 30k rows ≈ 3 MB/batch — measured
        # ~10% faster warm and ~2x faster first run at 1.1M turns, still
        # tiny per-worker memory; lower it through extra_conf for wider rows
        # (guide: raise maxRecordsPerBatch for narrow data, lower for wide).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "30000")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # zstd beats snappy on the rendered-doc tables BOTH ways (measured on
        # the staged frame: 4.7s/48MB vs 7.1s/76MB): JSON/XML doc strings are
        # highly compressible, so the smaller write amortizes the codec. At
        # 100TB smaller files also mean cheaper shuffle/scan IO.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Scan-split size: the local bench reads a single ~300MB parquet file;
        # at the cluster default (128MB) that is 3 scan splits, so the
        # scan→parse→shuffle-write stage runs on 3 tasks NO MATTER how many
        # cores the "cluster" has — it was the round-1 scaling-efficiency
        # killer (a fixed serial stage at both N and 4N). 8MB keeps the scan
        # parallelism ≥ cores for sandbox-sized inputs; at 100TB (thousands
        # of files, millions of splits at any setting) raise it back through
        # extra_conf — split size trades task overhead, not parallelism,
        # once the input dwarfs the cluster.
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # collect_list runs in ObjectHashAggregate (docbatch's S6 log sinks,
        # the sql engine; the default render has no aggregation). The default
        # sort-based fallback threshold (128 keys/partition) forces a full
        # sort on any realistic key cardinality — measured 2-3x slower on a
        # collect_list coalesce. But an UNbounded threshold lets AQE-coalesced fat
        # partitions hold every group as Java objects (GC collapse at 32
        # concurrent tasks — measured). 64k groups/task ≈ 100MB object state:
        # hash-agg speed with sort-fallback safety.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
        # keep post-shuffle partitions small enough that grouped-object state
        # fits comfortably per task at high concurrency
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(32 * 1024 * 1024))
        # preallocate the heap: measured multi-run warm-in from heap growth
        .config("spark.driver.extraJavaOptions",
                f"-Xms{os.environ.get('SPARK_DRIVER_MEM', '8g')}")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
