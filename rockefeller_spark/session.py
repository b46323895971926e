"""SparkSession construction with engine defaults.

Succeeds the reference's env/config dispatch
(``/root/reference/scripts/tools/db_connect.py:103-139``): there are no DB
credentials here — configuration is Spark configs, and the only knobs are
parallelism and shuffle sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Timezone is pinned to UTC so timestamps round-trip bit-identically
# between Spark, Parquet, pandas and the DuckDB oracle.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Persisted intermediates (sketch signatures, band tables, IVF index)
    # otherwise compile WITHOUT adaptive execution: every shuffle under an
    # InMemoryRelation runs at the static spark.sql.shuffle.partitions
    # fan-out regardless of data size. Letting AQE re-plan cached subtrees
    # coalesces those exchanges like any other (measured 2x on the
    # MinHash/SimHash pair queries; scale-neutral — on a big corpus the
    # partitions stay large and nothing coalesces).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # Timestamps written as INT64 micros so DuckDB/pandas read them exactly.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.shuffle.partitions": str(os.cpu_count() or 8),
    # Every table scan is handed its exact file paths from the manifests
    # (LakeTable.read). Above this many paths (Spark default 32) Spark
    # builds the scan's file index with a distributed listing job, one
    # task per path, just to stat files the manifests already name — so
    # every read of a table with >32 live files (MOR reads, compaction,
    # CoW target reads, catch-up chunks) paid a whole extra Spark job.
    # Measured at local[2] on a 4-vCPU VM (Spark 4.1, warm JVM), building
    # the DataFrame alone: over 63 paths 0.8 s wall and 2.6 s driver CPU
    # by default, 0.1 s and 0.2-0.3 s above the threshold; over 4 000
    # paths 28-29 s wall and 60 s CPU against 0.8 s and 2-2.5 s. The
    # cost grows linearly with the path count. In the cdcbench tail_mor
    # workload (33 files) it cut read CPU per op by 32 % (median of ten
    # interleaved pairs). Trade-off: the driver now stats the paths itself.
    # On a slow remote object store (one round trip per stat) with many
    # thousands of files per scan, that can cost more than a listing job
    # spread over executors; lower this conf per session there.
    # LakeTable raises the threshold on sessions built elsewhere too; the
    # entry stays here for reads outside LakeTable (WAL sources).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1000000",
    # local mode runs everything in the driver JVM; the 1g default heap is
    # far too small for multi-million-row shuffles. Overridable via env.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


# Shuffle/spill scratch: in LOCAL mode route to tmpfs when it has room —
# the virtual disk of a 4-vCPU development VM throttled the first heavy
# write burst (measured ~10% on the apply wall's best runs, interleaved
# A/B);
# RAM-backed shuffle is safe at local-mode working-set sizes and the
# dirs are removed on session stop. NEVER defaulted on a cluster:
# executors there get real local disks from the cluster manager, and
# a 100-TB shuffle must not land in RAM.
_SHM_DIR = "/dev/shm/rk-spark-local"
_SHM_MIN_FREE_BYTES = 2 << 30


def _scratch_dir(master: str) -> str | None:
    """The ``spark.local.dir`` default for ``master``, or None for Spark's
    own: ``SPARK_GRAFT_LOCAL_DIR`` if set, else the tmpfs dir when the
    session is local and ``/dev/shm`` has at least
    ``_SHM_MIN_FREE_BYTES`` free."""
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        return local_dir
    if not master.startswith("local"):
        return None
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize < _SHM_MIN_FREE_BYTES:
            return None
        os.makedirs(_SHM_DIR, exist_ok=True)
    except OSError:
        return None
    return _SHM_DIR


def get_spark(app_name: str = "rockefeller_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. At cluster scale the same code ships via
    ``spark-submit --py-files`` and ``master`` is left to the submitter.

    In local mode shuffle and spill scratch (``spark.local.dir``) goes to
    ``/dev/shm`` when it has at least 2 GiB free (see
    :func:`_scratch_dir`). Caveat for containers: their ``/dev/shm`` is
    often a small tmpfs (64 MB by default under Docker) and counts
    against the container's memory limit, so a shuffle larger than the
    free space fails, and scratch left by a crashed JVM stays pinned in
    RAM. Set ``SPARK_GRAFT_LOCAL_DIR`` (or ``spark.local.dir`` in
    ``extra_confs``) to a disk path there.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(ENGINE_CONFS)
    local_dir = _scratch_dir(master)
    if local_dir:
        confs["spark.local.dir"] = local_dir
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
