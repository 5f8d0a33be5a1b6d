"""SparkSession factory with the engine's standard tuning.

Local-mode defaults sized for this sandbox (one JVM, N threads); on a
real cluster the same config keys apply per executor. AQE is on so
skewed shuffles re-plan at runtime; Arrow is on because every geometry
/ image kernel crosses to Python in columnar batches.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession

# Arrow batch row count for JVM↔Python transfer, pinned against the
# PAYLOAD row size, not the metadata row size: the images table carries
# ~8 KB binary rows (sources/images: w·h·3 bytes ≈ 48×48×3 + headers),
# so 2048 rows/batch ≈ 16 MB Arrow buffers per Python worker — bounded
# even with 32 concurrent workers (~0.5 GB transient), where the 10k
# default would hold ~80 MB per worker (~2.5 GB). Metadata-only kernels
# lose nothing measurable: per-batch overhead is ~ms and even a 10^12-row
# job is throughput-bound, not batch-count-bound.
ARROW_BATCH_ROWS = 2048


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the --py-files mechanism).

    ``sc.addPyFile`` of a zip is exactly what ``spark-submit
    --py-files pkg.zip`` does; doing it here makes the engine work
    identically under local[
    N], a fresh driver process with any cwd, and a real cluster.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(spark.sparkContext._temp_dir, "osmnightwatch_spark.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, root))
        spark.sparkContext.addPyFile(zpath)


def _default_driver_mem() -> str:
    """Half of the host's physical memory, capped at 48g. The heap is
    only a ceiling, but the JVM grows into it before collecting, so a
    ceiling above RAM lets one session take the whole host."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(48 * 1024, int(line.split()[1]) // 2048)}m"
    except OSError:
        pass
    return "48g"


def get_spark(app: str = "osmnightwatch_spark", cores: int | None = None,
              shuffle_partitions: int | None = None, ui: bool = False,
              extra: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2× cores: enough slots for AQE to coalesce, not 200-way tiny tasks
        shuffle_partitions = max(cores * 2, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scan-split floor: cores/2 instead of the default (= cores).
        # Small tables then pack multiple files per split (one task
        # wave instead of 2-3 of 17 MB tasks — guide §2.2 "fewer,
        # larger map tasks", §6 input split size; measured 48→16 scan
        # tasks and flagship 2.1→0.8 s at sf0.1). Scale-adaptive, not
        # a local tune: for big inputs maxPartitionBytes (128 MB)
        # governs the split size and this floor is inert — e.g. the
        # 840 MB bytes-bearing scaling workload splits identically at
        # 2 and 8 cores before and after.
        .config("spark.sql.files.minPartitionNum", str(max(1, cores // 2)))
        # Let AQE re-coalesce stages above cached plans: the knn top-k
        # persist otherwise pins every post-shuffle stage at the full
        # static shuffle partition count (measured 4 × 64-task stages
        # over ~1k cached rows; knn 1.14→0.96 s with this on).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        # SPARK_GRAFT_DRIVER_MEM: deployment override of the RAM-sized default
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


class CacheScope:
    """Owns an operator's intermediate caches for one call.

    ``persist`` caches an intermediate; ``checkpoint`` eager-
    localCheckpoints one (iteration state that must cut lineage).
    Leaving the ``with`` block releases every intermediate still held,
    whether the call returned or raised, so no CacheManager entry or
    checkpoint block outlives the operator. ``release`` frees one
    early (a superseded round). The operator's own result is not
    tracked: it eager-checkpoints that inside the block, before the
    intermediates it reads are released.

    ``DataFrame.unpersist()`` is a no-op for localCheckpoints: the data
    lives in the checkpoint RDD's blocks, not the CacheManager, and is
    otherwise only freed when GC collects the RDD handle (measured:
    ``getPersistentRDDs`` keeps the entry after ``df.unpersist()``;
    unpersisting the ``LogicalRDD``'s backing RDD removes it).
    """

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame, bool]] = []

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        while self._held:
            self._free(*self._held.pop())

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append((df, False))
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        df = df.localCheckpoint(eager=True)
        self._held.append((df, True))
        return df

    def release(self, df: DataFrame) -> None:
        for i, (held, ckpt) in enumerate(self._held):
            if held is df:
                del self._held[i]
                self._free(held, ckpt)
                return

    @staticmethod
    def _free(df: DataFrame, ckpt: bool) -> None:
        if ckpt:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            df.unpersist()
