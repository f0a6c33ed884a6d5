"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE (runtime re-planning, skew-join
handling, partition coalescing) and Arrow-batched Python execution are the
knobs that matter at 100 TB.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark Python workers.

    Pandas-UDF closures (applyInPandas/mapInPandas operators) are pickled by
    reference to this module, so workers must be able to import it. The
    driver process may have loaded us from a bare sys.path entry (no
    install), so zip the package source and addPyFile it — idempotent per
    SparkContext. On a real cluster this is exactly how the engine ships:
    one small zip broadcast to every executor.
    """
    sc = spark.sparkContext
    if getattr(sc, "_qssa_pkg_shipped", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / f"qssa_pkg_{os.getpid()}.zip"
    # always rebuild: a recycled PID (or an in-process source edit) must
    # not ship a stale snapshot to workers — zipping a few hundred KB is
    # cheaper than a silent driver/worker code mismatch
    with zipfile.ZipFile(zpath, "w") as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, arcname=str(Path(pkg_dir.name) / py.relative_to(pkg_dir)))
    sc.addPyFile(str(zpath))
    sc._qssa_pkg_shipped = True


def get_spark(app_name: str = "quickstart_streaming_agents_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    - ``spark.sql.adaptive.*``: AQE re-plans at runtime — coalesces tiny
      shuffle partitions at small SF and splits skewed ones at large SF.
    - ``spark.sql.session.timeZone=UTC``: parquet fixtures are UTC; DuckDB
      oracle comparisons require identical wall-clock rendering.
    - Arrow enabled: every pandas UDF (ml_predict, anomaly detection,
      vector search) moves data in columnar batches, not pickled rows.
    - shuffle partitions default to the local core count; on a real
      cluster this is overridden via spark-submit conf (AQE coalescing
      makes the initial number far less critical). Streams get no AQE
      coalescing: ``StreamCatalog`` starts each streaming CTAS at its
      topics' partition count instead.
    - ``spark.sql.streaming.checkpointFileManagerClass``: Spark's
      FileSystem-based manager. The default FileContext manager renames
      through ``AbstractFileSystem.renameInternal``, which on ``file:``
      checks the destination with ``FileUtil.readLink`` and so forks a
      ``readlink`` process per atomic checkpoint write (offset, commit,
      source and sink logs, state delta and checksum files) when Hadoop
      has no native IO: 28 ms a 300-byte write, against 7 ms through
      this manager (idle JVM, 4 vCPUs). That check-then-rename is no
      more atomic on ``file:`` than this manager's ``exists`` +
      ``rename``, and on HDFS ``FileSystem.rename`` refuses to
      overwrite, so a second writer of a batch id is still refused;
      ``.crc`` and checksum files are written as before. It is
      session-wide because a stream's source log is created after its
      ``start()`` returns.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        .config("spark.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        # stderr stage-progress bars flooded the driver's 2000-byte tail
        # capture in round 3 — keep benchmark/driver output machine-clean
        .config("spark.ui.showConsoleProgress", "false")
        # wide scans must render every attribute or plan assertions on
        # column pruning go vacuous behind '... N more fields' elision
        .config("spark.sql.debug.maxToStringFields", "200")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
