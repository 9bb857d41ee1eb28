"""Tuned SparkSession factory.

The reference has no execution-engine configuration beyond dask chunk sizes
(``constants.py:61`` TILE_SIZE=2048). Here the equivalent knobs are Spark SQL
configs: AQE (runtime re-plan + skew-join splitting), shuffle partition count
sized to cores, Arrow for the pandas-UDF pixel path, UTC session time zone so
DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# At 100 TB scale these would be cluster-level spark-submit confs; the values
# below are the local[nCores] equivalents of the same strategy:
#  - shuffle partitions ~ cores locally (cluster: 2-3x total cores),
#  - AQE on so skewed cell keys get split at runtime,
#  - Arrow batch sized so a batch of 2048x2048 uint16 tiles stays ~tens of MB.
_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batches are BYTES-bounded (Spark 4 maxBytesPerBatch, 64 MB):
    # fat tile rows (8 MB of 2048² uint16) batch a few rows at a time, thin
    # image/doc rows batch by the hundreds. The old maxRecordsPerBatch=64
    # cap was redundant for the fat rows (bytes bound dominates) and
    # throttled the thin-row tables — the image-table Arrow pipe alone
    # dropped 5.9 s -> 2.3 s at sf1.0 when the record cap stopped binding.
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.parquet.compression.codec": "zstd",
    # split pixel-table scans finely so the decode stage is natively
    # parallel and the engine's safety repartition (a full exchange of the
    # image bytes) can skip itself
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "48g",
}

# local-mode shuffle spill dir: tmpfs when available (the local analogue of
# cluster NVMe shuffle volumes) — the tile pipeline moves GBs through the
# mosaic shuffle and disk-backed /tmp throttles it
for _d in ("/dev/shm", None):
    if _d is not None:
        import os as _os

        if _os.path.isdir(_d) and _os.access(_d, _os.W_OK):
            _DEFAULTS["spark.local.dir"] = _os.path.join(_d, "spark-local")
            break


#: one BLAS thread per Python worker — Spark provides the parallelism; a
#: multithreaded BLAS inside each of N workers oversubscribes N*cores
#: threads and collapses throughput (measured: 2.6x slowdown at local[32])
_BLAS_VARS = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}


def get_spark(
    app_name: str = "xcube_stac_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, and to ``local[*]``
    (one task slot per CPU of the machine) when that variable is unset, so a
    local run never oversubscribes the box.
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    for k, v in _BLAS_VARS.items():
        os.environ.setdefault(k, v)  # local mode: workers fork from driver env
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    # shuffle partitions track core count (cluster rule-of-thumb 2-4x total
    # cores); AQE coalesces small stages back down, so over-provisioning is
    # cheap while big reduce stages (the mosaic) get balanced waves
    m = re.fullmatch(r"local\[(\d+|\*)\]", master or "")
    if m:
        n = os.cpu_count() if m.group(1) == "*" else int(m.group(1))
        conf["spark.sql.shuffle.partitions"] = str(max(32, n * 4))
    for k, v in _BLAS_VARS.items():
        conf[f"spark.executorEnv.{k}"] = v  # cluster mode: executor JVM env
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
